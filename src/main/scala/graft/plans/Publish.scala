package graft.plans

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.catalog.BucketSpec

/** The one publication step of every persisted store: a build writes a
  * fresh version and swaps it in; it never takes away the version
  * readers are using.
  *
  * A store is a set of member tables (`table -> subdirectory`; the
  * first member anchors the store's [[Retire]] tombstones). A build
  * writes every member under the next `<path>/v<n>` directory, each
  * registered under a staging name while it is written, and only then
  * publishes: per member, the catalog [[swap]] drops the live
  * registration and renames the staging one in its place. Members the
  * new version did not write are dropped, and the tombstones are
  * cleared, after the swap. A build that fails part-way drops its
  * staging registrations and its version directory, so the live
  * version stays exactly as it was. Superseded versions stay on disk
  * for any plan that listed them until [[vacuum]]: overwriting a
  * directory in place corrupts reads two ways at once (the JVM-shared
  * file-status cache can serve the replaced listing — observed as
  * FAILED_READ_FILE on the overwritten part file every bench
  * iteration — and on an object store a concurrent reader sees a
  * half-deleted prefix). Consecutive versions double as the snapshot
  * history a CDC diff reads.
  *
  * Extension appends to the live members ([[append]]) under the bucket
  * spec the catalog holds, so an extend never restates a build-time
  * layout choice.
  */
private[graft] object Publish {

  private def isVersion(name: String): Boolean =
    name.length > 1 && name.startsWith("v") && name.drop(1).forall(_.isDigit)

  /** The version directories under `path`, oldest → newest. */
  def versionPaths(spark: SparkSession, path: String): Seq[String] = {
    val base = new Path(path)
    val fs = base.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(base)) Seq.empty
    else fs.listStatus(base).map(_.getPath)
      .filter(p => isVersion(p.getName))
      .sortBy(_.getName.drop(1).toInt)
      .map(_.toString).toSeq
  }

  private def nextVersion(spark: SparkSession, path: String): Int =
    versionPaths(spark, path).lastOption
      .fold(0)(p => new Path(p).getName.drop(1).toInt + 1)

  /** Delete superseded `v<n>` directories, keeping the newest `keep`
    * (≥ 1, so the live version is never removable). Returns the number
    * of versions removed.
    */
  def vacuum(spark: SparkSession, path: String, keep: Int): Int = {
    require(keep >= 1, "keep must retain at least the live version")
    val doomed = versionPaths(spark, path).dropRight(keep)
    doomed.foreach(delete(spark, _))
    doomed.length
  }

  /** Delete `dir` recursively, on whatever filesystem holds it. */
  def delete(spark: SparkSession, dir: String): Boolean = {
    val p = new Path(dir)
    p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
  }

  private def meta(spark: SparkSession, table: String) =
    spark.sessionState.catalog.getTableMetadata(TableIdentifier(table))

  /** The artifact root of the live `table`: the parent of the `v<n>`
    * directory its location lies in.
    */
  def root(spark: SparkSession, table: String): String =
    Iterator.iterate(new Path(meta(spark, table).location))(_.getParent)
      .takeWhile(_ != null).find(p => isVersion(p.getName))
      .getOrElse(sys.error(s"$table is not a versioned artifact"))
      .getParent.toString

  def bucketSpec(spark: SparkSession, table: String): Option[BucketSpec] =
    meta(spark, table).bucketSpec

  private def layout(w: DataFrameWriter[Row],
      spec: Option[BucketSpec]): DataFrameWriter[Row] =
    spec.fold(w) { s =>
      val b = w.bucketBy(s.numBuckets, s.bucketColumnNames.head,
        s.bucketColumnNames.tail: _*)
      if (s.sortColumnNames.isEmpty) b
      else b.sortBy(s.sortColumnNames.head, s.sortColumnNames.tail: _*)
    }

  /** Register `df`, written under `dir` and laid out by `spec`, as the
    * fresh table `table`: a build's staged member, a compaction's
    * rewrite before its [[swap]], or a store's first tombstones.
    */
  def create(df: DataFrame, table: String, dir: String,
      spec: Option[BucketSpec]): Unit = {
    df.sparkSession.sql(s"DROP TABLE IF EXISTS $table")
    layout(df.write, spec).option("path", dir).mode("overwrite")
      .format("parquet").saveAsTable(table)
  }

  /** One version being written: [[save]] writes a member under its
    * staging name, [[hold]] persists a frame until the build ends.
    */
  final class Version private[Publish] (spark: SparkSession,
      private[Publish] val dir: String, members: Map[String, String]) {
    private[Publish] val saved = ArrayBuffer.empty[String]
    private[Publish] val held = ArrayBuffer.empty[DataFrame]

    /** Write `df` as `member` of this version, bucketed by `spec`;
      * returns the staged table, for members derived from it.
      */
    def save(df: DataFrame, member: String,
        spec: Option[BucketSpec] = None): DataFrame = {
      val sub = members(member)
      saved += member
      create(df, staging(member), if (sub.isEmpty) dir else s"$dir/$sub", spec)
      spark.table(staging(member))
    }

    def hold(df: DataFrame): DataFrame = { held += df; df.persist() }
  }

  private def staging(member: String): String = s"${member}__staged"

  /** Write a new version of the store `members` under `path` and
    * publish it; see the header for the protocol.
    */
  def version(spark: SparkSession, path: String,
      members: Seq[(String, String)])(write: Version => Unit): Unit = {
    val v = new Version(spark, s"$path/v${nextVersion(spark, path)}",
      members.toMap)
    try write(v)
    catch {
      case e: Throwable =>
        v.saved.foreach(m => spark.sql(s"DROP TABLE IF EXISTS ${staging(m)}"))
        delete(spark, v.dir)
        throw e
    } finally v.held.foreach(_.unpersist())
    v.saved.foreach(m => swap(spark, staging(m), m))
    members.map(_._1).filterNot(v.saved.contains)
      .foreach(m => spark.sql(s"DROP TABLE IF EXISTS $m"))
    Retire.clear(spark, members.head._1)
  }

  /** The publication point: repoint `member` at the table registered as
    * `staged`. The old files stay for any live plan that listed them.
    */
  def swap(spark: SparkSession, staged: String, member: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $member")
    spark.sql(s"ALTER TABLE $staged RENAME TO $member")
    spark.catalog.refreshTable(member)
  }

  /** Append `df` to the live `member`, laid out by its catalog spec. */
  def append(df: DataFrame, member: String): Unit =
    layout(df.write, bucketSpec(df.sparkSession, member))
      .mode("append").format("parquet").saveAsTable(member)
}
