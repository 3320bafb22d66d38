package graft.plans

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.functions._

/** Document retirement for the persisted index artifacts — the
  * delete/tombstone/compact layer shared by the doc-keyed stores:
  * [[Bm25IndexStore]], [[TfidfIndexStore]], [[ShingleIndexStore]],
  * [[IvfIndexStore]], [[PqStore]] and the [[FingerprintIndexStore]]s
  * ([[AhashIndexStore]], [[VhashIndexStore]]). Every store, these and
  * the tombstone-free ones ([[AggStore]], [[LmStore]], [[ClsStore]],
  * [[BpeStore]], [[UnigramStore]]), publishes its builds through the
  * one [[Publish]] step, whose catalog [[Publish.swap]] compaction
  * shares. Before this layer the stores were build/load/extend-only: a
  * takedown, opt-out, or bad-batch rollback meant a full rebuild
  * (re-tokenizing / re-encoding the corpus). Now:
  *
  *   - `delete(ids)` appends the ids to a per-store TOMBSTONE table
  *     (`<table>_dead`) — no index file is touched; the write is
  *     id-batch-sized.
  *   - Every serve path consults the tombstones via a broadcast
  *     anti-join on the doc key ([[survivors]]): deleted docs vanish
  *     from candidates, scores, θ-seeds and results immediately. A
  *     store with NO tombstone table pays nothing (the anti-join is
  *     only planned when the table exists).
  *   - `compact()` makes the mask physical with FILE-GRANULAR
  *     copy-on-write, the [[SnapshotStore.deleteWhere]] discipline
  *     applied to catalog-table artifacts: files that contain no
  *     tombstoned row (found by an `input_file_name` probe — parquet
  *     row-group stats prune the scan on doc-sorted tables) are
  *     HARD-LINKED into the new artifact directory unchanged; only hit
  *     files are re-read, filtered, and rewritten through the original
  *     bucket spec. The old directory is never mutated (a live plan
  *     may have listed it — the [[Publish]] rule); the catalog swap
  *     ([[Publish.swap]]) is the publication point, and the tombstones
  *     are cleared only after every member table swapped.
  *
  * Frozen-stats semantics across delete (the family's standing extend
  * contract, extended): corpus-level statistics baked into the
  * artifact — BM25's df/n_docs/avgdl, tf-idf's df/N, IVF's centroids,
  * PQ/OPQ's codebooks and rotation — are NOT recomputed by delete or
  * compact. Surviving documents keep their build-time scores exactly
  * (a pair's BM25/cosine score depends only on its own postings, so
  * masking a doc never moves another doc's score); the stats drift
  * from the true corpus as deletions accumulate exactly as they do
  * under extension, and the documented knob is the same periodic
  * rebuild. What delete DOES guarantee: a tombstoned id can never
  * appear in any result, candidate set, θ-seed, admission probe, or
  * cap-tail candidate, through every orchestration (plain search,
  * distributed WAND, driver-planned WAND), and compaction removes its
  * rows physically — including rows re-appended for the same id
  * between the delete and the compact.
  *
  * Scale shape: tombstone volume between compactions is takedown-sized
  * by operational contract — the serve-time cost is one broadcast
  * anti-join per index-side scan. The driver-planned WAND path
  * additionally needs the dead set ON the driver; that collect is
  * cap-gated ([[DeadCollectCap]]) and an over-cap store simply
  * declines driver planning — the distributed orchestration's
  * anti-joins handle any tombstone volume.
  */
object Retire {

  def deadTable(table: String): String = s"${table}_dead"

  /** Driver-planned WAND needs the dead set as a predicate on the
    * driver; past this many tombstones the store declines driver
    * planning instead of collecting (the [[Bm25IndexStore]] cap
    * discipline).
    */
  val DeadCollectCap = 2000000L

  /** The tombstones live NEXT TO the artifact (`<main location>_dead`)
    * as an EXTERNAL table — a managed table would leave its warehouse
    * directory behind when a fresh session's in-memory catalog forgets
    * the registration, and the next create would refuse the location.
    */
  private def deadPath(spark: SparkSession, table: String): String =
    new org.apache.hadoop.fs.Path(spark.sessionState.catalog
      .getTableMetadata(TableIdentifier(table)).location).toString + "_dead"

  /** Tombstone `ids` (single Long key column named `keyCol`) for the
    * store anchored at `table`. Ids are materialized BEFORE the append
    * (they may derive from a read of the same artifact) and stored
    * de-duplicated against nothing — the anti-join is idempotent, so
    * repeat deletes of the same id are harmless.
    */
  def delete(
      spark: SparkSession, table: String, ids: DataFrame,
      keyCol: String): Unit = {
    val d = ids.select(col(keyCol).cast("long").as(keyCol))
      .localCheckpoint(true)
    if (!spark.catalog.tableExists(deadTable(table))) {
      val p = deadPath(spark, table)
      // an on-disk leftover whose registration a previous session's
      // catalog took with it is stale — sweep before the fresh create
      Publish.delete(spark, p)
      Publish.create(d, deadTable(table), p, None)
    } else Publish.append(d, deadTable(table))
  }

  /** The store's tombstones, or None when nothing was ever deleted
    * (the common case — costs one catalog lookup, no scan).
    */
  def dead(spark: SparkSession, table: String): Option[DataFrame] =
    if (!spark.catalog.tableExists(deadTable(table))) None
    else Some(spark.table(deadTable(table)))

  /** `df` with tombstoned keys masked out — a broadcast anti-join on
    * `keyCol` when tombstones exist, `df` unchanged otherwise.
    */
  def survivors(
      spark: SparkSession, table: String, df: DataFrame,
      keyCol: String): DataFrame =
    dead(spark, table) match {
      case None => df
      case Some(d) => df.join(
        broadcast(d.withColumnRenamed(d.columns.head, keyCol)),
        Seq(keyCol), "left_anti")
    }

  /** A reusable masking closure built from an ALREADY-COLLECTED dead
    * set — for callers (the driver-planned WAND kernels) that invoke
    * the mask several times per serve: [[survivors]] would re-scan and
    * re-broadcast the dead table at every site, while this
    * materializes the set once (localCheckpoint — a 16 MB block at the
    * 2M [[DeadCollectCap]]) and every downstream plan broadcasts from
    * those blocks, no parquet re-read.
    */
  def liveVia(
      spark: SparkSession, deadSet: Set[Long],
      keyCol: String): DataFrame => DataFrame =
    if (deadSet.isEmpty) identity
    else {
      import spark.implicits._
      val dd = deadSet.toSeq.toDF(keyCol).localCheckpoint(true)
      df => df.join(broadcast(dd), Seq(keyCol), "left_anti")
    }

  /** The dead set as a driver predicate for [[WandKernel]] pair
    * construction — None means "over cap, decline driver planning",
    * Some(empty) means "no deletions".
    */
  def deadSet(spark: SparkSession, table: String): Option[Set[Long]] =
    dead(spark, table) match {
      case None => Some(Set.empty)
      case Some(d) =>
        // ONE bounded job ([[WandKernel.boundedCollect]]), not
        // limit(cap+1).collect(): executeTake's incremental partition
        // scale-up costs up to four sequential jobs per serve — the
        // per-action latency the r12 loaded-window balloon multiplied
        import spark.implicits._
        WandKernel.boundedCollect(
            d.select(col(d.columns.head).cast("long")).as[Long],
            DeadCollectCap)
          .map(_.toSet)
    }

  /** Drop the tombstones — the last step of a store's compact, after
    * every member table has swapped to its physically-filtered form,
    * and of every [[Publish]]ed build, so a rebuilt artifact never
    * inherits stale deletions. The external files go too: a later
    * re-create at the same path must never resurrect cleared
    * tombstones.
    */
  def clear(spark: SparkSession, table: String): Unit =
    if (spark.catalog.tableExists(deadTable(table))) {
      val loc = spark.sessionState.catalog
        .getTableMetadata(TableIdentifier(deadTable(table))).location
      spark.sql(s"DROP TABLE IF EXISTS ${deadTable(table)}")
      Publish.delete(spark, loc.toString)
    }

  private def localPath(uri: java.net.URI): Path =
    Paths.get(uri.getPath)

  private def dataFiles(dir: Path): Seq[Path] = {
    val s = Files.list(dir)
    try s.iterator().asScala.filter { p =>
        val n = p.getFileName.toString
        n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith(".")
      }.toVector
    finally s.close()
  }

  /** The next compaction directory for an artifact member currently at
    * `loc`: strip any `_rc<N>` suffix back to the base name, then one
    * past the highest existing sibling. Deterministic (no clock), and
    * repeated compactions never collide with a directory a live plan
    * may have listed.
    */
  private def nextDir(loc: Path): Path = {
    val name = loc.getFileName.toString
    val base = name.replaceFirst("_rc\\d+$", "")
    val parent = loc.getParent
    val pat = java.util.regex.Pattern.compile(
      java.util.regex.Pattern.quote(base) + "_rc(\\d+)")
    val existing =
      if (!Files.isDirectory(parent)) Seq.empty
      else {
        val s = Files.list(parent)
        try s.iterator().asScala.flatMap { p =>
          val m = pat.matcher(p.getFileName.toString)
          if (m.matches()) Some(m.group(1).toInt) else None
        }.toVector
        finally s.close()
      }
    parent.resolve(s"${base}_rc${(existing :+ 0).max + 1}")
  }

  /** Physically drop tombstoned rows from ONE member table with
    * file-granular copy-on-write. Returns (hitFiles, keptFiles) — the
    * probe counts, for callers that assert or log the rewrite scope.
    * A member with no hit file is left ENTIRELY alone (no new
    * directory, no catalog churn).
    */
  def compactTable(
      spark: SparkSession, member: String, keyCol: String,
      deadIds: DataFrame): (Int, Int) = {
    val meta = spark.sessionState.catalog
      .getTableMetadata(TableIdentifier(member))
    val loc = localPath(meta.location)
    val files = dataFiles(loc)
    if (files.isEmpty) return (0, 0)
    val byName = files.map(p => p.getFileName.toString -> p).toMap
    val d = broadcast(
      deadIds.select(col(deadIds.columns.head).as(keyCol)))
    // which files actually contain a tombstoned row — parquet
    // row-group stats prune this probe on key-sorted members
    val hitNames = spark.read.parquet(loc.toString)
      .select(col(keyCol), input_file_name().as("__f"))
      .join(d, Seq(keyCol), "left_semi")
      .select("__f").distinct().collect()
      .map(r => Paths.get(
        java.net.URI.create(r.getString(0)).getPath)
        .getFileName.toString)
      .toSet
    if (hitNames.isEmpty) return (0, files.size)
    val hit = hitNames.toSeq.sorted.map(byName)
    val keep = files.filterNot(p => hitNames(p.getFileName.toString))
    val out = nextDir(loc)
    // survivors of hit files only, rewritten through the ORIGINAL
    // bucket spec so bucket-pruned consumers keep their exchange-free
    // plans; untouched files hard-link across unchanged (names carry
    // their bucket ids)
    val surv = spark.read.parquet(hit.map(_.toString): _*)
      .join(d, Seq(keyCol), "left_anti")
    val tmp = s"${member}__rctmp"
    Publish.create(surv, tmp, out.toString, meta.bucketSpec)
    keep.foreach(p => Files.createLink(
      out.resolve(p.getFileName.toString), p))
    Publish.swap(spark, tmp, member)
    (hit.size, keep.size)
  }

  /** Compact a whole store: every `(memberTable, keyColumn)` in turn,
    * then clear the tombstones. No-op without tombstones.
    */
  def compact(
      spark: SparkSession, table: String,
      members: Seq[(String, String)]): Unit =
    dead(spark, table).foreach { d =>
      val ids = d.localCheckpoint(true)
      members.foreach { case (m, k) =>
        if (spark.catalog.tableExists(m)) compactTable(spark, m, k, ids)
      }
      clear(spark, table)
    }
}
