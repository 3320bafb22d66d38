package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-generated parquet fixtures (TESTDATA.md).
  *
  * All engine queries take `(spark, sfDir)` and read only these tables, so
  * the driver's DuckDB oracle sees byte-identical inputs. Parquet carries its
  * own schema (verified against FIXTURES.md §A); the vectorized reader +
  * Catalyst column pruning / predicate pushdown make these scans the cheap
  * part of every plan — at 100 TB the same `spark.read.parquet` call simply
  * fans out over more files/row-groups, so nothing here is local-mode-only.
  */
object Tables {
  /** A child of `s` with `s`'s current modifiable conf plus `overrides`:
    * `newSession()` shares the SparkContext and cached data but owns its
    * SQLConf, so a setting scoped to a child never mutates the caller's
    * session. One child per (parent, overrides), memoized WEAKLY (a
    * child holds no strong reference to its parent, so a stopped or
    * abandoned parent session and its children are both collectable — a
    * strong map would leak a SessionState per session in long-lived
    * JVMs; a fresh child per call would pay its session state's build
    * on every first query). Re-synced with the parent's conf on every
    * call, so later `spark.conf.set` calls on the parent (shuffle
    * partitions, session timezone) reach the child's plans instead of
    * freezing at first use.
    */
  private[graft] def childSession(
      s: SparkSession, overrides: (String, String)*): SparkSession = {
    val child = children.synchronized {
      children.computeIfAbsent(s, _ => new java.util.HashMap)
        .computeIfAbsent(overrides, _ => s.newSession())
    }
    val fixed = overrides.map(_._1).toSet
    s.conf.getAll.foreach { case (k, v) =>
      if (!fixed(k) && child.conf.isModifiable(k) &&
        !child.conf.getOption(k).contains(v)) child.conf.set(k, v)
    }
    overrides.foreach { case (k, v) => child.conf.set(k, v) }
    child
  }

  private val children = new java.util.WeakHashMap[
    SparkSession, java.util.Map[Seq[(String, String)], SparkSession]]

  /** `dir/name.parquet`, read through the schema its footer carries.
    * A bare `spark.read.parquet` runs a schema-inference Spark job on
    * every read, so the footer schema is inferred once per session and
    * file version and memoized (weakly, as [[childSession]]'s children
    * are; the path's modification time is part of the key, so a
    * rewritten fixture is inferred afresh). The footer stays the only
    * schema source: no declared copy can drift from the file.
    */
  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val p = new org.apache.hadoop.fs.Path(path)
    val mtime = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .getFileStatus(p).getModificationTime
    val memo = schemas.synchronized {
      schemas.computeIfAbsent(spark,
        _ => new java.util.concurrent.ConcurrentHashMap)
    }
    spark.read.schema(memo.computeIfAbsent((path, mtime),
      _ => spark.read.parquet(path).schema)).parquet(path)
  }

  private val schemas = new java.util.WeakHashMap[
    SparkSession, java.util.Map[(String, Long), StructType]]

  def region(s: SparkSession, d: String): DataFrame   = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame   = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame   = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  /** `events.ts` is parquet TIMESTAMP(NANOS), which Spark's vectorized
    * reader rejects outright (PARQUET_TYPE_ILLEGAL). Read it as a raw
    * nanosecond long (legacy conf) and rebuild a microsecond timestamp with
    * integer division — ns-since-epoch (~1.7e18) exceeds double's 2^53
    * mantissa, so float division would corrupt low-order digits.
    *
    * The legacy conf must still be set when the plan EXECUTES (the scan's
    * hadoop conf is captured at runtime, so an eager restore would break
    * the lazy plan), so it is scoped to a [[childSession]], and other
    * nanos-parquet reads in the caller's session keep their normal
    * semantics.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    val ns = childSession(s, "spark.sql.legacy.parquet.nanosAsLong" -> "true")
    // The fixture's physical `ts` type has changed across driver testdata
    // generations (TIMESTAMP(NANOS) → TIMESTAMP_NTZ), so branch on what the
    // file actually carries instead of assuming one encoding; all branches
    // normalize to a session-TZ TimestampType column so every downstream
    // plan (windows, as-of joins, sessionization) sees one stable type.
    // The branch reads the memoized footer schema: no Spark job.
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    val raw = table(ns, d, "events")
    raw.schema("ts").dataType match {
      case LongType =>
        // nanos-as-long (legacy conf above): rebuild micros with integer
        // division — ns-since-epoch exceeds double's 2^53 mantissa.
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        // NTZ wall time ≡ the DuckDB oracle's TIMESTAMP; cast to the
        // session-TZ instant type (Verify pins UTC) for downstream ops.
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw
    }
  }
  def documents(s: SparkSession, d: String): DataFrame =
    table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame =
    table(s, d, "embeddings")
}
