package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted, incrementally-refreshable grouped-aggregate state — the
  * rollup-table sibling of [[LmStore]]/[[ShingleIndexStore]]/the
  * Count-Min artifact, and the incremental-ETL shape of the reference's
  * cron model (`SANEF_Uploader.sh`, README.md:11-13): each recurring run
  * folds ONLY its new batch into the saved summary instead of
  * re-scanning the whole fact history.
  *
  * Why partial-aggregate state and not final values: the state per group
  * is the MERGEABLE quadruple (count, sum, min, max) — all four are
  * commutative monoids, so `merge(state(A), state(B)) == state(A ∪ B)`
  * exactly, the same linearity law the LM and Count-Min artifacts
  * exploit. Derived measures that are NOT mergeable (avg) are computed
  * from the state at read time, never stored — a stored avg would be
  * frozen to the wrong denominator the moment a batch arrived.
  *
  * Scale shape: the artifact is group-count-sized (|dims| rows), i.e.
  * MB-scale however many TB of facts it summarizes; `extend` aggregates
  * ONLY the new batch (one partial+final agg) and merges against the
  * |dims|-row saved state — the historical fact scan happens exactly
  * once, at `build`.
  */
object AggStore {

  /** Identifier-safe key for a dataset directory, shared by every
    * `_served` query that derives a catalog table + artifact path from
    * its input dir: 64 bits of md5 over the path — `String.hashCode`
    * (32 bits, weak mixing) can collide two different dirs onto one
    * artifact, silently serving one dataset's index to the other.
    * Stable across runs BY DESIGN: the stores' versioned-dir saves
    * make rebuilds safe, and a stable key is what lets a later query
    * in the same session reuse an already-built artifact (the
    * build-once/serve-many amortization the `_served` family
    * demonstrates).
    */
  def artifactId(dir: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8"))
      .take(8).map(b => f"$b%02x").mkString

  /** Mergeable state columns; everything else in the saved schema is a
    * grouping dimension — `extend`/`read` re-derive the dims from the
    * schema so callers can't desync them from what was built.
    */
  val StateCols: Seq[String] = Seq("n_rows", "sum_v", "min_v", "max_v")

  private def dimsOf(df: DataFrame): Seq[String] =
    df.columns.toSeq.filterNot(StateCols.contains)

  private def partials(
      df: DataFrame, dims: Seq[String], measure: String): DataFrame =
    df.groupBy(dims.map(col): _*)
      .agg(count(lit(1)).as("n_rows"), sum(measure).as("sum_v"),
        min(measure).as("min_v"), max(measure).as("max_v"))

  private def merge(a: DataFrame, b: DataFrame): DataFrame = {
    val dims = dimsOf(a)
    a.unionByName(b)
      .groupBy(dims.map(col): _*)
      .agg(sum("n_rows").as("n_rows"), sum("sum_v").as("sum_v"),
        min("min_v").as("min_v"), max("max_v").as("max_v"))
  }

  /** Aggregate `facts` by `dims` over `measure` and persist the state
    * table — the one full historical scan. Each save is a fresh
    * [[Publish]] version directly under `v<n>`, so the version
    * directories ARE the snapshot history: consecutive entries of
    * [[versionPaths]] diff into a change feed (see `q_rollup_cdc`).
    */
  def build(facts: DataFrame, dims: Seq[String], measure: String,
      table: String, path: String): Unit =
    Publish.version(facts.sparkSession, path, Seq(table -> ""))(
      _.save(partials(facts, dims, measure), table))

  /** Fold `batch` into the saved state: one agg over the batch only,
    * merged with the |dims|-row live version into the next version
    * beside it.
    */
  def extend(batch: DataFrame, measure: String, table: String): Unit = {
    val spark = batch.sparkSession
    val saved = spark.table(table)
    Publish.version(spark, Publish.root(spark, table), Seq(table -> ""))(
      _.save(merge(saved, partials(batch, dimsOf(saved), measure)), table))
  }

  def versionPaths(spark: SparkSession, path: String): Seq[String] =
    Publish.versionPaths(spark, path)

  /** [[Publish.vacuum]]: the snapshot-history use case (CDC diff between
    * versions) sets `keep` to its window; a pure latest-state store
    * vacuums with keep=1 after every extend.
    */
  def vacuum(spark: SparkSession, path: String, keep: Int = 2): Int =
    Publish.vacuum(spark, path, keep)

  /** The rollup with read-time derived measures: avg from sum/count.
    * No rounding here — display shaping is the caller's; the state keeps
    * full precision across arbitrarily many merges. For bit-exact merge
    * linearity feed an integer-quantized measure (e.g. cents): long
    * sums are associativity-free, where double sums pick up
    * merge-order jitter near rounding boundaries.
    */
  def read(spark: SparkSession, table: String): DataFrame =
    spark.table(table)
      .withColumn("avg_v", col("sum_v") / col("n_rows"))
}
