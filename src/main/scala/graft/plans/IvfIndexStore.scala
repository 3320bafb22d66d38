package graft.plans

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.catalog.BucketSpec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.IvfCells
import graft.operators.Similarity

/** Persisted IVF index artifact — the ANN counterpart of
  * [[ShingleIndexStore]]: at corpus scale the expensive halves of IVF
  * serving are (a) the Lloyd training passes and (b) assigning every
  * corpus vector to its home cell (O(n · nlist · dim) flops). Both are
  * index-build work, not query work, so this store runs them ONCE and
  * persists:
  *
  *   - `<table>`       — (cell, centroid array<double>) — the quantizer
  *   - `<table>_cells` — (vec_id, embedding, cell), bucketed+sorted by
  *     cell, so the probe join reads only matching buckets and carries
  *     cell partitioning without an exchange on the corpus side
  *   - `<table>_stats` — (cell, n, sum_gap): the build-time per-cell
  *     occupancy and residual baseline [[staleness]] measures against
  *
  * `knn` then serves query batches against the saved assignment;
  * `extend` folds new vectors in under the FROZEN quantizer (same
  * staleness contract as the signature index: centroids drift as the
  * corpus grows — rebuild periodically; an exact copy of an indexed
  * vector still assigns to the same cell, so duplicate recall stays 1
  * through extension). "Periodically" is now measurable: [[staleness]]
  * compares the live set against the build-time baseline and
  * [[rebuildIfStale]] wires the thresholds to a rebuild.
  */
object IvfIndexStore {

  def cellsTable(table: String): String = s"${table}_cells"
  def statsTable(table: String): String = s"${table}_stats"

  /** Train the quantizer on `emb` and publish centroids, the corpus
    * cell assignment and the staleness baseline as a fresh version under
    * `path` / catalog names `table`, `<table>_cells`, `<table>_stats`.
    */
  def build(
      emb: DataFrame, nlist: Int, table: String, path: String,
      buckets: Int, iters: Int = 2, sampleCap: Int = 0): Unit = {
    val spark = emb.sparkSession
    import spark.implicits._
    Publish.version(spark, path, Seq(table -> "centroids",
        cellsTable(table) -> "cells", statsTable(table) -> "stats")) { v =>
      val base = emb.select("vec_id", "embedding")
      val centroids = Similarity.ivfIndex(base, nlist, iters, sampleCap)
      v.save(centroids.zipWithIndex
        .map { case (c, i) => (i, c.toSeq) }.toSeq
        .toDF("cell", "centroid"), table)
      val cells = v.save(assign(base, centroids), cellsTable(table),
        Some(BucketSpec(buckets, Seq("cell"), Seq("cell"))))
      // build-time baseline for [[staleness]] — computed FROM the saved
      // cells table (not the in-flight frame) so a fresh build's
      // staleness is exactly (1.0, 0.0): both sides read the identical
      // persisted rows through the identical arithmetic
      v.save(cellStats(cells, centroids), statsTable(table))
    }
  }

  /** Per-cell (n, sum_gap) where gap = 1 − cos(v, home centroid) — the
    * cosine-world quantization residual (assignment itself ranks by
    * dot against normalized centroids, so this is the gap the frozen
    * quantizer leaves unexplained). Output is nlist rows, never
    * corpus-sized.
    */
  private def cellStats(
      cells: DataFrame, centroids: Array[Array[Double]]): DataFrame = {
    val spark = cells.sparkSession
    import spark.implicits._
    val cdf = centroids.zipWithIndex
      .map { case (c, i) => (i, c.map(_.toFloat).toSeq) }.toSeq
      .toDF("cell", "ctr")
    cells.join(broadcast(cdf), "cell")
      .withColumn("gap", lit(1.0) -
        graft.functions.CosineSimilarity.cosineNative(
          spark, col("embedding"), col("ctr")))
      .groupBy("cell")
      .agg(count(lit(1)).as("n"), sum("gap").as("sum_gap"))
  }

  private def collectStats(df: DataFrame): Seq[((Int, Int), (Long, Double))] =
    df.select("cell", "n", "sum_gap").collect()
      .map(r => ((0, r.getInt(0)), (r.getLong(1), r.getDouble(2)))).toSeq

  /** Measure how far the live set (tombstones excluded) has drifted
    * from the frozen quantizer's build-time fit — see [[Staleness]]
    * for the two signals and their failure modes. One cells-table scan
    * plus two nlist-row collects.
    */
  def staleness(spark: SparkSession, table: String): Staleness = {
    val centroids = loadCentroids(spark, table)
    val live = Retire.survivors(
      spark, table, spark.table(cellsTable(table)), "vec_id")
    Staleness.of(
      collectStats(spark.table(statsTable(table))),
      collectStats(cellStats(live, centroids)))
  }

  /** Rebuild the artifact from its own surviving vectors when either
    * staleness signal clears its ceiling; returns whether a rebuild
    * ran. Geometry (nlist) and the cells layout are carried over from
    * the saved artifact — re-sizing nlist to a grown corpus (√n
    * practice) is a caller decision, not a policy this helper should
    * guess. The survivors frame is materialized once: it feeds every
    * training pass and the assignment.
    */
  def rebuildIfStale(
      spark: SparkSession, table: String, path: String,
      residualMax: Double = 1.25, skewMax: Double = 0.25,
      iters: Int = 2, sampleCap: Int = 0): Boolean = {
    val s = staleness(spark, table)
    if (!s.isStale(residualMax, skewMax)) false
    else {
      val nlist = spark.table(table).count().toInt
      val survivors = Retire.survivors(
          spark, table, spark.table(cellsTable(table)), "vec_id")
        .select("vec_id", "embedding")
        .localCheckpoint(true)
      build(survivors, nlist, table, path,
        Publish.bucketSpec(spark, cellsTable(table)).get.numBuckets,
        iters, sampleCap)
      true
    }
  }

  /** The saved quantizer, cell-ordered — the driver-side matrix every
    * serving plan broadcasts (nlist × dim doubles, the documented IVF
    * driver-state bound).
    */
  def loadCentroids(spark: SparkSession, table: String)
      : Array[Array[Double]] =
    spark.table(table).orderBy("cell").select("centroid").collect()
      .map(_.getSeq[Double](0).toArray)

  private def assign(
      emb: DataFrame, centroids: Array[Array[Double]]): DataFrame =
    emb.select(col("vec_id"), col("embedding"),
      element_at(IvfCells.cells(
        emb.sparkSession, col("embedding"), centroids, 1), 1).as("cell"))

  /** Tombstone `ids` (vec_id rows) — deleted vectors vanish from knn
    * results and admission probes immediately; [[compact]] drops their
    * cell rows physically. The frozen quantizer is untouched (centroids
    * are corpus statistics — the standing extend contract). See
    * [[Retire]].
    */
  def delete(spark: SparkSession, table: String, ids: DataFrame): Unit =
    Retire.delete(spark, table, ids, "vec_id")

  /** File-granular physical removal from the cells table; the
    * quantizer table has no per-vector rows and stays frozen.
    */
  def compact(spark: SparkSession, table: String): Unit =
    Retire.compact(spark, table, Seq(cellsTable(table) -> "vec_id"))

  /** Assign `batch` under the frozen quantizer and append to the cells
    * table. Centroids are NOT retrained — rebuild the artifact when the
    * corpus has drifted.
    */
  def extend(batch: DataFrame, table: String): Unit =
    Publish.append(assign(batch.select("vec_id", "embedding"),
      loadCentroids(batch.sparkSession, table)), cellsTable(table))

  /** Top-k neighbors for `queries(vec_id, embedding)` served from the
    * SAVED assignment: queries probe their `nprobe` nearest cells
    * (broadcast side), the cells table streams only matching buckets.
    * Same ranking contract as [[Similarity.ivfKnn]] — exact cosine,
    * neighbor_id tie-break — and identical output when the quantizer
    * parameters match (IndexStoreSpec pins it).
    */
  /** One production ingest step in EMBEDDING space — the
    * [[ShingleIndexStore.admitAndExtend]] symmetry for the semantic
    * side: batch vectors whose nearest saved neighbor (within the
    * probed cells) clears `threshold` are rejected as semantic
    * near-dups; the rest are admitted AND assigned into the cells
    * table under the frozen quantizer. Returns the admitted (vec_id)
    * frame, materialized BEFORE the extend write so the admission read
    * of the cells table never races its own append. The standard
    * SemDedup-style caveat applies: a near-dup straddling un-probed
    * cells is missed — `nprobe` is the recall dial, and verbatim
    * copies (identical assignment) are always caught. Second caveat,
    * shared with the text-side [[ShingleIndexStore.admitAndExtend]] by
    * design: the batch is deduped only against the SAVED index, not
    * against itself — two near-duplicate vectors arriving in the same
    * batch are both admitted (they only gate each other once one of
    * them is in the index, i.e. from the next batch on). Callers
    * needing intra-batch semantic dedup run a pairwise pass
    * ([[Similarity]] LSH near-dup) over the batch first; building it
    * in here would double every admission's cost for a window the
    * micro-batch cadence already makes small.
    */
  def admitAndExtend(
      batch: DataFrame, table: String,
      threshold: Double, nprobe: Int = 4): DataFrame = {
    val dup = knn(batch.select("vec_id", "embedding"), 1, nprobe, table)
      .filter(col("sim") >= threshold)
      .select(col("query_id").as("vec_id")).distinct()
    val admitted = batch.join(dup, Seq("vec_id"), "left_anti")
      .localCheckpoint(true)
    extend(admitted, table)
    admitted.select("vec_id")
  }

  /** `queryBatchCap` bounds the broadcast query side: an over-cap
    * batch (e.g. a caller probing a corpus-sized frame) is served in
    * hash-disjoint chunks and unioned — result-identical, since every
    * ranking stage partitions by query_id.
    */
  def knn(
      queries: DataFrame, k: Int, nprobe: Int, table: String,
      queryBatchCap: Int = Similarity.AnnQueryBatchCap): DataFrame = {
    val spark = queries.sparkSession
    val centroids = loadCentroids(spark, table)
    val cos: (Column, Column) => Column =
      (a, b) => graft.functions.CosineSimilarity.cosineNative(spark, a, b)
    // tombstone-masked corpus side: a deleted vector stops surfacing
    // as a neighbor (and stops blocking [[admitAndExtend]]) immediately
    val corpusCells = Retire.survivors(spark, table,
      spark.table(cellsTable(table)), "vec_id").select(
      col("vec_id").as("neighbor_id"), col("embedding").as("cv"),
      col("cell"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id"))
    Similarity.chunkedByQuery(
      queries.select("vec_id", "embedding"), queryBatchCap) { qchunk =>
      val queryCells = qchunk.select(
        col("vec_id").as("query_id"), col("embedding").as("qv"),
        explode(IvfCells.cells(
          spark, col("embedding"), centroids, nprobe)).as("cell"))
      broadcast(queryCells).join(corpusCells, "cell")
        .filter(col("query_id") =!= col("neighbor_id"))
        .withColumn("sim", cos(col("qv"), col("cv")))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= k)
        .select("query_id", "rnk", "neighbor_id", "sim")
    }
  }
}
