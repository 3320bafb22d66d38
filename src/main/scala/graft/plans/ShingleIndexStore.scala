package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.catalog.BucketSpec
import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** Persisted, incrementally-extensible shingle-index artifact — the
  * save/load/extend cycle a recurring dedup pipeline runs (the
  * reference's own operating model is recurring re-invocation:
  * `SANEF_Uploader.sh` driven by cron, `README.md:11-13`).
  *
  * At 100 TB the index IS the asset: tokenize + shingle + explode is the
  * dominant scan cost, and rebuilding it inside every query re-pays that
  * cost per run. This store builds it ONCE, writes it as a parquet table
  * bucketed+sorted on the shingle key `g`, and extends it per batch by
  * tokenizing ONLY the batch:
  *
  *   - `build`   — corpus → (doc_id, g) → bucketed external table
  *   - `matchBatch` — batch near-dups vs the SAVED index
  *     ([[Dedup.crossJaccardMatches]] shape: the batch side broadcasts,
  *     the index side streams map-side and is never shuffled)
  *   - `extend`  — append the batch's shingles; existing bucket files
  *     are untouched (append adds per-bucket files, no rewrite)
  *   - `admitAndExtend` — the composed production step: admit batch docs
  *     with no near-dup in the index, extend the index with exactly the
  *     admitted docs' shingles
  *
  * Why bucketed by `g`: every consumer keys on the shingle —
  * `capDocFrequency`'s hot-key aggregation and the co-occurrence join
  * both hash on `g` — so a bucketed scan already carries the right
  * partitioning and those stages run WITHOUT a shuffle exchange on the
  * index side (IndexStoreSpec pins the agg plan shape). `buckets` should
  * track index size: one bucket of postings per executor-memory unit.
  */
object ShingleIndexStore {

  /** The artifact is TWO tables: `<table>` = the (doc_id, g) postings
    * bucketed by shingle, and `<table>_sizes` = the per-doc shingle
    * counts (doc_id, n) bucketed by doc_id. Sizes are part of the
    * artifact because the Jaccard denominator needs them per batch —
    * recomputing them is a full postings scan + doc_id shuffle per
    * batch, which would make the batch step cost like the corpus.
    */
  def sizesTable(table: String): String = s"${table}_sizes"

  /** Third artifact table: per-doc minhash signatures (doc_id,
    * sig array<long>), the candidate-generation side of
    * [[matchBatchBySignature]]. ~[[NumHashes]] longs per doc —
    * postings-independent, so per-batch candidate scans stop costing
    * like the corpus postings.
    */
  def sigsTable(table: String): String = s"${table}_sigs"

  /** Signature width baked into the artifact; band setting (24×r=2)
    * follows [[graft.operators.Dedup.qDedupMinhash]]'s recall argument.
    */
  val NumHashes = 48

  /** Build the index from `corpus` and publish it (postings, sizes,
    * sigs) as a fresh version under `path`.
    */
  def build(
      corpus: DataFrame, n: Int, table: String, path: String,
      buckets: Int): Unit =
    Publish.version(corpus.sparkSession, path, Seq(table -> "postings",
        sizesTable(table) -> "sizes", sigsTable(table) -> "sigs")) { v =>
      def by(key: String) = Some(BucketSpec(buckets, Seq(key), Seq(key)))
      val sh = v.hold(Dedup.shingleIndex(corpus, n))
      v.save(sh, table, by("g"))
      v.save(sh.groupBy("doc_id").agg(count(lit(1)).as("n")),
        sizesTable(table), by("doc_id"))
      v.save(Dedup.minhashSignatures(sh, NumHashes), sigsTable(table),
        by("doc_id"))
    }

  /** The saved index as a DataFrame. Read via the catalog (not
    * `read.parquet(path)`) so the bucket spec survives and g-keyed
    * aggregations/joins skip their exchange.
    */
  def load(spark: SparkSession, table: String): DataFrame =
    Retire.survivors(spark, table,
      spark.table(table).select("doc_id", "g"), "doc_id")

  /** The sizes/sigs sides of the artifact, tombstone-masked like
    * [[load]] — every consumer reads through these, so a deleted doc
    * can never match, admit-block, or band-bucket again.
    */
  private def liveSizes(spark: SparkSession, table: String): DataFrame =
    Retire.survivors(spark, table,
      spark.table(sizesTable(table)).select("doc_id", "n"), "doc_id")

  private def liveSigs(spark: SparkSession, table: String): DataFrame =
    Retire.survivors(spark, table,
      spark.table(sigsTable(table)).select("doc_id", "sig"), "doc_id")

  /** Tombstone `ids` (doc_id rows) — deleted docs stop matching (and
    * stop blocking admission) immediately; [[compact]] drops their
    * postings, sizes and signatures physically. A near-dup previously
    * rejected because of a now-deleted doc becomes admissible again —
    * the takedown semantics a recurring ingest needs. See [[Retire]].
    */
  def delete(spark: SparkSession, table: String, ids: DataFrame): Unit =
    Retire.delete(spark, table, ids, "doc_id")

  /** File-granular physical removal across all three member tables.
    * The doc-keyed sizes/sigs tables are bucketed+sorted by doc_id, so
    * the hit-file probe prunes by row-group stats and a narrow delete
    * rewrites ~1 of N buckets; the shingle-keyed postings have no doc
    * locality by construction (a doc's shingles hash across every
    * bucket) — the probe is exact either way, and untouched files
    * hard-link across unchanged.
    */
  def compact(spark: SparkSession, table: String): Unit =
    Retire.compact(spark, table, Seq(
      table -> "doc_id",
      sizesTable(table) -> "doc_id",
      sigsTable(table) -> "doc_id"))

  /** (id_new, id_old) near-dup matches of `batch` against the saved
    * index at word-`n`-gram Jaccard >= `threshold`. Tokenizes ONLY the
    * batch — the corpus is read back as fingerprints from the artifact.
    * The caller should expect batch doc_ids to be disjoint from the
    * index's (as in any append-only ingest).
    */
  def matchBatch(
      batch: DataFrame, n: Int, table: String,
      threshold: Double): DataFrame = {
    val spark = batch.sparkSession
    // the batch index feeds two branches of the cross plan (sizes +
    // co-occurrence); materialize it once so the batch tokenizes exactly
    // once — batch-sized, so the checkpoint is small by definition
    val shNew = Dedup.shingleIndex(batch, n).localCheckpoint(true)
    Dedup.crossJaccardMatchesIndexed(shNew, load(spark, table),
      liveSizes(spark, table), threshold)
  }

  /** [[matchBatch]] through the SIGNATURE side of the artifact:
    * candidates from cross-banding the batch's minhash signatures
    * against `<table>_sigs`, exact verification against the postings —
    * identical matches whenever banding recall is 1 (the fixture
    * guarantee q_dedup_incremental_minhash hash-checks). This is the
    * continual-ingest scan shape: per-batch work reads the signature
    * table (~[[NumHashes]] longs/doc), not the postings.
    */
  def matchBatchBySignature(
      batch: DataFrame, n: Int, table: String,
      threshold: Double): DataFrame = {
    val spark = batch.sparkSession
    val shNew = Dedup.shingleIndex(batch, n).localCheckpoint(true)
    Dedup.crossMinhashMatches(shNew, load(spark, table),
      liveSigs(spark, table), liveSizes(spark, table),
      threshold, numHashes = NumHashes)
  }

  /** Append `batch`'s shingles to the saved index (batch-only
    * tokenization; each member keeps the bucket spec the catalog holds).
    */
  def extend(batch: DataFrame, n: Int, table: String): Unit = {
    val sh = Dedup.shingleIndex(batch, n).localCheckpoint(true)
    Publish.append(sh, table)
    Publish.append(sh.groupBy("doc_id").agg(count(lit(1)).as("n")),
      sizesTable(table))
    Publish.append(Dedup.minhashSignatures(sh, NumHashes), sigsTable(table))
  }

  /** One production ingest step: batch docs with no near-dup in the
    * saved index are admitted AND indexed; rejected docs leave no trace.
    * Returns the admitted (doc_id) frame, materialized (the extend
    * write must not race the admission read of the same table).
    * Deliberate blind spot, shared with the embedding-side
    * [[IvfIndexStore.admitAndExtend]]: the batch is deduped against the
    * SAVED index only, not against itself — two near-dup docs in ONE
    * batch are both admitted and gate each other only from the next
    * batch on. Run a pairwise pass over the batch first when that
    * window matters.
    */
  def admitAndExtend(
      batch: DataFrame, n: Int, table: String,
      threshold: Double): DataFrame = {
    val matched = matchBatch(batch, n, table, threshold)
      .select(col("id_new").as("doc_id")).distinct()
    val admitted = batch.join(matched, Seq("doc_id"), "left_anti")
      .localCheckpoint(true)
    extend(admitted, n, table)
    admitted.select("doc_id")
  }
}
