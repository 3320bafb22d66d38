package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.TextAnalysis

/** Persisted tf-idf retrieval index — the vector-space sibling of
  * [[Bm25IndexStore]] on the [[ImpactIndexStore]] lifecycle, closing the
  * artifact family for the hybrid (tf-idf + BM25 → RRF) retrieval
  * stack. Each document keeps its top-10 terms. Tables:
  *   - `<table>`        — postings (tkey, doc_id, w, wn, rnk_w): 4dp
  *                        tf-idf weights `w` (the house parity regime)
  *                        and the impact `wn` = w/‖d‖, the cosine
  *                        contribution per unit of query weight (raw w
  *                        would mis-rank long documents);
  *   - `<table>_norms`  — (doc_id, nrm): the vector norms the cosine
  *                        denominator needs;
  *   - `<table>_df`     — (tkey, df): per-term selected-postings count,
  *                        the volume [[wandSearch]] prices routes by;
  *   - `<table>_rawdf`  — (tkey, df): per-term document frequency over
  *                        the whole build corpus, BEFORE top-k selection
  *                        — the idf the weights actually used;
  *   - `<table>_stats`  — one row (n_docs): the corpus size;
  *   - `<table>_bydoc`  — (doc_id, tkey, w): the postings again, range-
  *                        clustered + sorted by doc_id for the
  *                        doc-as-query vector fetch.
  *
  * `extend` weighs a batch under the SAVED raw df + n_docs (persisted
  * at build exactly for this), so existing postings never rewrite; an
  * exact copy of an indexed document weighs identically and remains
  * findable as a duplicate. Terms unseen at build time drop (no idf).
  * tf-idf's idf couples every weight to n_docs, so extension drifts as
  * the corpus grows — the frozen-stats family's staleness contract,
  * reset by the periodic rebuild.
  *
  * Queries are corpus members given as (doc_id) rows: their vectors
  * are their own saved postings, so not even the query batch
  * re-tokenizes. Parity: identical per-term weights to
  * [[graft.operators.TextAnalysis.tfidfRetrieval]]; the dot
  * re-accumulates via a term-keyed sum instead of the in-session
  * kernel's sorted-key merge, a summation-order difference of ~1e-13 —
  * absorbed by the 4dp cosine rounding both forms rank on. So a search
  * over the saved index reproduces the in-session query row-for-row and
  * carries the same DuckDB oracle.
  */
object TfidfIndexStore extends ImpactIndexStore(
    impact = "wn", scoreName = "cosine",
    sides = Seq("norms", "df", "rawdf", "stats", "bydoc"),
    docKeyedSides = Seq("norms", "bydoc")) {

  /** Terms kept per document. */
  private final val TermsPerDoc = 10

  def normsTable(table: String): String = side(table, "norms")
  def rawDfTable(table: String): String = side(table, "rawdf")
  def byDocTable(table: String): String = side(table, "bydoc")

  /** Postings (tkey, doc_id, w) of per-doc top terms. w > 0 filter:
    * top-k selection KEEPS zero-score terms (df == n_docs makes
    * log(N/df) = 0), and a doc whose every selected term scores 0 would
    * get nrm = 0 → wn = 0/0 = NaN postings that poison the impact order
    * and every cosine they touch. A zero posting contributes nothing to
    * any dot product or norm, so dropping it is output-identical for
    * every doc with a positive term; all-zero docs (which could never
    * match at nonzero cosine) stay out of the index instead of entering
    * it as NaN.
    */
  private def postingsOf(top: DataFrame): DataFrame =
    top.select(xxhash64(col("term")).as("tkey"), col("doc_id"),
        col("score").as("w"))
      .filter(col("w") > 0.0)

  private def normsOf(postings: DataFrame): DataFrame =
    postings.groupBy("doc_id").agg(sqrt(sum(col("w") * col("w"))).as("nrm"))

  private def withImpact(postings: DataFrame, norms: DataFrame): DataFrame =
    postings.join(norms, "doc_id")
      .withColumn("wn", col("w") / col("nrm"))
      .select("tkey", "doc_id", "w", "wn")

  /** DOC-KEYED secondary layout for the doc-as-query fetch: the main
    * postings are clustered for the IMPACT access path ((tkey, rnk_w)
    * sorted — a doc_id probe has zero locality there and pays a full
    * 5-column scan before serving can even price a batch). This copy is
    * 3 narrow columns, range-clustered + sorted by doc_id, so a
    * query-vector fetch is a compact scan with per-file/row-group doc_id
    * stats to push a batch hull down to.
    */
  private def mirror(postings: DataFrame, buckets: Int): DataFrame =
    postings.select("doc_id", "tkey", "w")
      .repartitionByRange(buckets, col("doc_id"))
      .sortWithinPartitions("doc_id")

  protected def weighBuild(docs: DataFrame, table: String, buckets: Int,
      v: Publish.Version): DataFrame = {
    val tf = v.hold(TextAnalysis.termFreq(docs))
    v.save(tf.groupBy(xxhash64(col("term")).as("tkey"))
      .agg(count(lit(1)).as("df")), rawDfTable(table))
    val stats = v.save(docs.agg(count(lit(1)).as("n_docs")), statsTable(table))
    val postings = v.hold(postingsOf(TextAnalysis.tfidfTopTermsFromTf(tf,
      stats, TermsPerDoc)))
    val norms = v.save(normsOf(postings), normsTable(table))
    v.save(postings.groupBy("tkey").agg(count(lit(1)).as("df")),
      dfTable(table))
    v.save(mirror(postings, buckets), byDocTable(table))
    withImpact(postings, norms)
  }

  /** Norms and the mirror append before the postings: a crash between
    * appends must leave the read-authoritative mirror ⊇ the main
    * postings' doc vectors — [[queryVectors]] prefers the mirror
    * unconditionally, so every doc that IS searchable keeps a complete
    * query vector (the reverse order would leave indexed docs with
    * silently truncated vectors forever); a mirror-only orphan doc
    * merely carries a vector no postings reference until the extend
    * retries. The appended mirror files are range-clustered like the
    * build's, so per-file doc_id stats keep their pushdown as
    * extensions accumulate.
    */
  protected def weighExtend(batch: DataFrame, table: String,
      buckets: Int): DataFrame = {
    val spark = batch.sparkSession
    val scored = postingsOf(TextAnalysis.tfidfTopTermsFromDf(
        TextAnalysis.termFreq(batch)
          .withColumn("tkey", xxhash64(col("term")))
          .join(spark.table(rawDfTable(table)), "tkey"),
        spark.table(statsTable(table)), TermsPerDoc))
      .localCheckpoint(true)
    val nrm = normsOf(scored).localCheckpoint(true)
    Publish.append(nrm, normsTable(table))
    Publish.append(mirror(scored, buckets), byDocTable(table))
    withImpact(scored, nrm)
  }

  /** The query-vector fetch: the batch's saved (tkey, query_id, wq)
    * rows, read from the doc-keyed mirror (every published version has
    * one).
    */
  private def queryVectors(spark: SparkSession, table: String,
      queryIds: DataFrame): DataFrame =
    // a tombstoned doc cannot serve as a QUERY either — reading its
    // saved vector back is itself a retention violation; its query ids
    // simply return no rows (the same observable a rebuilt index gives)
    Retire.survivors(spark, table, spark.table(byDocTable(table)), "doc_id")
      .join(broadcast(queryIds), "doc_id")
      .select(col("tkey"), col("doc_id").as("query_id"),
        col("w").as("wq"))

  /** The batch's (query_id, nq) vector norms. */
  private def queryNorms(norms: DataFrame, queryIds: DataFrame): DataFrame =
    norms.join(broadcast(queryIds), "doc_id")
      .select(col("doc_id").as("query_id"), col("nrm").as("nq"))

  /** A pair's cosine is Σ_t (wq_t/‖q‖)·(w_t/‖d‖): query factor wq/‖q‖
    * over the impact `wn`. The batch's vectors come from the doc-keyed
    * mirror, so the pre-route can refuse a dense batch having touched
    * only the mirror and the df table; nq rides along so one bounded job
    * fetches the whole query state.
    */
  protected def wand(spark: SparkSession, table: String,
      queryIds: DataFrame, topN: Int): (DataFrame, DataFrame => Pairs) = {
    val norms = spark.table(normsTable(table))
    (priced(spark, table, queryVectors(spark, table, queryIds))
      .join(broadcast(queryNorms(norms, queryIds)), "query_id")
      .select(col("query_id"), col("tkey"), (col("wq") / col("nq")).as("qf"),
        col("df"), col("wq"), col("nq")),
      q => pairs(norms, q.select("tkey", "query_id", "wq"),
        q.select("query_id", "nq").distinct()))
  }

  /** Both tails: the term-keyed dot Σ wq·w per pair, divided by
    * ‖q‖·‖d‖ after the aggregation and 4dp-rounded — the same
    * summation order on every path, so rounding cannot diverge between
    * them.
    */
  private def pairs(norms: DataFrame, q: DataFrame, qn: DataFrame): Pairs = {
    def cosine(rows: DataFrame): DataFrame =
      rows.groupBy("query_id", "doc_id")
        .agg(sum(col("wq") * col("w")).as("dot"))
        .join(norms, "doc_id")
        .join(broadcast(qn), "query_id")
        .select(col("query_id"), col("doc_id"),
          round(col("dot") / (col("nq") * col("nrm")), 4).as("score"))
    new Pairs(q, cosine, cosine)
  }

  protected def searchPairs(spark: SparkSession, table: String,
      queryIds: DataFrame, topN: Int): Pairs = {
    val norms = spark.table(normsTable(table))
    pairs(norms, queryVectors(spark, table, queryIds),
      queryNorms(norms, queryIds))
  }
}
