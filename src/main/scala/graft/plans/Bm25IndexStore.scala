package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions.tokens
import graft.operators.TextAnalysis

/** Persisted BM25 search index — the production serving shape of
  * [[graft.operators.TextAnalysis.bm25Retrieval]], completing the
  * artifact family (shingle / LM / IVF / agg-state stores) on the
  * [[ImpactIndexStore]] lifecycle. Tables:
  *   - `<table>`        — postings (tkey, doc_id, w, rnk_w): per-(doc,
  *                        term) BM25 weights under build-time stats; the
  *                        weight is the impact;
  *   - `<table>_df`     — (tkey, df): the document frequencies the
  *                        weights were built with — extension needs
  *                        them to weigh NEW docs consistently;
  *   - `<table>_stats`  — one row (n_docs, avgdl): the corpus-level
  *                        constants of the weight formula.
  *
  * `extend` weighs a batch under the FROZEN stats — the same frozen-
  * model discipline as [[IvfIndexStore]]'s quantizer and [[LmStore]]'s
  * denominators-at-load: scores stay comparable across the whole index
  * (a verbatim copy of a corpus doc ties its original's score EXACTLY,
  * spec-pinned). Unseen batch terms get the df=0 idf ln(1 + (N+0.5)/0.5)
  * from the frozen stats row.
  *
  * Parity: the weights ARE [[TextAnalysis.bm25Weights]] (per-term 4dp
  * rounding, Lucene idf, fixed k1/b) and a pair score is their 4dp sum,
  * so a search over the saved index reproduces the in-session query
  * row-for-row and carries the same DuckDB oracle. Queries are
  * (doc_id, text) rows, tokenized at serve time.
  */
object Bm25IndexStore extends ImpactIndexStore(
    impact = "w", scoreName = "score", sides = Seq("df", "stats"),
    docKeyedSides = Nil) {

  /** Postings (tkey, doc_id, w) of a (doc_id, term, tf) frame under the
    * saved `df` and `stats` tables; terms absent from `df` weigh with
    * df = 0.
    */
  private def weigh(tf: DataFrame, df: DataFrame,
      stats: DataFrame): DataFrame =
    TextAnalysis.bm25Weights(
      tf.join(df.withColumnRenamed("tkey", "tk"),
          xxhash64(col("term")) === col("tk"), "left")
        .withColumn("df", coalesce(col("df"), lit(0L))),
      tf.groupBy("doc_id").agg(sum("tf").as("dl")), stats)
      .select("tkey", "doc_id", "w")

  protected def weighBuild(docs: DataFrame, table: String, buckets: Int,
      v: Publish.Version): DataFrame = {
    val tf = v.hold(TextAnalysis.termFreq(docs))
    weigh(tf,
      v.save(tf.groupBy("term").agg(count(lit(1)).as("df"))
        .select(xxhash64(col("term")).as("tkey"), col("df")), dfTable(table)),
      v.save(tf.groupBy("doc_id").agg(sum("tf").as("dl"))
        .agg(count(lit(1)).as("n_docs"), avg("dl").as("avgdl")),
        statsTable(table)))
  }

  protected def weighExtend(batch: DataFrame, table: String,
      buckets: Int): DataFrame = {
    val spark = batch.sparkSession
    weigh(TextAnalysis.termFreq(batch), spark.table(dfTable(table)),
      spark.table(statsTable(table))).localCheckpoint(true)
  }

  /** The batch's distinct (query_id, tkey) terms. */
  private def queryTerms(queryDocs: DataFrame): DataFrame =
    queryDocs
      .select(col("doc_id").as("query_id"), tokens(col("text")).as("toks"))
      .select(col("query_id"), explode(col("toks")).as("term"))
      .distinct()
      .select(col("query_id"), xxhash64(col("term")).as("tkey"))

  /** Naive: the [[WandKernel.naivePartialTopK]] sort+stream kernel over
    * (query_id, doc_id, w) rows; exact: the pair's weights summed and
    * 4dp-rounded.
    */
  private def pairs(q: DataFrame, topN: Int): Pairs =
    new Pairs(q,
      rows => WandKernel.naivePartialTopK(
        rows.select(col("query_id"), col("doc_id"), col("w")), topN),
      _.groupBy("query_id", "doc_id").agg(round(sum("w"), 4).as("score")))

  protected def searchPairs(spark: SparkSession, table: String,
      queryDocs: DataFrame, topN: Int): Pairs =
    pairs(queryTerms(queryDocs), topN)

  /** Query factor 1: a BM25 score is a plain sum of saved weights. */
  protected def wand(spark: SparkSession, table: String,
      queryDocs: DataFrame, topN: Int): (DataFrame, DataFrame => Pairs) = (
    priced(spark, table, queryTerms(queryDocs))
      .select(col("query_id"), col("tkey"), lit(1.0).as("qf"), col("df")),
    q => pairs(q.select("query_id", "tkey"), topN))
}
