package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.TextAnalysis

/** Persisted, incrementally-extensible Stupid Backoff language model —
  * the LM sibling of [[ShingleIndexStore]]/[[IvfIndexStore]]/the
  * Count-Min artifact: fit the model once over the reference corpus,
  * save it as two parquet count tables, score every arriving batch
  * against the FROZEN artifact, and fold new corpora in by counter
  * addition instead of rescanning old text.
  *
  * Why counts and not probabilities: the model IS its two integer count
  * tables (bigrams `(g, c_bg)`, unigrams `(w2, c_u)`) — counts are
  * LINEAR, so `merge(model(A), model(B)) == model(A ∪ B)` exactly
  * (counter-for-counter, same law the Count-Min artifact exploits),
  * while stored probabilities would be frozen to the wrong denominators
  * the moment a batch arrives. Prefix counts and the (N, V) totals
  * recompute from the tables as vocab-sized aggregations at load time.
  *
  * Scale shape: both tables are vocab-bounded (vocab² worst-case for
  * bigrams), i.e. MB-scale however many TB of text they were fit on;
  * scoring joins broadcast them over the batch side. Extension scans
  * ONLY the new batch's text — the old corpus is never re-tokenized.
  */
object LmStore {

  def bigramsTable(table: String): String = s"${table}_bigrams"
  def unigramsTable(table: String): String = s"${table}_unigrams"

  private def members(table: String): Seq[(String, String)] =
    Seq(bigramsTable(table) -> "bigrams", unigramsTable(table) -> "unigrams")

  private def toks(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      graft.functions.TextFunctions.tokens(col("text")).as("toks"))

  /** Fit the model on `corpus` (doc_id, text) and publish both count
    * tables as a fresh version under `path`.
    */
  def build(corpus: DataFrame, table: String, path: String): Unit = {
    val (cbg, cu) = TextAnalysis.backoffModel(toks(corpus))
    Publish.version(corpus.sparkSession, path, members(table)) { v =>
      v.save(cbg, bigramsTable(table))
      v.save(cu, unigramsTable(table))
    }
  }

  /** Score `docs` (doc_id, text) against the SAVED model. The count
    * tables broadcast (vocab-bounded); only the batch is tokenized.
    */
  def score(spark: SparkSession, docs: DataFrame, table: String)
      : DataFrame =
    TextAnalysis.backoffScore(toks(docs),
      broadcast(spark.table(bigramsTable(table))),
      broadcast(spark.table(unigramsTable(table))))

  /** Fold `batch` (doc_id, text) into the saved model by counter
    * addition: tokenize ONLY the batch and sum its counts with the live
    * version's into the next version beside it.
    */
  def extend(batch: DataFrame, table: String): Unit = {
    val spark = batch.sparkSession
    val (bBg, bU) = TextAnalysis.backoffModel(toks(batch))
    Publish.version(spark, Publish.root(spark, bigramsTable(table)),
        members(table)) { v =>
      v.save(spark.table(bigramsTable(table)).unionByName(bBg)
        .groupBy("g").agg(sum("c_bg").as("c_bg")), bigramsTable(table))
      v.save(spark.table(unigramsTable(table)).unionByName(bU)
        .groupBy("w2").agg(sum("c_u").as("c_u")), unigramsTable(table))
    }
  }
}
