package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.TextAnalysis

/** Persisted BPE tokenizer artifact — the serving split for
  * [[graft.operators.TextAnalysis.bpeLearn]], following the house
  * frozen-model discipline ([[LmStore]]/[[Bm25IndexStore]]/
  * [[IvfIndexStore]]): train the merge table ONCE over the reference
  * corpus (the expensive corpus pass), save it, and encode every
  * arriving batch against the FROZEN list. The artifact is the ordered
  * merge table itself — numMerges rows, KB-scale however many TB it was
  * trained on — so "loading the tokenizer" is a driver-side collect and
  * every batch encode is corpus-independent.
  *
  * Unseen words are the point: serving applies the merges in rank order
  * to the BATCH's own distinct words (the standard BPE inference rule),
  * which provably reproduces the training loop's segmentation on
  * trained words and extends to any new word — no out-of-vocabulary
  * failure mode, the property that makes BPE the production tokenizer
  * family. Re-training (to let new corpora influence the merges
  * themselves) is the documented rebuild knob, exactly like the IVF
  * quantizer and the BM25 stats.
  */
object BpeStore {

  def mergesTable(table: String): String = s"${table}_bpe_merges"

  /** Train on `corpus` (doc_id, text) and publish the ordered merge
    * table (rnk, lhs, rhs, freq) as a fresh version under `path`, with
    * the build-time usage baseline [[staleness]] reads as its `stats`
    * member (bundled — the two stores implement one policy, and a
    * retrain that kept an old baseline would poison every later
    * staleness reading; the extra cost is one vocab-broadcast
    * segmentation pass over the word table).
    */
  def build(
      corpus: DataFrame, numMerges: Int, table: String,
      path: String): Unit =
    buildFromWords(corpus.sparkSession,
      graft.operators.Unigram.wordFreq(
        corpus.select(col("doc_id"), col("text"))),
      numMerges, table, path)

  /** [[build]] from an already-derived (w, freq) table — lets
    * [[rebuildIfStale]] pay the corpus word collapse once across the
    * staleness measurement and the retrain ([[UnigramStore
    * .buildFromWords]]'s threading, one discipline for both tokenizer
    * families). The usage baseline refreshes from the SAME word table
    * the merges trained on.
    */
  def buildFromWords(
      spark: SparkSession, words: DataFrame, numMerges: Int,
      table: String, path: String): Unit =
    Publish.version(spark, path, Seq(mergesTable(table) -> "merges",
        statsTable(table) -> "stats")) { v =>
      val (uses, nWords) = usageFromWords(words, mergeList(v.save(
        TextAnalysis.bpeLearnFromWords(words, numMerges), mergesTable(table))))
      v.save(UsageStats.baseline(spark, uses, nWords, "sym"),
        statsTable(table))
    }

  private def mergeList(merges: DataFrame): Seq[(String, String)] =
    merges.orderBy("rnk")
      .collect().map(r => (r.getString(1), r.getString(2))).toSeq

  /** The saved merge list in rank order — numMerges rows by
    * construction, so the collect is the artifact's defining size.
    */
  def loadMerges(spark: SparkSession, table: String): Seq[(String, String)] =
    mergeList(spark.table(mergesTable(table)))

  /** Encode `docs` (doc_id, text) under the frozen artifact: segment
    * the batch's DISTINCT words by ordered merge application (vocab-
    * sized work), then the shared broadcast-join counting tail. Output
    * shape equals [[TextAnalysis.bpeEncode]], and on the training
    * corpus the results are identical (IndexStoreSpec pins it).
    */
  def encode(
      spark: SparkSession, docs: DataFrame, table: String): DataFrame = {
    val merges = loadMerges(spark, table)
    val vocabSyms = docs
      .select(explode(
        graft.functions.TextFunctions.tokens(col("text"))).as("w"))
      .distinct()
      .select(col("w"),
        TextAnalysis.bpeSegmentWord(col("w"), merges).as("syms"))
    TextAnalysis.bpeEncodeWithVocab(docs, vocabSyms)
  }

  def statsTable(table: String): String = s"${table}_bpe_stats"

  /** Freq-weighted symbol-usage distribution + word total of a
    * (w, freq) table under the frozen merges — the measurement the
    * build baseline and [[staleness]] share (one definition; the word
    * collapse itself is [[graft.operators.Unigram.wordFreq]], shared
    * with the unigram store so the two fertility denominators can
    * never diverge).
    */
  private def usageFromWords(
      words: DataFrame,
      merges: Seq[(String, String)]): (Map[String, Long], Long) = {
    val uses = words
      .select(col("freq"),
        explode(TextAnalysis.bpeSegmentWord(col("w"), merges)).as("sym"))
      .groupBy("sym").agg(sum("freq").as("uses"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val nWords = words.agg(coalesce(sum("freq"), lit(0L)))
      .collect()(0).getLong(0)
    (uses, nWords)
  }

  /** Measured drift of the frozen merge table against its build-time
    * baseline — [[UnigramStore.staleness]]'s semantics for the BPE
    * family ([[UsageStats.fold]], one definition): residualGrowth =
    * batch fertility (symbols per word) over build fertility (unseen
    * words segment into more, shorter symbols — BPE needs no UNK
    * tier, novel characters surface as themselves); occupancySkew =
    * TV distance between build-time and batch symbol-usage
    * distributions.
    */
  def staleness(
      spark: SparkSession, batch: DataFrame, table: String): Staleness =
    stalenessFromWords(spark,
      graft.operators.Unigram.wordFreq(
        batch.select(col("doc_id"), col("text"))), table)

  private def stalenessFromWords(
      spark: SparkSession, words: DataFrame, table: String): Staleness = {
    val (builtUses, builtWords) =
      UsageStats.load(spark, statsTable(table))
    val (uses, nWords) = usageFromWords(words, loadMerges(spark, table))
    UsageStats.fold(builtUses, builtWords, uses, nWords)
  }

  /** Re-train from `corpus` when either signal clears its ceiling;
    * the rebuilt artifact (merges + refreshed baseline, [[build]]
    * bundles both) is the next version under `path`.
    */
  def rebuildIfStale(
      corpus: DataFrame, numMerges: Int, table: String, path: String,
      residualMax: Double = 1.25, skewMax: Double = 0.25)
      : (Staleness, Boolean) = {
    val spark = corpus.sparkSession
    val words = graft.operators.Unigram.wordFreq(
      corpus.select(col("doc_id"), col("text")))
    val st = stalenessFromWords(spark, words, table)
    if (st.isStale(residualMax, skewMax)) {
      buildFromWords(spark, words, numMerges, table, path)
      (st, true)
    } else (st, false)
  }
}
