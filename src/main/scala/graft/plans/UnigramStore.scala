package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.Unigram

/** Persisted unigram-tokenizer artifact — the serving split for
  * [[graft.operators.Unigram.train]], the [[BpeStore]] discipline for
  * the second tokenizer family: fit the piece table ONCE over the
  * reference corpus (the expensive pass), save it, and encode every
  * arriving batch against the FROZEN (piece, score) table. The
  * artifact is the pruned vocabulary itself — chars +
  * [[graft.operators.Unigram.VocabMultiCap]] rows, KB-scale however
  * many TB it was trained on — so "loading the tokenizer" is a
  * driver-side collect and every batch encode is corpus-independent.
  *
  * Unseen words segment through the same Viterbi: every single
  * character of the training corpus stays in the vocabulary (the
  * coverage invariant), so any word over the training alphabet has a
  * segmentation; genuinely novel characters are a loud error, not a
  * silent drop — the standard unigram-tokenizer OOV contract (real
  * deployments add a byte-fallback tier; the documented extension).
  * Re-training (to let new corpora move the piece probabilities) is
  * the documented rebuild knob, exactly like the BPE merges and the
  * IVF quantizer.
  */
object UnigramStore {

  def piecesTable(table: String): String = s"${table}_unigram_pieces"

  def statsTable(table: String): String = s"${table}_unigram_stats"

  private def members(table: String): Seq[(String, String)] =
    Seq(piecesTable(table) -> "pieces", statsTable(table) -> "stats")

  private def piecesFrame(
      spark: SparkSession, pieces: Seq[Unigram.Piece]): DataFrame = {
    import spark.implicits._
    pieces.toDF("piece", "cnt", "score").coalesce(1)
  }

  /** Publish a trained vocabulary (piece, cnt, score) as a fresh version
    * under `path`, without a staleness baseline.
    */
  def save(
      spark: SparkSession, pieces: Seq[Unigram.Piece], table: String,
      path: String): Unit =
    Publish.version(spark, path, members(table))(
      _.save(piecesFrame(spark, pieces), piecesTable(table)))

  /** Train on `corpus` (doc_id, text) and publish the piece table with
    * the build-time usage baseline ([[staleness]] reads it) as its
    * `stats` member: the training corpus's piece-usage distribution and
    * fertility under the FINAL vocabulary — one extra vocab-broadcast
    * pass over the word table. The baseline ALWAYS refreshes with the
    * artifact (a retrain that kept an old baseline would poison every
    * later staleness reading).
    */
  def build(
      corpus: DataFrame, table: String, path: String): Unit =
    buildFromWords(corpus.sparkSession,
      Unigram.wordFreq(corpus), table, path)

  /** [[build]] from an already-derived (w, freq) table — lets
    * [[rebuildIfStale]] pay the corpus collapse once across the
    * staleness measurement and the retrain.
    */
  def buildFromWords(
      spark: SparkSession, words: DataFrame, table: String,
      path: String): Unit = {
    val pieces = Unigram.train(words)
    Publish.version(spark, path, members(table)) { v =>
      v.save(piecesFrame(spark, pieces), piecesTable(table))
      val (uses, nWords, _) =
        Unigram.usage(words, pieces.map(p => p.piece -> p.score).toMap)
      v.save(UsageStats.baseline(spark, uses, nWords, "piece"),
        statsTable(table))
    }
  }

  /** Measured drift of the FROZEN tokenizer against its build-time
    * baseline — the [[Staleness]] policy extended to the tokenizer
    * artifacts (the re-train knob the frozen-merges/frozen-pieces
    * contract has always documented but left unmeasured):
    *
    *   - residualGrowth = batch fertility (pieces per word, UNK
    *     positions counted one codepoint each — the byte-fallback
    *     accounting) over build-time fertility. Grows when arriving
    *     text segments worse — new domains, new languages, new
    *     alphabets (pure-OOV words degrade to per-character UNKs, the
    *     maximal fertility).
    *   - occupancySkew = total-variation distance between the
    *     build-time and batch piece-USAGE distributions (OOV mass
    *     bucketed under [[graft.operators.Unigram.UnkKey]]). Grows
    *     when usage piles onto pieces the training corpus rarely used
    *     — drift that fertility alone can miss when piece LENGTHS
    *     stay similar.
    */
  def staleness(
      spark: SparkSession, batch: DataFrame, table: String): Staleness =
    stalenessFromWords(spark, Unigram.wordFreq(batch), table)

  private def stalenessFromWords(
      spark: SparkSession, words: DataFrame, table: String): Staleness = {
    val (builtUses, builtWords) =
      UsageStats.load(spark, statsTable(table))
    val (uses, nWords, _) =
      Unigram.usage(words, loadScores(spark, table))
    UsageStats.fold(builtUses, builtWords, uses, nWords)
  }

  /** Re-train from `corpus` when either staleness signal (measured on
    * that same corpus — the arriving distribution) clears its ceiling.
    * The corpus word collapse is paid ONCE across the measurement and
    * the retrain; the rebuilt artifact is the next version under
    * `path`. Returns the measured staleness and whether a rebuild
    * happened.
    */
  def rebuildIfStale(
      corpus: DataFrame, table: String, path: String,
      residualMax: Double = 1.25, skewMax: Double = 0.25)
      : (Staleness, Boolean) = {
    val spark = corpus.sparkSession
    val words = Unigram.wordFreq(corpus)
    val st = stalenessFromWords(spark, words, table)
    if (st.isStale(residualMax, skewMax)) {
      buildFromWords(spark, words, table, path)
      (st, true)
    } else (st, false)
  }

  /** The frozen score map — vocab-sized by construction. */
  def loadScores(
      spark: SparkSession, table: String): Map[String, Long] =
    spark.table(piecesTable(table))
      .select("piece", "score")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  /** Encode `docs` (doc_id, text) under the frozen artifact — output
    * shape equals [[graft.operators.Unigram.encodeWithVocab]], and on
    * the training corpus the results are identical (the store
    * round-trips (piece, score) exactly; UnigramSpec pins it).
    */
  def encode(
      spark: SparkSession, docs: DataFrame, table: String): DataFrame =
    Unigram.encodeWithVocab(docs, loadScores(spark, table))
}
