package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions.tokens

/** Persisted BM25 search index — the production serving shape of
  * [[graft.operators.TextAnalysis.bm25Retrieval]], completing the
  * artifact family (shingle / LM / IVF / agg-state stores): tokenize +
  * weight the corpus ONCE, save the inverted index, then serve query
  * batches and fold new document batches in without ever re-tokenizing
  * the corpus.
  *
  * The artifact is THREE tables:
  *   - `<table>`        — postings (tkey, doc_id, w): per-(doc, term)
  *                        BM25 weights under build-time stats, bucketed
  *                        + sorted by the 64-bit term fingerprint so
  *                        term-keyed consumers scan pre-partitioned
  *                        buckets (the [[ShingleIndexStore]] argument);
  *   - `<table>_df`     — (tkey, df): the document frequencies the
  *                        weights were built with — extension needs
  *                        them to weight NEW terms consistently;
  *   - `<table>_stats`  — one row (n_docs, avgdl): the corpus-level
  *                        constants of the weight formula.
  *
  * `extend` weights an arriving batch under the FROZEN stats (df,
  * n_docs, avgdl stay build-time) and appends per-bucket files — the
  * same frozen-model discipline as [[IvfIndexStore]]'s quantizer and
  * [[LmStore]]'s denominators-at-load: scores stay comparable across
  * the whole index (a verbatim copy of a corpus doc ties its
  * original's score EXACTLY, spec-pinned), at the cost of the stats
  * drifting from the true corpus as batches accumulate — the
  * documented knob is a periodic rebuild, exactly like IVF re-training.
  * Unseen batch terms get the df=0 idf ln(1 + (N+0.5)/0.5) from the
  * frozen stats row.
  *
  * Parity: identical arithmetic to `bm25Retrieval` (per-term 4dp
  * rounding, Lucene idf, k1/b defaults), so a search over the saved
  * index reproduces the in-session query row-for-row and carries the
  * same DuckDB oracle.
  */
object Bm25IndexStore {

  def dfTable(table: String): String = s"${table}_df"
  def statsTable(table: String): String = s"${table}_stats"

  /** Per-(doc, term) BM25 weights from a precomputed (doc_id, term,
    * tf) frame under the GIVEN corpus stats — shared by build (stats
    * from the corpus itself, tf tokenized once and reused for df/dl/
    * weights) and extend (frozen stats from the artifact). Terms
    * absent from `dfreq` weight with df = 0.
    */
  private def weigh(
      tf: DataFrame, dfreq: DataFrame, stats: DataFrame,
      k1: Double, b: Double): DataFrame = {
    val dl = tf.groupBy("doc_id").agg(sum("tf").as("dl"))
    tf.join(dfreq.withColumnRenamed("tkey", "tk"),
        xxhash64(col("term")) === col("tk"), "left")
      .withColumn("df", coalesce(col("df"), lit(0L)))
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("idf", log(
        (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0))
      .withColumn("w", round(
        col("idf") * (col("tf") * lit(k1 + 1.0)) /
          (col("tf") + lit(k1) *
            (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl"))), 4))
      .select(xxhash64(col("term")).as("tkey"), col("doc_id"), col("w"))
  }

  /** Build the index from `docs` and save postings + df + stats under
    * `path`, registered as external tables. Postings carry `rnk_w` —
    * the IMPACT RANK within the term (1 = highest BM25 weight, doc_id
    * tie-break), the index-side half of [[wandSearch]]'s MaxScore
    * pruning: rank-prefix scans read the top of every list with a
    * pushed `rnk_w <= P` predicate (files are sorted by (tkey, rnk_w),
    * so parquet row-group stats skip the tails), and the P-th impact
    * per term upper-bounds every doc outside the prefix. The ranking
    * window sorts each term's postings inside its term partition —
    * at extreme scale the df cap / stopword-pruning discipline used
    * elsewhere in the repo bounds the worst list; the fixture corpora
    * sort in-task.
    */
  def build(docs: DataFrame, table: String, path: String, buckets: Int,
      k1: Double = 1.2, b: Double = 0.75): Unit = {
    val spark = docs.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS $table")
    spark.sql(s"DROP TABLE IF EXISTS ${dfTable(table)}")
    spark.sql(s"DROP TABLE IF EXISTS ${statsTable(table)}")
    Retire.reset(spark, table)
    // versioned save, the AggStore discipline: a rebuild must never
    // overwrite a directory a live plan may have listed
    val next = AggStore.versionPaths(spark, path).lastOption
      .map(p => new org.apache.hadoop.fs.Path(p).getName.drop(1).toInt + 1)
      .getOrElse(0)
    val vdir = s"$path/v$next"
    val tf = docs
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), explode(col("toks")).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .persist()
    val dfreq = tf.groupBy("term")
      .agg(count(lit(1)).as("df"))
      .select(xxhash64(col("term")).as("tkey"), col("df"))
    val stats = tf.groupBy("doc_id").agg(sum("tf").as("dl"))
      .agg(count(lit(1)).as("n_docs"), avg("dl").as("avgdl"))
    dfreq.write.option("path", s"$vdir/df").mode("overwrite")
      .format("parquet").saveAsTable(dfTable(table))
    stats.write.option("path", s"$vdir/stats").mode("overwrite")
      .format("parquet").saveAsTable(statsTable(table))
    weigh(tf, spark.table(dfTable(table)),
        spark.table(statsTable(table)), k1, b)
      .withColumn("rnk_w", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("tkey")
          .orderBy(col("w").desc, col("doc_id"))))
      .write.bucketBy(buckets, "tkey").sortBy("tkey", "rnk_w")
      .option("path", s"$vdir/postings").mode("overwrite")
      .format("parquet").saveAsTable(table)
    tf.unpersist()
  }

  /** The naive Σ-postings scoring tail, doc-co-located (r15): restrict
    * the postings to the batch's terms with a broadcast semi-join
    * (Σ-distinct-term-df rows — always ≤ the (query, doc) pair volume,
    * since every matched posting expands into ≥ 1 pair), repartition
    * THOSE by doc_id so every pair's rows share a partition, then run
    * the pair-expanding broadcast join, the tombstone mask, and the
    * [[WandKernel.naivePartialTopK]] sort+stream kernel entirely
    * within the stage. The previous shape shuffled the EXPANDED pair
    * stream through a (query, doc) hash aggregation — on the 20k-query
    * zipf batch that exchange carried ~50M rows where this one carries
    * ~0.5M matched postings (measured 18-20 s → 4.0 s full serve).
    * Partition count is the session's shuffle parallelism (explicit,
    * so AQE cannot coalesce the small exchange under the CPU count —
    * the expansion happens AFTER it). Returns partial score rows for
    * [[WandKernel.finalTopK]].
    */
  private def naivePartials(
      spark: SparkSession, post: DataFrame, q: DataFrame, topN: Int,
      mask: DataFrame => DataFrame): DataFrame = {
    val n = spark.sessionState.conf.numShufflePartitions
    val matched = post.select("tkey", "doc_id", "w")
      .join(broadcast(q.select("tkey")), Seq("tkey"), "left_semi")
      .repartition(n, col("doc_id"))
    // tombstones mask AFTER the term join (pair-sized stream, not the
    // whole postings table) and BEFORE the kernel — a pair's score is
    // the sum of its OWN postings only, so masking the doc side here
    // equals physical removal ([[Retire]] frozen-stats semantics)
    WandKernel.naivePartialTopK(
      mask(matched.join(broadcast(q), "tkey"))
        .filter(col("doc_id") =!= col("query_id"))
        .select(col("query_id"), col("doc_id"), col("w")),
      topN)
  }

  /** Top-`topN` BM25 matches per query doc, served ENTIRELY from the
    * saved index — the corpus is never re-read or re-tokenized; the
    * query batch (small by definition) tokenizes, broadcasts, and
    * probes the postings. Self-matches (query id present in the index)
    * are excluded, mirroring `bm25Retrieval`.
    */
  def search(spark: SparkSession, table: String, queryDocs: DataFrame,
      topN: Int): DataFrame =
    WandKernel.finalTopK(
      naivePartials(spark, spark.table(table), queryTerms(queryDocs), topN,
        df => Retire.survivors(spark, table, df, "doc_id")),
      topN, "score")

  /** The batch's distinct (query_id, tkey) terms. */
  private def queryTerms(queryDocs: DataFrame): DataFrame =
    queryDocs
      .select(col("doc_id").as("query_id"), tokens(col("text")).as("toks"))
      .select(col("query_id"), explode(col("toks")).as("term"))
      .distinct()
      .select(col("query_id"), xxhash64(col("term")).as("tkey"))

  /** Tombstone `ids` (doc_id rows) — deleted docs vanish from every
    * serve path immediately; [[compact]] later drops their postings
    * physically. See [[Retire]] for the full contract.
    */
  def delete(spark: SparkSession, table: String, ids: DataFrame): Unit =
    Retire.delete(spark, table, ids, "doc_id")

  /** File-granular physical removal of tombstoned postings; df/stats
    * stay frozen (they are doc-independent aggregates of the BUILD
    * corpus — the standing extend contract).
    */
  def compact(spark: SparkSession, table: String): Unit =
    Retire.compact(spark, table, Seq(table -> "doc_id"))

  /** Fold a new document batch in under the FROZEN stats: weight ONLY
    * the batch (one tokenize pass over the batch), append per-bucket
    * files — existing postings are untouched. Extended rows carry
    * `rnk_w = 0`: merging true impact ranks would rewrite existing
    * buckets, so instead rank 0 puts every extended posting INSIDE the
    * [[wandSearch]] prefix — extended docs are always exact-scored
    * candidates and the per-term caps (computed over ranks 1..P only)
    * stay sound, at the cost of the candidate set growing with the
    * extension volume. Periodic rebuild (the family's standing
    * staleness contract) restores tight ranks.
    */
  def extend(batch: DataFrame, table: String, buckets: Int,
      k1: Double = 1.2, b: Double = 0.75): Unit = {
    val spark = batch.sparkSession
    val tf = batch
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), explode(col("toks")).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    weigh(tf, spark.table(dfTable(table)),
        spark.table(statsTable(table)), k1, b)
      .withColumn("rnk_w", lit(0))
      .localCheckpoint(true)
      .write.bucketBy(buckets, "tkey").sortBy("tkey", "rnk_w")
      .mode("append").format("parquet")
      .saveAsTable(table)
  }

  /** Exact score of every candidate (query_id, doc_id) pair — the
    * SAME per-pair arithmetic as [[search]] (sum of the pair's shared
    * postings weights, 4dp-rounded), restricted to candidates by a
    * broadcast hash join on the COMPOSITE (tkey, doc_id) key: the
    * probe side is candidates × their query's terms, so a posting row
    * emits only when its (term, doc) is one a candidate pair actually
    * needs. Joining postings to query TERMS first and pair-filtering
    * after would re-emit the full Σ-postings volume (a stopword term
    * shared by hundreds of batch queries multiplies its whole list)
    * — the measured difference between WAND serving winning and
    * tying. Broadcast state is candidates × terms-per-query —
    * [[wandSearch]] keeps it bounded by routing dense queries to the
    * naive kernel and hash-chunking what remains under
    * [[WandKernel.BroadcastRows]].
    */
  private def scoreCandidates(
      post: DataFrame, q: DataFrame, cand: DataFrame): DataFrame =
    post
      .join(broadcast(cand.join(q, "query_id")), Seq("tkey", "doc_id"))
      .groupBy("query_id", "doc_id")
      .agg(round(sum("w"), 4).as("score"))

  /** Top-`topN` BM25 matches served with MaxScore-style impact-ordered
    * pruning — [[WandKernel.wandSearch]] instantiated with BM25's
    * algebra: query factor 1 (scores are plain weight sums) over the
    * saved `w` impacts; the exact-scoring and naive closures are
    * [[search]]'s arithmetic restricted to candidate pairs / query
    * sets, so output matches [[search]] row-for-row (spec-pinned; same
    * DuckDB oracle). Queries route to WAND only when pruning shrinks
    * their naive volume by [[WandKernel.RouteVolFactor]].
    */
  def wandSearch(spark: SparkSession, table: String, queryDocs: DataFrame,
      topN: Int, prefixP: Int = 64,
      broadcastRows: Long = WandKernel.BroadcastRows): DataFrame = {
    val post = spark.table(table)
    // LEFT join + coalesce(0): the frozen df table counts BUILD-time
    // terms only, but extend() appends scorable rank-0 postings for
    // out-of-build-vocabulary batch terms — an inner join would
    // silently drop such a term from the query and diverge from
    // [[search]] (which joins postings directly) on extended
    // artifacts. df = 0 only underprices that term's naive volume in
    // the routing arithmetic, never a score.
    val q = queryTerms(queryDocs)
      .join(spark.table(dfTable(table)).select("tkey", "df"), Seq("tkey"),
        "left")
      .select(col("query_id"), col("tkey"), lit(1.0).as("qf"),
        coalesce(col("df"), lit(0L)).as("df"))
    def terms(q: DataFrame): DataFrame = q.select("query_id", "tkey")
    WandKernel.wandSearch(spark, table, "w", "score", q, topN, prefixP,
        broadcastRows)(
      scoreCand = (q, cand) => scoreCandidates(post, terms(q), cand),
      naive = (q, live) => naivePartials(spark, post, terms(q), topN, live))
  }
}
