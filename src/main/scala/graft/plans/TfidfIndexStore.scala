package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted tf-idf retrieval index — the vector-space sibling of
  * [[Bm25IndexStore]], closing the artifact family for the hybrid
  * (tf-idf + BM25 → RRF) retrieval stack: tokenize + weight the corpus
  * ONCE, save the top-k postings and per-doc norms, then serve query
  * batches from the artifact without re-touching the corpus.
  *
  * The artifact is TWO tables:
  *   - `<table>`        — postings (tkey, doc_id, w): each document's
  *                        top-k tf-idf terms (4dp-rounded weights, the
  *                        house parity regime), bucketed + sorted by
  *                        the 64-bit term fingerprint;
  *   - `<table>_norms`  — (doc_id, nrm): the vector norms the cosine
  *                        denominator needs.
  *
  * Parity: identical per-term weights to
  * [[graft.operators.TextAnalysis.tfidfRetrieval]] (both 4dp-rounded at
  * the score stage); the dot re-accumulates via a term-keyed sum
  * instead of the in-session kernel's sorted-key merge, a summation-
  * order difference of ~1e-13 — absorbed by the 4dp cosine rounding
  * that both forms rank on (the same argument the BM25 store's oracle
  * reuse rests on). So a search over the saved index reproduces the
  * in-session query row-for-row and carries the same DuckDB oracle.
  *
  * Refresh discipline: rebuild (versioned dirs, repoint-not-overwrite —
  * the [[AggStore]] rule), with a frozen-stats [[extend]] in the
  * [[Bm25IndexStore]] style for continual ingest between rebuilds:
  * the batch weights under the SAVED raw df + n_docs (persisted at
  * build exactly for this), so existing postings never rewrite.
  * tf-idf's idf couples every weight to n_docs, so extension drifts
  * as the corpus grows — the same staleness contract as the whole
  * frozen-stats family, reset by the periodic rebuild.
  */
object TfidfIndexStore {

  def normsTable(table: String): String = s"${table}_norms"
  def dfTable(table: String): String = s"${table}_df"
  def rawDfTable(table: String): String = s"${table}_rawdf"
  def statsTable(table: String): String = s"${table}_stats"
  def byDocTable(table: String): String = s"${table}_bydoc"

  /** Build the top-`k`-term index from `docs` and save postings + norms
    * under `path`, registered as external tables.
    */
  def build(
      docs: DataFrame, k: Int, table: String, path: String,
      buckets: Int): Unit = {
    val spark = docs.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS $table")
    spark.sql(s"DROP TABLE IF EXISTS ${normsTable(table)}")
    spark.sql(s"DROP TABLE IF EXISTS ${dfTable(table)}")
    spark.sql(s"DROP TABLE IF EXISTS ${rawDfTable(table)}")
    spark.sql(s"DROP TABLE IF EXISTS ${statsTable(table)}")
    spark.sql(s"DROP TABLE IF EXISTS ${byDocTable(table)}")
    Retire.reset(spark, table)
    val next = AggStore.versionPaths(spark, path).lastOption
      .map(p => new org.apache.hadoop.fs.Path(p).getName.drop(1).toInt + 1)
      .getOrElse(0)
    val vdir = s"$path/v$next"
    // the FROZEN idf inputs [[extend]] folds new batches in under:
    // raw per-term document frequency (over the whole corpus, BEFORE
    // top-k selection — the idf the build's weights actually used)
    // and the corpus size
    val tf0 = graft.operators.TextAnalysis.termFreq(docs).persist()
    tf0.groupBy(xxhash64(col("term")).as("tkey"))
      .agg(count(lit(1)).as("df"))
      .write.option("path", s"$vdir/rawdf").mode("overwrite")
      .format("parquet").saveAsTable(rawDfTable(table))
    docs.agg(count(lit(1)).as("n_docs"))
      .write.option("path", s"$vdir/stats").mode("overwrite")
      .format("parquet").saveAsTable(statsTable(table))
    // w > 0 filter: top-k selection KEEPS zero-score terms (df ==
    // n_docs makes log(N/df) = 0), and a doc whose every selected term
    // scores 0 would get nrm = 0 → wn = 0/0 = NaN postings that poison
    // the impact order and every cosine they touch. A zero posting
    // contributes nothing to any dot product or norm, so dropping it
    // is output-identical for every doc with a positive term; all-zero
    // docs (which could never match at nonzero cosine) drop from the
    // index instead of entering it as NaN.
    val postings = graft.operators.TextAnalysis
      .tfidfTopTermsFromTf(tf0,
        spark.table(statsTable(table)), k)
      .select(xxhash64(col("term")).as("tkey"),
        col("doc_id"), col("score").as("w"))
      .filter(col("w") > 0.0)
      .persist()
    postings.groupBy("doc_id")
      .agg(sqrt(sum(col("w") * col("w"))).as("nrm"))
      .write.option("path", s"$vdir/norms").mode("overwrite")
      .format("parquet").saveAsTable(normsTable(table))
    // `wn` is the NORM-SCALED weight w/‖d‖ — the cosine contribution a
    // posting can make per unit of query weight, i.e. the impact the
    // [[wandSearch]] bounds must order by (raw w would mis-rank long
    // documents); `rnk_w` is the impact rank within the term, the same
    // prefix/cap machinery as [[Bm25IndexStore.build]]. Zero-norm docs
    // cannot occur here BECAUSE of the w > 0 filter above (without it,
    // a doc whose every selected term has df == n_docs scores all-zero).
    // per-term selected-postings count — [[wandSearch]]'s candidate-
    // volume pricing reads it to choose its tail rule per query
    postings.groupBy("tkey").agg(count(lit(1)).as("df"))
      .write.option("path", s"$vdir/df").mode("overwrite")
      .format("parquet").saveAsTable(dfTable(table))
    val norms = spark.table(normsTable(table))
    postings.join(norms, "doc_id")
      .withColumn("wn", col("w") / col("nrm"))
      .withColumn("rnk_w", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("tkey")
          .orderBy(col("wn").desc, col("doc_id"))))
      .select("tkey", "doc_id", "w", "wn", "rnk_w")
      .write.bucketBy(buckets, "tkey").sortBy("tkey", "rnk_w")
      .option("path", s"$vdir/postings").mode("overwrite")
      .format("parquet").saveAsTable(table)
    // DOC-KEYED secondary layout for the doc-as-query fetch: the main
    // postings are clustered for the IMPACT access path ((tkey, rnk_w)
    // sorted — a doc_id probe has zero locality there and pays a full
    // 5-column scan before serving can even price a batch). This copy
    // is 3 narrow columns, range-clustered + sorted by doc_id, so a
    // query-vector fetch is a compact scan with per-file/row-group
    // doc_id stats available to push a batch hull down to.
    postings.select("doc_id", "tkey", "w")
      .repartitionByRange(buckets, col("doc_id"))
      .sortWithinPartitions("doc_id")
      .write.option("path", s"$vdir/bydoc").mode("overwrite")
      .format("parquet").saveAsTable(byDocTable(table))
    postings.unpersist()
    tf0.unpersist()
    ()
  }

  /** Fold a new document batch in under the FROZEN idf (saved raw df
    * + n_docs): tokenize ONLY the batch, weight with the build-time
    * statistics (terms unseen at build time drop — they have no idf
    * and could never match a saved posting anyway), take the same
    * top-`k` per doc, append norms + postings. Existing postings are
    * untouched; an exact copy of an indexed document weights
    * identically and so remains findable as a duplicate. Extended
    * postings carry `rnk_w = 0` — always inside [[wandSearch]]'s
    * prefix, so early-terminated serving stays exact after extension
    * (caps are computed over true ranks only), at the cost of the
    * candidate set growing with extension volume until the periodic
    * rebuild re-ranks. `k` must match the build's. The pricing df
    * table is NOT updated (same staleness contract as
    * [[Bm25IndexStore.extend]]).
    */
  def extend(batch: DataFrame, table: String, buckets: Int,
      k: Int = 10): Unit = {
    val spark = batch.sparkSession
    import org.apache.spark.sql.expressions.Window
    val rawdf = spark.table(rawDfTable(table))
    val nDocs = spark.table(statsTable(table))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("score").desc, col("term"))
    val scored = graft.operators.TextAnalysis.termFreq(batch)
      .withColumn("tkey", xxhash64(col("term")))
      .join(rawdf, "tkey")
      .crossJoin(broadcast(nDocs))
      .withColumn("score",
        round(col("tf") * log(col("n_docs").cast("double") / col("df")),
          4))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("tkey"), col("doc_id"), col("score").as("w"))
      // the build's w > 0 rule (an all-zero batch doc must drop, not
      // enter the index as NaN postings)
      .filter(col("w") > 0.0)
      .localCheckpoint(true)
    val nrm = scored.groupBy("doc_id")
      .agg(sqrt(sum(col("w") * col("w"))).as("nrm"))
      .localCheckpoint(true)
    nrm.write.mode("append").format("parquet")
      .saveAsTable(normsTable(table))
    // mirror FIRST, postings second: a crash between the two appends
    // must leave the read-authoritative mirror ⊇ the main postings'
    // doc vectors — queryVectors prefers the mirror unconditionally,
    // so every doc that IS searchable keeps a complete query vector
    // (the reverse order would leave indexed docs with silently
    // truncated vectors forever); a mirror-only orphan doc merely
    // carries a vector no postings reference until the extend retries.
    // Pre-bydoc artifacts have no mirror and the readers fall back to
    // the main postings.
    // range-cluster the appended files like the build does — appending
    // under the batch's arbitrary partitioning would leave files whose
    // per-file doc_id stats span the whole id range, eroding the
    // pushdown the mirror exists for as extensions accumulate
    if (spark.catalog.tableExists(byDocTable(table)))
      scored.select("doc_id", "tkey", "w")
        .repartitionByRange(buckets, col("doc_id"))
        .sortWithinPartitions("doc_id")
        .write.mode("append").format("parquet")
        .saveAsTable(byDocTable(table))
    scored.join(nrm, "doc_id")
      .withColumn("wn", col("w") / col("nrm"))
      .withColumn("rnk_w", lit(0))
      .select("tkey", "doc_id", "w", "wn", "rnk_w")
      .write.bucketBy(buckets, "tkey").sortBy("tkey", "rnk_w")
      .mode("append").format("parquet")
      .saveAsTable(table)
  }

  /** The query-vector fetch (queries are corpus members): the batch's
    * saved (tkey, wq) rows, read from the doc-keyed mirror when the
    * artifact has one — a compact 3-column, doc_id-clustered scan —
    * and from the main impact-ordered postings otherwise (pre-bydoc
    * artifacts keep working; they just pay the wide unclustered scan
    * this mirror exists to avoid).
    */
  private def queryVectors(spark: SparkSession, table: String,
      queryIds: DataFrame): DataFrame = {
    val src =
      if (spark.catalog.tableExists(byDocTable(table)))
        spark.table(byDocTable(table))
      else spark.table(table).select("doc_id", "tkey", "w")
    // a tombstoned doc cannot serve as a QUERY either — reading its
    // saved vector back is itself a retention violation; its query ids
    // simply return no rows (the same observable a rebuilt index gives)
    Retire.survivors(spark, table, src, "doc_id")
      .join(broadcast(queryIds), "doc_id")
      .select(col("tkey"), col("doc_id").as("query_id"),
        col("w").as("wq"))
  }

  /** Tombstone `ids` (doc_id rows) — deleted docs vanish from results,
    * candidates, θ-seeds AND the query side immediately; [[compact]]
    * drops their rows physically. See [[Retire]].
    */
  def delete(spark: SparkSession, table: String, ids: DataFrame): Unit =
    Retire.delete(spark, table, ids, "doc_id")

  /** File-granular physical removal across postings, norms and the
    * doc-keyed mirror; df/rawdf/stats stay frozen (the standing extend
    * contract — weights of surviving docs never move).
    */
  def compact(spark: SparkSession, table: String): Unit =
    Retire.compact(spark, table, Seq(
      table -> "doc_id",
      normsTable(table) -> "doc_id",
      byDocTable(table) -> "doc_id"))

  /** The naive Σ-postings cosine tail, doc-co-located (r15, the
    * [[Bm25IndexStore]] `naivePartials` discipline): a broadcast
    * semi-join restricts the postings to the batch's terms
    * (Σ-distinct-term-df rows — always ≤ the (query, doc) pair volume
    * the previous shape shuffled through its pair aggregation), those
    * rows repartition by doc_id, and the pair-expanding join plus the
    * (query, doc) dot aggregation ride that partitioning exchange-free
    * (HashPartitioning(doc_id) clusters every pair). The dot/norm
    * arithmetic is byte-identical to the r14 shape — only summation
    * order inside a pair can move, the documented ~1e-13-under-4dp
    * regime. The norms join runs after the aggregation exactly as
    * before.
    */
  private def naiveCosine(
      spark: SparkSession, post: DataFrame, norms: DataFrame,
      qpost: DataFrame, qn: DataFrame,
      mask: DataFrame => DataFrame): DataFrame = {
    val n = spark.sessionState.conf.numShufflePartitions
    val matched = post.select("tkey", "doc_id", "w")
      .join(broadcast(qpost.select("tkey")), Seq("tkey"), "left_semi")
      .repartition(n, col("doc_id"))
    // neighbor-side tombstone mask after the term join (pair-sized
    // stream) — a pair's cosine involves only its own postings + norm,
    // so masking here equals physical removal ([[Retire]])
    mask(matched.join(broadcast(qpost), "tkey"))
      .filter(col("doc_id") =!= col("query_id"))
      .groupBy("query_id", "doc_id")
      .agg(sum(col("wq") * col("w")).as("dot"))
      .join(norms, "doc_id")
      .join(broadcast(qn), "query_id")
      .select(col("query_id"), col("doc_id"),
        round(col("dot") / (col("nq") * col("nrm")), 4).as("score"))
  }

  /** Top-`topN` cosine matches per query id, served ENTIRELY from the
    * saved index — query vectors are the queries' own saved postings
    * rows (queries are corpus members, the doc-as-query retrieval
    * shape), so not even the query batch re-tokenizes. Self-matches
    * excluded; pairs sharing zero terms never surface (no join row) —
    * both mirroring the in-session form.
    */
  def search(spark: SparkSession, table: String, queryIds: DataFrame,
      topN: Int): DataFrame = {
    val norms = spark.table(normsTable(table))
    WandKernel.finalTopK(
      naiveCosine(spark, spark.table(table), norms,
        queryVectors(spark, table, queryIds), queryNorms(norms, queryIds),
        df => Retire.survivors(spark, table, df, "doc_id")),
      topN, "cosine")
  }

  /** The batch's (query_id, nq) vector norms. */
  private def queryNorms(norms: DataFrame, queryIds: DataFrame): DataFrame =
    norms.join(broadcast(queryIds), "doc_id")
      .select(col("doc_id").as("query_id"), col("nrm").as("nq"))

  /** Exact cosine of every candidate pair — [[search]]'s arithmetic
    * (term-keyed dot, norm division, 4dp rounding) restricted to
    * candidates via scan-side semi-joins; emitted rows track the
    * candidate set, not Σ postings.
    */
  private def scoreCandidates(
      post: DataFrame, norms: DataFrame, qpost: DataFrame,
      qn: DataFrame, cand: DataFrame): DataFrame =
    post
      .join(broadcast(cand.join(qpost, "query_id")),
        Seq("tkey", "doc_id"))
      .groupBy("query_id", "doc_id")
      .agg(sum(col("wq") * col("w")).as("dot"))
      .join(norms, "doc_id")
      .join(broadcast(qn), "query_id")
      .select(col("query_id"), col("doc_id"),
        round(col("dot") / (col("nq") * col("nrm")), 4).as("score"))

  /** Top-`topN` cosine matches served with MaxScore-style pruning —
    * [[WandKernel.wandSearch]] instantiated with the cosine algebra: a
    * pair's cosine is Σ_t (wq_t/‖q‖)·(w_t/‖d‖), so the query factor is
    * wq/‖q‖ and the impact is the saved norm-scaled `wn` = w/‖d‖. The
    * norm DIVISION lives in the exact-scoring and naive closures, which
    * reproduce [[search]]'s Σ wq·w / (‖q‖·‖d‖) summation order to the
    * ulp, so 4dp rounding cannot diverge between paths and output
    * matches [[search]] row-for-row (spec-pinned; same oracle).
    * Queries route to WAND only when pruning shrinks their naive Σ df
    * volume by [[WandKernel.RouteVolFactor]].
    */
  def wandSearch(spark: SparkSession, table: String, queryIds: DataFrame,
      topN: Int, prefixP: Int = 64,
      broadcastRows: Long = WandKernel.BroadcastRows): DataFrame = {
    val post = spark.table(table)
    val norms = spark.table(normsTable(table))
    // the batch's saved vectors come from the doc-keyed mirror
    // ([[queryVectors]]), not a full impact-ordered postings scan, so
    // the pre-route can refuse a dense batch having touched only the
    // mirror and the df table. LEFT join + coalesce(0): the pricing df
    // table counts BUILD-time selected postings only, but an extend()ed
    // doc's top-k can hold a term no build doc selected — an inner join
    // would silently DROP that term from the query vector; df = 0
    // merely underprices that term's naive volume, never a score. nq
    // rides along so one bounded job fetches the whole query state.
    val q = queryVectors(spark, table, queryIds)
      .join(spark.table(dfTable(table)).select("tkey", "df"), Seq("tkey"),
        "left")
      .join(broadcast(queryNorms(norms, queryIds)), "query_id")
      .select(col("query_id"), col("tkey"), (col("wq") / col("nq")).as("qf"),
        coalesce(col("df"), lit(0L)).as("df"), col("wq"), col("nq"))
    def vec(q: DataFrame): DataFrame = q.select("tkey", "query_id", "wq")
    def qn(q: DataFrame): DataFrame = q.select("query_id", "nq").distinct()
    WandKernel.wandSearch(spark, table, "wn", "cosine", q, topN, prefixP,
        broadcastRows)(
      scoreCand = (q, cand) =>
        scoreCandidates(post, norms, vec(q), qn(q), cand),
      naive = (q, live) => naiveCosine(spark, post, norms, vec(q), qn(q), live))
  }
}
