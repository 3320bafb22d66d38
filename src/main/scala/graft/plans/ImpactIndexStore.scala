package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.catalog.BucketSpec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The persisted impact-index lifecycle of the lexical retrieval stores
  * ([[Bm25IndexStore]], [[TfidfIndexStore]]), written once: tokenize +
  * weigh the corpus ONCE, save the inverted index, then serve query
  * batches, fold new document batches in and retire documents without
  * ever re-reading the corpus.
  *
  * An artifact is the postings table `<table>` — (tkey, doc_id, w, the
  * store's impact column, rnk_w), bucketed + sorted by the 64-bit term
  * fingerprint so term-keyed consumers scan pre-partitioned buckets
  * (the [[ShingleIndexStore]] argument) — plus the store's side tables
  * `<table>_<side>`, written and published together as one [[Publish]]
  * version.
  *
  * A store supplies only its algebra: side tables, build and extend
  * weighting, the WAND query frame `(query_id, tkey, qf, df, …)` and,
  * per query batch, the query side its postings join plus the tails
  * that turn matched rows into scores. Nothing here branches on which
  * store it serves, so a lifecycle or serving fix lands once.
  */
private[graft] abstract class ImpactIndexStore(
    impact: String, scoreName: String, sides: Seq[String],
    docKeyedSides: Seq[String]) {

  protected def side(table: String, name: String): String = s"${table}_$name"
  def dfTable(table: String): String = side(table, "df")
  def statsTable(table: String): String = side(table, "stats")

  /** One query batch's scoring algebra: `q` is the query side the
    * postings join on `tkey` (query_id, tkey, …); `naive` scores every
    * matched (query, posting) row of the batch into (partial) scores
    * for [[WandKernel.finalTopK]]; `exact` scores the rows of candidate
    * pairs into final (query_id, doc_id, score) rows.
    */
  protected final class Pairs(val q: DataFrame,
      val naive: DataFrame => DataFrame, val exact: DataFrame => DataFrame)

  /** The corpus postings (tkey, doc_id, w, impact), side tables saved
    * into `v`.
    */
  protected def weighBuild(docs: DataFrame, table: String, buckets: Int,
      v: Publish.Version): DataFrame

  /** The batch's postings under the FROZEN side tables, its rows in the
    * doc-keyed side tables appended.
    */
  protected def weighExtend(batch: DataFrame, table: String,
      buckets: Int): DataFrame

  protected def searchPairs(spark: SparkSession, table: String,
      queries: DataFrame, topN: Int): Pairs

  /** The batch's WAND query frame `(query_id, tkey, qf, df, …)`, and the
    * [[Pairs]] of any subset of it the kernel routes.
    */
  protected def wand(spark: SparkSession, table: String,
      queries: DataFrame, topN: Int): (DataFrame, DataFrame => Pairs)

  /** Build the index from `docs` and save it under `path`, registered as
    * external tables. Postings carry `rnk_w` — the IMPACT RANK within
    * the term (1 = highest impact, doc_id tie-break), the index-side
    * half of [[wandSearch]]'s MaxScore pruning: rank-prefix scans read
    * the top of every list with a pushed `rnk_w <= P` predicate (files
    * are sorted by (tkey, rnk_w), so parquet row-group stats skip the
    * tails), and the P-th impact per term upper-bounds every doc
    * outside the prefix. The ranking window sorts each term's postings
    * inside its term partition — at extreme scale the df cap /
    * stopword-pruning discipline used elsewhere in the repo bounds the
    * worst list; the fixture corpora sort in-task.
    */
  def build(docs: DataFrame, table: String, path: String,
      buckets: Int): Unit =
    Publish.version(docs.sparkSession, path,
        (table -> "postings") +: sides.map(n => side(table, n) -> n)) { v =>
      v.save(weighBuild(docs, table, buckets, v)
        .withColumn("rnk_w", row_number().over(Window.partitionBy("tkey")
          .orderBy(col(impact).desc, col("doc_id")))),
        table, Some(BucketSpec(buckets, Seq("tkey"), Seq("tkey", "rnk_w"))))
    }

  /** Fold a new document batch in under the FROZEN build statistics:
    * weigh ONLY the batch, append per-bucket files (bucket count read
    * from the postings table's catalog spec) — existing postings are
    * untouched. Extended rows carry `rnk_w = 0`: merging true impact
    * ranks would rewrite existing buckets, so instead rank 0 puts every
    * extended posting INSIDE the [[wandSearch]] prefix — extended docs
    * are always exact-scored candidates and the per-term caps (computed
    * over ranks 1..P only) stay sound, at the cost of the candidate set
    * growing with the extension volume. The statistics drift from the
    * true corpus as batches accumulate; periodic rebuild (the artifact
    * family's standing staleness contract) restores them and tight
    * ranks.
    */
  def extend(batch: DataFrame, table: String): Unit = {
    val buckets = Publish.bucketSpec(batch.sparkSession, table)
      .getOrElse(sys.error(s"$table is not bucketed")).numBuckets
    Publish.append(
      weighExtend(batch, table, buckets).withColumn("rnk_w", lit(0)), table)
  }

  /** Tombstone `ids` (doc_id rows) — deleted docs vanish from results,
    * candidates, θ-seeds and query sides immediately; [[compact]] drops
    * their rows physically. See [[Retire]].
    */
  def delete(spark: SparkSession, table: String, ids: DataFrame): Unit =
    Retire.delete(spark, table, ids, "doc_id")

  /** File-granular physical removal of tombstoned rows from the
    * postings and the doc-keyed side tables; the term- and corpus-keyed
    * statistics stay frozen (the extend contract — weights of surviving
    * docs never move).
    */
  def compact(spark: SparkSession, table: String): Unit =
    Retire.compact(spark, table,
      (table +: docKeyedSides.map(side(table, _))).map(_ -> "doc_id"))

  /** Top-`topN` matches per query, served ENTIRELY from the saved index
    * by the naive kernel. Self-matches are excluded; pairs sharing no
    * term never surface.
    */
  def search(spark: SparkSession, table: String, queries: DataFrame,
      topN: Int): DataFrame =
    WandKernel.finalTopK(
      naive(spark, spark.table(table), searchPairs(spark, table, queries,
        topN), Retire.survivors(spark, table, _, "doc_id")),
      topN, scoreName)

  /** Top-`topN` matches served with MaxScore-style impact-ordered
    * pruning — [[WandKernel.wandSearch]] instantiated with the store's
    * algebra. Exact scoring joins candidates on the COMPOSITE (tkey,
    * doc_id) key: the broadcast side is candidates × their query's
    * terms, so a posting row emits only when its (term, doc) is one a
    * candidate pair actually needs. Joining postings to query TERMS
    * first and pair-filtering after would re-emit the full Σ-postings
    * volume (a stopword term shared by hundreds of batch queries
    * multiplies its whole list) — the measured difference between WAND
    * serving winning and tying. Broadcast state stays bounded because
    * the kernel routes dense queries to the naive kernel and
    * hash-chunks what remains under `broadcastRows`; a query routes to
    * WAND only when pruning shrinks its naive volume by
    * [[WandKernel.RouteVolFactor]]. Output matches [[search]]
    * row-for-row (spec-pinned; same DuckDB oracle).
    */
  def wandSearch(spark: SparkSession, table: String, queries: DataFrame,
      topN: Int, prefixP: Int = 64,
      broadcastRows: Long = WandKernel.BroadcastRows): DataFrame = {
    val post = spark.table(table)
    val (query, pairs) = wand(spark, table, queries, topN)
    WandKernel.wandSearch(spark, table, impact, scoreName, query, topN,
        prefixP, broadcastRows)(
      scoreCand = (q, cand) => {
        val p = pairs(q)
        p.exact(post.join(broadcast(cand.join(p.q, "query_id")),
          Seq("tkey", "doc_id")))
      },
      naive = (q, live) => naive(spark, post, pairs(q), live))
  }

  /** The naive Σ-postings kernel, doc-co-located (r15): restrict the
    * postings to the batch's terms with a broadcast semi-join
    * (Σ-distinct-term-df rows — always ≤ the (query, doc) pair volume,
    * since every matched posting expands into ≥ 1 pair), repartition
    * THOSE by doc_id so every pair's rows share a partition, then run
    * the pair-expanding broadcast join, the tombstone mask and the
    * store's naive tail entirely within the stage. The previous shape
    * shuffled the EXPANDED pair stream through a (query, doc) hash
    * aggregation — on the 20k-query zipf batch that exchange carried
    * ~50M rows where this one carries ~0.5M matched postings (measured
    * 18-20 s → 4.0 s full serve). Partition count is the session's
    * shuffle parallelism (explicit, so AQE cannot coalesce the small
    * exchange under the CPU count — the expansion happens AFTER it).
    */
  private def naive(spark: SparkSession, post: DataFrame, p: Pairs,
      mask: DataFrame => DataFrame): DataFrame = {
    val matched = post.select("tkey", "doc_id", "w")
      .join(broadcast(p.q.select("tkey")), Seq("tkey"), "left_semi")
      .repartition(spark.sessionState.conf.numShufflePartitions, col("doc_id"))
    // tombstones mask AFTER the term join (pair-sized stream, not the
    // whole postings table) and BEFORE the tail — a pair's score
    // involves only its OWN postings, so masking the doc side here
    // equals physical removal ([[Retire]] frozen-stats semantics)
    p.naive(mask(matched.join(broadcast(p.q), "tkey"))
      .filter(col("doc_id") =!= col("query_id")))
  }

  /** `rows` (tkey-keyed) with the pricing df the kernel routes on. LEFT
    * join + coalesce(0): the frozen df table counts BUILD-time terms
    * only, but extend appends scorable rank-0 postings for terms no
    * build posting carried — an inner join would silently drop such a
    * term from the query and diverge from [[search]] (which joins
    * postings directly) on extended artifacts. df = 0 only underprices
    * that term's naive volume in the routing arithmetic, never a score.
    */
  protected def priced(spark: SparkSession, table: String,
      rows: DataFrame): DataFrame =
    rows.join(spark.table(dfTable(table)).select("tkey", "df"),
        Seq("tkey"), "left")
      .withColumn("df", coalesce(col("df"), lit(0L)))
}
