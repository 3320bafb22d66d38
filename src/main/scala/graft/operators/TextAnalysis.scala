package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables._
import graft.functions.TextFunctions._
import Relational.Q

/** Text-analysis operators over the `documents` table (SURVEY.md §7.4
  * north-star: language-ID, quality scoring, token counting,
  * fingerprinting). Every expression is a built-in/codegen'd Column —
  * these run as one pass over the corpus with no shuffle except the final
  * presentation sort (which exists only for oracle determinism; a real
  * pipeline would keep them unsorted).
  *
  * Parity notes: every ratio is an int/int division (IEEE-exact and
  * identical in DuckDB) rounded to 4dp; token counts are size() vs len()
  * over the same `\s+` split with empties filtered.
  */
object TextAnalysis {

  // ---------------------------------------------------------------------
  // Quality scoring: per-document token stats + punctuation / stopword /
  // digit ratios — the length-and-composition heuristics used to filter
  // LLM training corpora.
  // ---------------------------------------------------------------------
  val qTextStats: Q = (s, d) => {
    val stops = Seq("the", "a", "and", "of", "to", "in", "is")
    // tokenize ONCE into an intermediate column — each tokens(text) call
    // would otherwise re-split per derived expression (4 regex passes)
    documents(s, d)
      .select(col("doc_id"), col("text"), tokens(col("text")).as("toks"))
      .select(
        col("doc_id"),
        size(col("toks")).as("n_tokens"),
        length(col("text")).as("n_chars_actual"),
        (length(col("text")) -
          length(regexp_replace(col("text"), "[^a-zA-Z0-9\\s]", "")))
          .as("n_punct"),
        size(filter(col("toks"), t => t.isin(stops.map(lit): _*)))
          .as("n_stop"),
        (length(col("text")) -
          length(regexp_replace(col("text"), "[0-9]", ""))).as("n_digit"))
      .select(
        col("doc_id"), col("n_tokens"), col("n_chars_actual"),
        round(col("n_chars_actual").cast("double") / col("n_tokens"), 4)
          .as("chars_per_token"),
        round(col("n_punct").cast("double") / col("n_chars_actual"), 4)
          .as("punct_ratio"),
        round(col("n_stop").cast("double") / col("n_tokens"), 4)
          .as("stopword_ratio"),
        round(col("n_digit").cast("double") / col("n_chars_actual"), 4)
          .as("digit_ratio"))
      .orderBy("doc_id")
  }

  val qTextStatsSql: String =
    """SELECT doc_id,
      |  len(list_filter(string_split_regex(trim(text), '\s+'),
      |      t -> t <> '')) AS n_tokens,
      |  len(text) AS n_chars_actual,
      |  round(CAST(len(text) AS DOUBLE) /
      |    len(list_filter(string_split_regex(trim(text), '\s+'),
      |        t -> t <> '')), 4) AS chars_per_token,
      |  round(CAST(len(text) -
      |      len(regexp_replace(text, '[^a-zA-Z0-9\s]', '', 'g'))
      |    AS DOUBLE) / len(text), 4) AS punct_ratio,
      |  round(CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
      |      t -> t IN ('the','a','and','of','to','in','is'))) AS DOUBLE) /
      |    len(list_filter(string_split_regex(trim(text), '\s+'),
      |        t -> t <> '')), 4) AS stopword_ratio,
      |  round(CAST(len(text) -
      |      len(regexp_replace(text, '[0-9]', '', 'g'))
      |    AS DOUBLE) / len(text), 4) AS digit_ratio
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // Language ID: marker-word counts per language + CJK codepoint count,
  // argmax with a fixed priority order on ties, 'und' when nothing
  // matches. (On the synthetic fixture the `lang` column is decorative —
  // all texts share one vocabulary — so this checks the OPERATOR, not
  // fixture accuracy.)
  // ---------------------------------------------------------------------
  val qLangId: Q = (s, d) => {
    val scores: Seq[(String, Column)] =
      langMarkers.map { case (lang, ms) =>
        lang -> markerCount(col("text"), ms)
      } :+ ("zh" -> cjkCount(col("text")))
    val best = greatest(scores.map(_._2): _*)
    val pred = scores.foldRight(lit("und")) { case ((lang, sc), acc) =>
      when(best > 0 && sc === best, lang).otherwise(acc)
    }
    // foldRight gives earlier entries (en first) precedence on ties
    documents(s, d)
      .select(col("doc_id"), pred.as("pred_lang"))
      .orderBy("doc_id")
  }

  val qLangIdSql: String = {
    def cnt(ms: Seq[String]): String = {
      val orCond = ms.map(m => s"t = '$m'").mkString(" OR ")
      s"len(list_filter(string_split_regex(trim(text), '\\s+'), t -> $orCond))"
    }
    val en = cnt(Seq("the", "and", "of", "is", "a"))
    val de = cnt(Seq("der", "die", "und", "nicht", "das"))
    val es = cnt(Seq("el", "los", "que", "y", "una"))
    val fr = cnt(Seq("le", "les", "et", "est", "une"))
    val zh = "len(regexp_replace(text, '[^\\x{4e00}-\\x{9fff}]', '', 'g'))"
    s"""WITH sc AS (SELECT doc_id, $en AS s_en, $de AS s_de, $es AS s_es,
       |  $fr AS s_fr, $zh AS s_zh FROM documents),
       |b AS (SELECT doc_id, greatest(s_en, s_de, s_es, s_fr, s_zh) AS m,
       |  s_en, s_de, s_es, s_fr, s_zh FROM sc)
       |SELECT doc_id,
       |  CASE WHEN m > 0 AND s_en = m THEN 'en'
       |       WHEN m > 0 AND s_de = m THEN 'de'
       |       WHEN m > 0 AND s_es = m THEN 'es'
       |       WHEN m > 0 AND s_fr = m THEN 'fr'
       |       WHEN m > 0 AND s_zh = m THEN 'zh'
       |       ELSE 'und' END AS pred_lang
       |FROM b
       |ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------------
  // Lang-ID confusion matrix — the classifier-evaluation cross-tab over
  // the fixture's labeled langs: (true lang, predicted lang, count,
  // row-normalized fraction). The diagonal fractions are per-language
  // recall; off-diagonal cells say WHICH confusions the marker
  // heuristic makes — the artifact you read before trusting a lang
  // filter's budget math. State is langs² cells however large the
  // corpus; the prediction is the per-row map of qLangId.
  // ---------------------------------------------------------------------
  val qLangIdConfusion: Q = (s, d) => {
    val pred = qLangId(s, d)
    val cells = documents(s, d).select("doc_id", "lang")
      .join(pred, "doc_id")
      .groupBy("lang", "pred_lang")
      .agg(count(lit(1)).as("n"))
    val tot = cells.groupBy("lang").agg(sum("n").as("n_lang"))
    cells.join(broadcast(tot), "lang")
      .select(col("lang"), col("pred_lang"), col("n"),
        round(col("n").cast("double") / col("n_lang"), 4).as("frac"))
      .orderBy("lang", "pred_lang")
  }

  val qLangIdConfusionSql: String =
    s"""WITH p AS ($qLangIdSql),
      |cells AS (SELECT d.lang, p.pred_lang,
      |    CAST(count(*) AS BIGINT) AS n
      |  FROM documents d JOIN p USING (doc_id)
      |  GROUP BY 1, 2),
      |tot AS (SELECT lang, CAST(sum(n) AS BIGINT) AS n_lang
      |        FROM cells GROUP BY 1)
      |SELECT lang, pred_lang, n,
      |  round(CAST(n AS DOUBLE) / n_lang, 4) AS frac
      |FROM cells JOIN tot USING (lang)
      |ORDER BY lang, pred_lang""".stripMargin

  // ---------------------------------------------------------------------
  // Token counting with a BPE-ish lexer regex: words / numbers / symbol
  // tokens counted separately, aggregated per source.
  // ---------------------------------------------------------------------
  val qTokenClasses: Q = (s, d) =>
    documents(s, d)
      .select(
        col("source"),
        regexp_count(col("text"), lit("[A-Za-z]+")).as("w"),
        regexp_count(col("text"), lit("[0-9]+")).as("n"),
        regexp_count(col("text"), lit("[^A-Za-z0-9\\s]")).as("p"))
      .groupBy("source")
      .agg(
        sum("w").as("word_tokens"),
        sum("n").as("number_tokens"),
        sum("p").as("symbol_tokens"))
      .orderBy("source")

  val qTokenClassesSql: String =
    """SELECT source,
      |  CAST(sum(len(regexp_extract_all(text, '[A-Za-z]+'))) AS BIGINT)
      |    AS word_tokens,
      |  CAST(sum(len(regexp_extract_all(text, '[0-9]+'))) AS BIGINT)
      |    AS number_tokens,
      |  CAST(sum(len(regexp_extract_all(text, '[^A-Za-z0-9\s]'))) AS BIGINT)
      |    AS symbol_tokens
      |FROM documents
      |GROUP BY source
      |ORDER BY source""".stripMargin

  // ---------------------------------------------------------------------
  // Document fingerprinting: md5 over the normalized text (lowercase,
  // non-alphanumerics stripped) — the cheap exact-dup key.
  // ---------------------------------------------------------------------
  val qFingerprint: Q = (s, d) =>
    documents(s, d)
      .select(col("doc_id"), fingerprint(col("text")).as("fp"))
      .orderBy("doc_id")

  val qFingerprintSql: String =
    """SELECT doc_id,
      |  md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS fp
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // Source-vs-source content overlap via the KMinSketch Aggregator: one
  // fixed-size bottom-k sketch per source (mergeable across partitions),
  // then pairwise bottom-k Jaccard estimates over the sketches only —
  // O(sources² · k) regardless of corpus size, the sketch-then-compare
  // shape that makes corpus-level overlap tractable at 100 TB. The
  // estimator is pure built-in array ops (no UDF): union-sketch = k
  // smallest of A∪B, estimate = |union ∩ A ∩ B| / |union|.
  // xxhash64-based → rows-only driver check; KMinSketchSpec bounds the
  // estimate against exact Jaccard.
  // ---------------------------------------------------------------------
  val qSourceOverlap: Q = (s, d) => {
    import s.implicits._
    val k = 256
    val shingles = documents(s, d)
      .select(col("source"), tokens(col("text")).as("toks"))
      .select(col("source"),
        explode(shinglesFromTokens(col("toks"), 2)).as("g"))
      .distinct()
    val sketches = shingles
      .select(col("source"), xxhash64(col("g")).as("h"))
      .as[(String, Long)]
      .groupByKey(_._1).mapValues(_._2)
      .agg(new graft.functions.KMinSketch(k).toColumn.name("sketch"))
      .toDF("source", "sketch")
    val a = sketches.toDF("source_a", "sk_a")
    val b = sketches.toDF("source_b", "sk_b")
    val unionSketch =
      slice(array_sort(array_distinct(concat(col("sk_a"), col("sk_b")))),
        1, k)
    val both = size(array_intersect(unionSketch,
      array_intersect(col("sk_a"), col("sk_b"))))
    a.join(b, col("source_a") < col("source_b"))
      .select(col("source_a"), col("source_b"),
        round(both.cast("double") / size(unionSketch), 4)
          .as("jaccard_est"))
      .orderBy("source_a", "source_b")
  }

  // ---------------------------------------------------------------------
  // Exact source-vs-source overlap — the ground truth q_source_overlap
  // estimates. Same distinct-bigram sets, but the full inverted-index
  // self-join instead of bottom-k sketches: cost grows with corpus
  // content (the reason the sketch exists), which is exactly what makes
  // this the right ORACLED cross-check at test scale. PipelineOpsSpec
  // pins |estimate − exact| per source pair; the driver hash-checks this
  // one against DuckDB.
  // ---------------------------------------------------------------------
  val qSourceOverlapExact: Q = (s, d) => {
    // the distinct (source, shingle) index feeds sizes + both join sides
    val sh = documents(s, d)
      .select(col("source"), tokens(col("text")).as("toks"))
      .select(col("source"),
        explode(array_distinct(shinglesFromTokens(col("toks"), 2))).as("g"))
      .distinct()
      .persist()
    val sizes = sh.groupBy("source").agg(count(lit(1)).as("n"))
    val inter = sh.toDF("source_a", "g")
      .join(sh.toDF("source_b", "g"), "g")
      .filter(col("source_a") < col("source_b"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("i"))
    // all source pairs, zero-intersection ones included (the sketch
    // query emits every pair too)
    val out = sizes.toDF("source_a", "na")
      .join(sizes.toDF("source_b", "nb"), col("source_a") < col("source_b"))
      .join(inter, Seq("source_a", "source_b"), "left")
      .withColumn("i0", coalesce(col("i"), lit(0L)))
      .select(col("source_a"), col("source_b"),
        round(col("i0").cast("double") / (col("na") + col("nb") - col("i0")),
          4).as("jaccard"))
      .orderBy("source_a", "source_b")
      .localCheckpoint(true)
    sh.unpersist()
    out
  }

  val qSourceOverlapExactSql: String =
    """WITH t AS (SELECT source, doc_id,
      |    list_filter(string_split_regex(trim(text), '\s+'),
      |                x -> x <> '') AS l
      |  FROM documents),
      |mx AS (SELECT max(len(l)) AS m FROM t),
      |sh AS (SELECT DISTINCT source,
      |         l[CAST(i AS INT)] || ' ' || l[CAST(i AS INT)+1] AS g
      |       FROM t CROSS JOIN
      |         (SELECT unnest(range(1, (SELECT m FROM mx))) AS i) r
      |       WHERE CAST(i AS INT) + 1 <= len(l)),
      |sizes AS (SELECT source, count(*) AS n FROM sh GROUP BY 1),
      |inter AS (SELECT a.source AS source_a, b.source AS source_b,
      |            count(*) AS i
      |          FROM sh a JOIN sh b
      |            ON a.g = b.g AND a.source < b.source
      |          GROUP BY 1, 2)
      |SELECT sa.source AS source_a, sb.source AS source_b,
      |  round(CAST(COALESCE(i, 0) AS DOUBLE) /
      |        (sa.n + sb.n - COALESCE(i, 0)), 4) AS jaccard
      |FROM sizes sa
      |JOIN sizes sb ON sa.source < sb.source
      |LEFT JOIN inter ON source_a = sa.source AND source_b = sb.source
      |ORDER BY source_a, source_b""".stripMargin

  // ---------------------------------------------------------------------
  // TF-IDF: per-document top-3 terms by tf·ln(N/df), the classic
  // salient-term extraction. Shuffle shape at scale: one exchange of the
  // exploded tokens keyed (doc_id, term) for tf, one vocabulary-sized
  // aggregation for df, a term-keyed join (vocabulary ≪ corpus — AQE
  // picks broadcast when it fits), and a WindowGroupLimit-bounded top-3
  // per doc. N arrives as a broadcast one-row frame, not a driver
  // constant baked per-plan. Ties broken by term asc; scores rounded to
  // 4dp (ln differs ≤1 ulp between libms — far below the rounding).
  // ---------------------------------------------------------------------
  /** Reusable operator (the registered query and ScaleProbe both call
    * this — the probe must measure the same plan shape the query runs).
    */
  /** Per-(doc, term) counts — the shared first pass of every lexical
    * operator here; compute once and thread through when several
    * consumers share a corpus (see [[hybridRrf]]).
    */
  def termFreq(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), explode(col("toks")).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))

  /** [[tfidfTopTerms]] from a precomputed tf frame; `nDocs` stays a
    * separate 1-row frame because it counts ALL docs, including
    * token-less ones tf can't see.
    */
  def tfidfTopTermsFromTf(
      tf: DataFrame, nDocs: DataFrame, k: Int): DataFrame =
    tfidfTopTermsFromDf(
      tf.join(tf.groupBy("term").agg(count(lit(1)).as("df")), "term"),
      nDocs, k)

  /** The per-doc top-`k` of (doc_id, term, tf, df) rows by tf·ln(N/df)
    * — [[tfidfTopTermsFromTf]] with the df supplied, which is how
    * [[graft.plans.TfidfIndexStore]] weighs an extension batch under
    * its build's frozen df.
    */
  private[graft] def tfidfTopTermsFromDf(
      tfdf: DataFrame, nDocs: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("doc_id")
      .orderBy(col("score").desc, col("term"))
    tfdf.crossJoin(broadcast(nDocs))
      .withColumn("score",
        round(col("tf") * log(col("n_docs").cast("double") / col("df")), 4))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("doc_id"), col("rnk"), col("term"), col("score"))
  }

  def tfidfTopTerms(docs: DataFrame, k: Int): DataFrame =
    tfidfTopTermsFromTf(termFreq(docs),
      docs.agg(count(lit(1)).as("n_docs")), k)

  val qTfidfTopTerms: Q = (s, d) =>
    tfidfTopTerms(documents(s, d), 3).orderBy("doc_id", "rnk")

  val qTfidfTopTermsSql: String =
    """WITH toks AS (
      |  SELECT doc_id, unnest(list_filter(
      |    string_split_regex(trim(text), '\s+'), t -> t <> '')) AS term
      |  FROM documents),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
      |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
      |n AS (SELECT count(*) AS n_docs FROM documents),
      |scored AS (
      |  SELECT doc_id, term,
      |    round(tf * ln(CAST(n_docs AS DOUBLE) / df), 4) AS score
      |  FROM tf JOIN df USING (term) CROSS JOIN n)
      |SELECT doc_id, rnk, term, score FROM (
      |  SELECT doc_id, term, score,
      |    row_number() OVER (PARTITION BY doc_id
      |      ORDER BY score DESC, term) AS rnk
      |  FROM scored)
      |WHERE rnk <= 3
      |ORDER BY doc_id, rnk""".stripMargin

  // ---------------------------------------------------------------------
  // TF-IDF cosine pair similarity — the weighted-sparse-vector text
  // similarity of classic IR, complementing the set-based family
  // (Jaccard/containment ignore term salience; embedding cosine needs a
  // model). Vectors are each document's top-k TF-IDF terms, which is
  // the scale-honest shape: restricting to salient terms bounds the
  // inverted-index fan-out by construction (salient ⇒ high tf·ln(N/df)
  // ⇒ low df), so the term-keyed self-join never sees the stop-word
  // df² blowup — the same skew argument as the shingle df cap, enforced
  // here by SELECTION instead of a cap. The premise is a Heaps-law
  // vocabulary (vocab grows with corpus — true of real text, violated
  // by the synthetic fixture's ~60-word pool, where even salient terms
  // carry O(n) postings); for degenerate near-closed vocabularies
  // compose an explicit term-df cap exactly like the shingle one. The
  // ScaleProbe row demonstrates the bounded join on a realistic-vocab
  // 50k-doc corpus. Weights are the ROUNDED 4-dp
  // scores, so both engines dot identical doubles; only summation-order
  // jitter (~1e-13) remains under the 4-dp output rounding — the same
  // parity regime as the logprob family.
  // ---------------------------------------------------------------------
  def tfidfCosinePairs(
      docs: DataFrame, k: Int, minShared: Int,
      threshold: Double): DataFrame =
    tfidfCosinePairsFromTops(
      tfidfTopTerms(docs, k).select("doc_id", "term", "score"),
      minShared, threshold)

  /** The inverted-index join body over a prebuilt (doc_id, term, score)
    * top-terms frame — split out so the regime selector can feed both
    * forms from ONE tokenize→tf→top-k pass.
    */
  def tfidfCosinePairsFromTops(
      v: DataFrame, minShared: Int, threshold: Double): DataFrame = {
    val norms = v.groupBy("doc_id")
      .agg(sqrt(sum(col("score") * col("score"))).as("nrm"))
    val dots = v.toDF("id_a", "term", "w_a")
      .join(v.toDF("id_b", "term", "w_b"), "term")
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(sum(col("w_a") * col("w_b")).as("dot"),
        count(lit(1)).as("shared_terms"))
      .filter(col("shared_terms") >= minShared)
    dots
      .join(norms.toDF("id_a", "na"), "id_a")
      .join(norms.toDF("id_b", "nb"), "id_b")
      .withColumn("cos", col("dot") / (col("na") * col("nb")))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), col("shared_terms"),
        round(col("cos"), 4).as("cosine"))
  }

  /** All-pairs variant of [[tfidfCosinePairs]] — byte-identical output,
    * different scale shape, for the CLOSED-vocabulary corpus regime.
    *
    * The inverted-index form's cost is Σ_term df², which is subquadratic
    * exactly when the vocabulary obeys Heaps' law (salient terms stay
    * rare). A near-closed vocabulary breaks that premise structurally:
    * measured on the sf0.1 fixture (114 distinct terms over 6,250 docs),
    * the term-keyed self-join emits 130M intermediate pairs for a
    * 535-row result, and no complete pruning can help — a Bayardo-style
    * suffix-norm prefix filter at θ=0.7 still admits 65% of all pairs
    * (measured), and hyperplane LSH cannot separate a pair distribution
    * whose p50/p99 cosine is 0.25/0.62 from a 0.7 threshold. When
    * (nearly) all pairs are genuine candidates, the optimal exact shape
    * is blocked brute force with a tight kernel, not a shuffle join.
    *
    * Shape: per-doc sparse vectors (sorted 64-bit term fingerprints +
    * 4dp weights, ≤k entries) are collected and broadcast — k·~24 B per
    * doc ≈ 240 MB at 10M docs, the same bounded-small-side argument as
    * [[Similarity]]'s brute-force kNN and the decontamination gram sets;
    * past that bound, shard the broadcast side or use the inverted-index
    * form (still the default operator). Each task merge-joins its rows
    * against the broadcast array (O(k) per pair, integer compares) and
    * emits ONLY survivors — at 3·10⁻⁵ selectivity this skips the
    * 19.5M-row join materialization entirely, which is the whole win:
    * mapPartitions is justified here precisely because the per-pair
    * kernel output is almost always empty. Term keys are xxhash64
    * fingerprints (the [[graft.operators.Dedup]] shingle-index trade:
    * 2⁻⁶⁴ collision odds, 8-byte keys); dot accumulates in key order, so
    * the sum is deterministic and sits ~9 orders under the 4dp rounding
    * the driver hash-checks.
    */
  /** Per-doc top-k TF-IDF vectors in merge-join form: sorted 64-bit term
    * fingerprints + weights + the vector norm. Shared by the broadcast
    * all-pairs and retrieval queries; the fingerprint trade is the
    * [[graft.operators.Dedup]] shingle-index one (2⁻⁶⁴ collisions,
    * 8-byte keys).
    */
  def tfidfVectorsFromTf(tf: DataFrame, nDocs: DataFrame, k: Int)
      : org.apache.spark.sql.Dataset[(Long, Array[Long], Array[Double], Double)] =
    tfidfVectorsFromTops(
      tfidfTopTermsFromTf(tf, nDocs, k).select("doc_id", "term", "score"))

  /** Vector build from a prebuilt (doc_id, term, score) top-terms
    * frame — the [[tfidfCosinePairsFromTops]] twin for the broadcast
    * regime.
    */
  def tfidfVectorsFromTops(tops: DataFrame)
      : org.apache.spark.sql.Dataset[(Long, Array[Long], Array[Double], Double)] = {
    val spark = tops.sparkSession
    import spark.implicits._
    tops
      .withColumn("tkey", xxhash64(col("term")))
      .groupBy("doc_id")
      .agg(
        sort_array(collect_list(struct(col("tkey"), col("score")))).as("tw"),
        sqrt(sum(col("score") * col("score"))).as("nrm"))
      .select(
        col("doc_id"),
        expr("transform(tw, x -> x.tkey)").as("keys"),
        expr("transform(tw, x -> x.score)").as("ws"),
        col("nrm"))
      .as[(Long, Array[Long], Array[Double], Double)]
  }

  def tfidfVectors(docs: DataFrame, k: Int)
      : org.apache.spark.sql.Dataset[(Long, Array[Long], Array[Double], Double)] =
    tfidfVectorsFromTf(termFreq(docs),
      docs.agg(count(lit(1)).as("n_docs")), k)

  /** Merge-join dot of two sorted-fingerprint sparse vectors →
    * (dot, shared-term count). O(k) integer compares, allocation-free.
    */
  private[graft] def sparseDot(
      ka: Array[Long], wa: Array[Double],
      kb: Array[Long], wb: Array[Double]): (Double, Int) = {
    var i = 0; var j = 0; var dot = 0.0; var shared = 0
    while (i < ka.length && j < kb.length) {
      val x = ka(i); val y = kb(j)
      if (x == y) { dot += wa(i) * wb(j); shared += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    (dot, shared)
  }

  def tfidfCosinePairsBroadcast(
      docs: DataFrame, k: Int, minShared: Int,
      threshold: Double): DataFrame =
    tfidfCosinePairsBroadcastFromVecs(
      tfidfVectors(docs, k), minShared, threshold)

  def tfidfCosinePairsBroadcastFromVecs(
      vecs: org.apache.spark.sql.Dataset[
        (Long, Array[Long], Array[Double], Double)],
      minShared: Int, threshold: Double): DataFrame = {
    // ONE corpus pass: the vector build runs once (collect), and the
    // distributed side is just indices into the broadcast array — reusing
    // `vecs` for both sides would re-run the tokenize→tf→df→top-k
    // pipeline twice.
    tfidfCosinePairsBroadcastFromSide(
      vecs.sparkSession, vecs.collect(), minShared, threshold)
  }

  /** The pair stage over an ALREADY-COLLECTED vector table — split out
    * so [[tfidfCosinePairsAuto]]'s fused stats+vector job can hand the
    * in-hand array straight to the kernel instead of paying a second
    * collect. Pair enumeration indexes the broadcast array and compares
    * doc ids, so the array's row ORDER is irrelevant to the output set.
    */
  private[graft] def tfidfCosinePairsBroadcastFromSide(
      spark: SparkSession,
      side: Array[(Long, Array[Long], Array[Double], Double)],
      minShared: Int, threshold: Double): DataFrame = {
    import spark.implicits._
    // The kernel is allocation-free per pair (survivors
    // are ~3·10⁻⁵ of pairs, so per-pair Iterator wrappers would dominate
    // the merge arithmetic itself).
    val bc = spark.sparkContext.broadcast(side)
    val slices = math.max(1, math.min(
      spark.sparkContext.defaultParallelism * 4, side.length))
    val pairs = spark.range(0, side.length, 1, slices)
      .as[Long].mapPartitions { idxs =>
        val all = bc.value
        idxs.flatMap { ai =>
          val (ida, ka, wa, na) = all(ai.toInt)
          val buf = scala.collection.mutable.ArrayBuffer
            .empty[(Long, Long, Long, Double)]
          var b = 0
          while (b < all.length) {
            val (idb, kb, wb, nb) = all(b)
            if (idb > ida) {
              val (dot, shared) = sparseDot(ka, wa, kb, wb)
              val cos = dot / (na * nb)
              if (shared >= minShared && cos >= threshold)
                buf += ((ida, idb, shared.toLong, cos))
            }
            b += 1
          }
          buf.iterator
        }
      }.toDF("id_a", "id_b", "shared_terms", "cos")
    pairs.select(col("id_a"), col("id_b"), col("shared_terms"),
      round(col("cos"), 4).as("cosine"))
  }

  /** Driver-memory bound for the broadcast regime: above this many
    * docs the collected vector table (k·~24 B per doc — ~240 MB at 10M
    * docs with k=10) stops being a safe broadcast, so the selector
    * falls back to the inverted-index form regardless of df shape.
    */
  val TfidfBroadcastDocCap = 10000000L

  /** The pure regime rule, unit-testable without a corpus: prefer the
    * broadcast merge-join form iff (a) the corpus fits the driver
    * bound and (b) the inverted-index join would emit MORE candidate
    * pairs than brute force — Σ_term df² ≥ n², i.e. the vocabulary is
    * (near-)closed and term-keyed joining buys nothing. Both sides of
    * the inequality are upper bounds of the same kind (each pair
    * counted once per shared term vs once outright), and on the
    * regimes that matter they differ by orders of magnitude, so the
    * rule is insensitive to the constant.
    */
  def tfidfRegimePrefersBroadcast(
      nDocs: Long, sumDfSq: Double,
      cap: Long = TfidfBroadcastDocCap): Boolean =
    nDocs <= cap && sumDfSq >= nDocs.toDouble * nDocs

  /** Data-driven regime selection for all-pairs TF-IDF cosine — the
    * entry point users should call. Builds the top-k term frame ONCE
    * (both regimes consume it), reads two vocabulary statistics off it
    * (doc count, Σ df² over the selected postings — one small
    * aggregation each, the planning-statistic move AQE makes at
    * runtime), and picks:
    *  - inverted-index join ([[tfidfCosinePairsFromTops]]) when the
    *    vocabulary obeys Heaps' law — postings stay short, the join
    *    is subquadratic, and nothing is collected anywhere;
    *  - broadcast merge-join ([[tfidfCosinePairsBroadcastFromVecs]])
    *    when the vocabulary is near-closed (Σ df² ≥ n²: the join
    *    would emit MORE pairs than brute force — the measured 130M-pair
    *    blowup on the sf0.1 fixture, 80.8 s vs 2.1 s) AND the vector
    *    table fits the driver bound.
    * Both forms are byte-identical on the same corpus (TextAnalysisSpec
    * pins it), so the choice is invisible in results.
    */
  /** The selector's corpus statistics off a top-terms frame:
    * (nDocs, Σ df²). Exposed so specs can assert which regime a given
    * corpus maps to.
    */
  def tfidfRegimeStats(tops: DataFrame): (Long, Long) = {
    // ONE action for both statistics: the two single-row aggregates are
    // cross-joined so the planner executes them as one job over the
    // persisted tops frame (previously two separate actions — the
    // selector's overhead doubled for no reason). n_docs is a plain
    // countDistinct because (doc_id, term) is unique in a top-k frame.
    val row = tops.groupBy("term").agg(count(lit(1)).as("df"))
      .agg(coalesce(sum(col("df") * col("df")), lit(0L)).as("sum_df2"))
      .crossJoin(tops.agg(count_distinct(col("doc_id")).as("n_docs")))
      .head()
    (row.getLong(1), row.getLong(0))
  }

  def tfidfCosinePairsAuto(
      docs: DataFrame, k: Int, minShared: Int,
      threshold: Double): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // tf persists alongside tops: [[tfidfTopTermsFromTf]] consumes the
    // tf subtree TWICE (join side + its df aggregation — Catalyst does
    // not collapse duplicate subtrees), so an unpersisted tf pays the
    // tokenize+explode+count pipeline twice inside the fused job below
    val tf = termFreq(docs).persist()
    val tops = tfidfTopTermsFromTf(
        tf, docs.agg(count(lit(1)).as("n_docs")), k)
      .select("doc_id", "term", "score").persist()
    // ONE bounded job fetches the regime statistics AND the vector
    // table together (r14 verdict #1: the previous shape paid three
    // driver-sequenced actions per execution — stats head(), vector
    // collect, pair stage — whose fixed scheduler latency multiplied
    // 3-20× under host load; this row's driver-sweep samples spanned
    // 1.8-43.7 s across windows). Driver memory stays bounded by the
    // same [[TfidfBroadcastDocCap]] rule as before: the fetch runs
    // under [[WandKernel.boundedCollect]] at cap docs + 1 stats row,
    // and a refusal (cancel-on-overrun, no full transfer) IS the
    // rule's n_docs > cap clause — the inverted-index branch serves
    // without ever needing the statistics. The one new trade: a
    // Heaps-law corpus UNDER the cap ships its vector table once
    // before the Σ df² statistic routes it to the inverted-index
    // branch (bounded by the cap, ~24 B × k per doc); the stats-first
    // shape paid a whole extra sequential action on every execution
    // to avoid that one bounded transfer on this corpus class.
    val statsRow = tops.groupBy("term").agg(count(lit(1)).as("df"))
      .agg(coalesce(sum(col("df") * col("df")), lit(0L)).as("sum_df2"))
      .crossJoin(tops.agg(count_distinct(col("doc_id")).as("n_docs")))
    val fused = statsRow
      .select(lit(true).as("is_stats"), lit(0L).as("doc_id"),
        lit(null).cast("array<bigint>").as("keys"),
        lit(null).cast("array<double>").as("ws"), lit(0.0).as("nrm"),
        col("n_docs"), col("sum_df2"))
      .unionByName(tfidfVectorsFromTops(tops)
        .toDF("doc_id", "keys", "ws", "nrm")
        .select(lit(false).as("is_stats"), col("doc_id"), col("keys"),
          col("ws"), col("nrm"), lit(0L).as("n_docs"),
          lit(0L).as("sum_df2")))
      .as[(Boolean, Long, Array[Long], Array[Double], Double, Long, Long)]
    val collected = graft.plans.WandKernel.boundedCollect(
      fused, TfidfBroadcastDocCap + 1L)
    val regime = collected.map { rows =>
      val stats = rows.find(_._1).get // the stats agg always emits 1 row
      (rows, stats._6, stats._7)
    }
    regime match {
      case Some((rows, nDocs, sumDfSq))
          if tfidfRegimePrefersBroadcast(nDocs, sumDfSq.toDouble) =>
        val side = rows.collect {
          case (false, id, ks, ws, nrm, _, _) => (id, ks, ws, nrm)
        }
        // the distributed pair stage reads only the broadcast array —
        // tops' (and tf's) last consumer was the fused collect above
        tops.unpersist(); tf.unpersist()
        tfidfCosinePairsBroadcastFromSide(spark, side, minShared, threshold)
      case _ =>
        val out = tfidfCosinePairsFromTops(tops, minShared, threshold)
          .localCheckpoint(true)
        tops.unpersist(); tf.unpersist()
        out
    }
  }

  /** Top-10-term TF-IDF cosine over the near-dup fixture: truncated
    * copies keep their original's salient terms, so they surface at
    * cosine ≈ 1 — the IR-weighted view of the same near-dup structure
    * the shingle family detects set-wise. Runs through the regime
    * selector, which on this fixture's near-closed vocabulary (~114
    * distinct terms over 6,250 docs → Σ df² ≫ n²) picks the broadcast
    * all-pairs shape — the measured 80.8 s → 2.1 s swap of round 6,
    * now made from data statistics instead of hand-pinning; a
    * Heaps-law corpus takes the inverted-index branch (TextAnalysisSpec
    * exercises both).
    */
  val qTfidfCosine: Q = (s, d) =>
    tfidfCosinePairsAuto(Dedup.corpusNear(s, d), 10, 2, 0.7)
      .orderBy("id_a", "id_b")

  val qTfidfCosineSql: String =
    """WITH corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000, substr(text, 31) FROM documents
      |  WHERE doc_id % 4 = 0),
      |toks AS (
      |  SELECT doc_id, unnest(list_filter(
      |    string_split_regex(trim(text), '\s+'), t -> t <> '')) AS term
      |  FROM corpus),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
      |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
      |n AS (SELECT count(*) AS n_docs FROM corpus),
      |scored AS (
      |  SELECT doc_id, term,
      |    round(tf * ln(CAST(n_docs AS DOUBLE) / df), 4) AS score
      |  FROM tf JOIN df USING (term) CROSS JOIN n),
      |v AS (SELECT doc_id, term, score FROM (
      |  SELECT doc_id, term, score,
      |    row_number() OVER (PARTITION BY doc_id
      |      ORDER BY score DESC, term) AS rnk
      |  FROM scored)
      |  WHERE rnk <= 10),
      |norms AS (SELECT doc_id, sqrt(sum(score * score)) AS nrm
      |          FROM v GROUP BY 1),
      |dots AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |           sum(a.score * b.score) AS dot, count(*) AS shared_terms
      |         FROM v a JOIN v b ON a.term = b.term
      |           AND a.doc_id < b.doc_id
      |         GROUP BY 1, 2
      |         HAVING count(*) >= 2)
      |SELECT id_a, id_b, shared_terms,
      |  round(dot / (na.nrm * nb.nrm), 4) AS cosine
      |FROM dots
      |JOIN norms na ON id_a = na.doc_id
      |JOIN norms nb ON id_b = nb.doc_id
      |WHERE dot / (na.nrm * nb.nrm) >= 0.7
      |ORDER BY id_a, id_b""".stripMargin

  // ---------------------------------------------------------------------
  // TF-IDF retrieval: top-k most-similar documents per query document —
  // classic lexical search (the BM25/tf-idf retrieval stage of a RAG or
  // dedup-review pipeline), complementing the embedding-side kNN family
  // with its text-side twin. Scale shape: the QUERY side is small by
  // definition (a query batch), so its vectors broadcast and the corpus
  // streams past them — one corpus pass, no corpus self-join at all;
  // per-query candidates then reduce through the bounded-state TopKAgg
  // (map-side partial top-k, O(queries × k × partitions) exchange).
  // Ranking is on the 4dp-ROUNDED cosine with neighbor-id tie-break, so
  // rank order is engine-exact (rounding collapses the ~1e-13 summation
  // jitter that makes raw-double ORDER BY engine-specific). Pairs with
  // zero shared terms never surface (both engines: no join row / kernel
  // skip), so short result lists agree too.
  // ---------------------------------------------------------------------
  def tfidfRetrieval(
      docs: DataFrame, queryPred: Column, k: Int, topN: Int): DataFrame =
    tfidfRetrievalFromVecs(tfidfVectors(docs, k),
      docs.filter(queryPred).select("doc_id"), topN)

  /** The retrieval kernel given prebuilt vectors — split out so
    * [[hybridRrf]] can feed vectors derived from a SHARED tf pass.
    */
  def tfidfRetrievalFromVecs(
      rawVecs: org.apache.spark.sql.Dataset[
        (Long, Array[Long], Array[Double], Double)],
      queryIds: DataFrame, topN: Int): DataFrame = {
    val spark = rawVecs.sparkSession
    import spark.implicits._
    // one corpus pass feeds both the broadcast query side and the
    // streamed corpus side (same persist-collect-release pattern as
    // qDedupWinnow: without it the tokenize→tf→df→top-k subtree runs
    // twice)
    val vecs = rawVecs.persist()
    val qside = vecs.toDF("doc_id", "keys", "ws", "nrm")
      .join(broadcast(queryIds), "doc_id")
      .as[(Long, Array[Long], Array[Double], Double)]
      .collect()
    val bc = spark.sparkContext.broadcast(qside)
    val hits = vecs.mapPartitions { it =>
      val qs = bc.value
      it.flatMap { case (idb, kb, wb, nb) =>
        val buf = scala.collection.mutable.ArrayBuffer
          .empty[(Long, Double, Long)]
        var qi = 0
        while (qi < qs.length) {
          val (ida, ka, wa, na) = qs(qi)
          if (ida != idb) {
            val (dot, shared) = sparseDot(ka, wa, kb, wb)
            if (shared > 0) {
              // round BEFORE ranking: the rank key must be engine-exact
              val cos4 = BigDecimal(dot / (na * nb))
                .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
              buf += ((ida, cos4, idb))
            }
          }
          qi += 1
        }
        buf.iterator
      }
    }.toDF("query_id", "cos4", "neighbor_id")
    val out = hits
      .groupBy("query_id")
      .agg(graft.functions.TopKAgg
        .topK(topN, col("cos4"), col("neighbor_id")).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "row")))
      .select(
        col("query_id"),
        (col("pos") + 1).cast("int").as("rnk"),
        col("row._2").as("neighbor_id"),
        col("row._1").as("cosine"))
      .orderBy("query_id", "rnk")
      .localCheckpoint(true)
    vecs.unpersist()
    out
  }

  /** Merge-join sum of corpus-side weights over shared keys — the BM25
    * kernel (query terms are a SET; all weighting lives on the corpus
    * side). Returns (sum, shared-count).
    */
  private[graft] def sparseSum(
      qk: Array[Long], ck: Array[Long], cw: Array[Double]): (Double, Int) = {
    var i = 0; var j = 0; var s = 0.0; var shared = 0
    while (i < qk.length && j < ck.length) {
      val x = qk(i); val y = ck(j)
      if (x == y) { s += cw(j); shared += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    (s, shared)
  }

  // ---------------------------------------------------------------------
  // BM25 retrieval — the production lexical ranker (Robertson's
  // probabilistic model, the Lucene/Elasticsearch default), completing
  // the retrieval family: tf-idf cosine is the vector-space form, BM25
  // adds tf saturation (k1) and length normalization (b). All weighting
  // is precomputable PER (doc, term): w = idf · tf·(k1+1)/(tf + k1·(1−b
  // + b·dl/avgdl)) with the Lucene idf ln(1 + (N−df+0.5)/(df+0.5)), so
  // a pair score is a plain sum of corpus-side weights over the query's
  // term SET (doc-as-query uses distinct terms; per-term rounding to
  // 4dp makes the summands engine-identical — ln and the dl/avgdl
  // division differ ≤1 ulp, orders under the rounding). Scale shape =
  // [[tfidfRetrieval]]: query batch broadcasts, corpus streams past in
  // one pass, bounded-state TopKAgg reduction; ranking on the rounded
  // score with id tie-break is engine-exact.
  // ---------------------------------------------------------------------
  def bm25Retrieval(
      docs: DataFrame, queryPred: Column, topN: Int): DataFrame =
    bm25RetrievalFromTf(termFreq(docs),
      docs.filter(queryPred).select("doc_id"), topN)

  /** BM25's tf saturation and length normalization, the Lucene
    * defaults. Fixed for every BM25 ranker and for
    * [[graft.plans.Bm25IndexStore]], so an extension batch can never
    * be weighed on a different scale from the saved postings.
    */
  private final val Bm25K1 = 1.2
  private final val Bm25B = 0.75

  /** Per-(doc, term) BM25 weights (doc_id, tkey, w) of (doc_id, term,
    * tf, df) rows, with `dl` the (doc_id, dl) document lengths and
    * `stats` the one-row (n_docs, avgdl) corpus constants — the one
    * definition [[bm25RetrievalFromTf]] and the BM25 index store share.
    */
  private[graft] def bm25Weights(
      tfdf: DataFrame, dl: DataFrame, stats: DataFrame): DataFrame =
    tfdf.join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("idf", log(
        (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0))
      .withColumn("w", round(
        col("idf") * (col("tf") * lit(Bm25K1 + 1.0)) /
          (col("tf") + lit(Bm25K1) *
            (lit(1.0 - Bm25B) + lit(Bm25B) * col("dl") / col("avgdl"))),
        4))
      .select(col("doc_id"), xxhash64(col("term")).as("tkey"), col("w"))

  /** BM25 retrieval from a precomputed tf frame — split out so
    * [[hybridRrf]] shares one tokenize pass across both rankers.
    */
  def bm25RetrievalFromTf(
      tf: DataFrame, queryIds: DataFrame, topN: Int): DataFrame = {
    val spark = tf.sparkSession
    import spark.implicits._
    val dl = tf.groupBy("doc_id").agg(sum("tf").as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), avg("dl").as("avgdl"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val weights = bm25Weights(tf.join(dfreq, "term"), dl, stats)
    val vecs = weights
      .groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("tkey"), col("w")))).as("tw"))
      .select(col("doc_id"),
        expr("transform(tw, x -> x.tkey)").as("keys"),
        expr("transform(tw, x -> x.w)").as("ws"))
      .as[(Long, Array[Long], Array[Double])]
      .persist()
    val qside = vecs.toDF("doc_id", "keys", "ws")
      .join(broadcast(queryIds), "doc_id")
      .as[(Long, Array[Long], Array[Double])].collect()
      .map { case (id, ks, _) => (id, ks) }
    val bc = spark.sparkContext.broadcast(qside)
    val hits = vecs.mapPartitions { it =>
      val qs = bc.value
      it.flatMap { case (idb, kb, wb) =>
        val buf = scala.collection.mutable.ArrayBuffer
          .empty[(Long, Double, Long)]
        var qi = 0
        while (qi < qs.length) {
          val (ida, ka) = qs(qi)
          if (ida != idb) {
            val (s0, shared) = sparseSum(ka, kb, wb)
            if (shared > 0) {
              val s4 = BigDecimal(s0)
                .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
              buf += ((ida, s4, idb))
            }
          }
          qi += 1
        }
        buf.iterator
      }
    }.toDF("query_id", "score4", "neighbor_id")
    val out = hits
      .groupBy("query_id")
      .agg(graft.functions.TopKAgg
        .topK(topN, col("score4"), col("neighbor_id")).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "row")))
      .select(
        col("query_id"),
        (col("pos") + 1).cast("int").as("rnk"),
        col("row._2").as("neighbor_id"),
        col("row._1").as("score"))
      .orderBy("query_id", "rnk")
      .localCheckpoint(true)
    vecs.unpersist()
    out
  }

  /** Top-3 BM25 neighbors for every 25th document (k1=1.2, b=0.75). */
  val qBm25Retrieval: Q = (s, d) =>
    bm25Retrieval(documents(s, d), col("doc_id") % 25 === 0, 3)

  /** The same search served from the PERSISTED index
    * ([[graft.plans.Bm25IndexStore]]): build once, probe the saved
    * postings — identical output to [[qBm25Retrieval]] by construction
    * (same arithmetic, index side read from parquet instead of
    * broadcast vectors), so it carries the same oracle. The production
    * split this demonstrates: the corpus-sized tokenize+weigh cost
    * lives in `build` (recurring runs pay it once), `search` touches
    * only the query batch plus bucket-pruned postings.
    */
  val qBm25IndexSearch: Q = (s, d) => {
    val id = graft.plans.AggStore.artifactId(d)
    val table = s"graft_bm25_$id"
    val path = s"${sys.props("java.io.tmpdir")}/graft_bm25_$id"
    val docs = documents(s, d)
    graft.plans.Bm25IndexStore.build(docs, table, path, buckets = 8)
    graft.plans.Bm25IndexStore.search(
      s, table, docs.filter(col("doc_id") % 25 === 0), 3)
  }

  /** Document retirement, end to end on the BM25 artifact
    * ([[graft.plans.Retire]]): build, DELETE a first wave of docs
    * (tombstones), make it physical with a file-granular COMPACT,
    * delete a second wave (so serving sees tombstones AND post-compact
    * state together), then serve through the full WAND machinery. The
    * deleted set (doc_id % 10 = 3) is disjoint from the query set
    * (% 25 = 0 ⇒ % 5 = 0), so every query survives; the oracle
    * recomputes the post-delete ranking from the base tables under the
    * FULL-corpus frozen stats — the documented delete contract:
    * surviving docs keep their build-time weights exactly, deleted
    * docs vanish from candidates and results.
    */
  val qBm25IndexDelete: Q = (s, d) => {
    val id = graft.plans.AggStore.artifactId(d)
    val table = s"graft_bm25del_$id"
    val path = s"${sys.props("java.io.tmpdir")}/graft_bm25del_$id"
    val docs = documents(s, d)
    graft.plans.Bm25IndexStore.build(docs, table, path, buckets = 8)
    graft.plans.Bm25IndexStore.delete(s, table,
      docs.filter(col("doc_id") % 20 === 3).select("doc_id"))
    graft.plans.Bm25IndexStore.compact(s, table)
    graft.plans.Bm25IndexStore.delete(s, table,
      docs.filter(col("doc_id") % 20 === 13).select("doc_id"))
    graft.plans.Bm25IndexStore.wandSearch(
      s, table, docs.filter(col("doc_id") % 25 === 0), 3)
  }

  /** The SAME search again, served with MaxScore impact-ordered
    * pruning ([[graft.plans.Bm25IndexStore.wandSearch]]): prefix
    * candidates → exact k-th-score threshold → per-term tail cutoffs.
    * Output is identical to [[qBm25IndexSearch]] by the pruning-
    * exactness argument (spec-pinned at tiny prefixes), so it carries
    * the same oracle — the row exists so the driver hash-checks the
    * early-termination machinery itself, not just the plain join.
    */
  val qBm25Wand: Q = (s, d) => {
    val (_, bm) = retrievalStores(s, d)
    graft.plans.Bm25IndexStore.wandSearch(
      s, bm, documents(s, d).filter(col("doc_id") % 25 === 0), 3)
  }

  /** Engine-portable ZIPF retrieval fixture — the natural `documents`
    * text is a 31-term vocabulary where every term sits in ~78% of
    * docs (the dense-overlap adversarial case where impact ordering
    * structurally CANNOT win and per-query routing falls back to the
    * naive kernel — the story q_bm25_wand already prices). Real search
    * corpora are Zipf-distributed, so the win-regime pair runs on a
    * synthesized one: 4 replicas per base doc × 30 tokens, each token
    * `w<octave>_<slot>` with octave = bitlength(h16 + 1) − 1 over a
    * uniform 16-bit hash (≥½ of all tokens land in the stopword-class
    * top octave; low octaves are rare/selective) and slot an
    * independent 0..119 draw. Every hash is md5 of the decimal seed
    * string — verified byte-identical between Spark (`conv(substr(
    * md5(..)))`) and DuckDB (`CAST('0x'||substr(md5(..)) AS INT)`),
    * so the oracle reconstructs the exact corpus from `documents`
    * doc_ids alone.
    */
  private def zipfToken(seed: String): String = {
    val h16 = s"CAST(conv(substr(md5(CAST(($seed) AS STRING)),1,4),16,10) AS INT)"
    val h2 = s"CAST(conv(substr(md5(CAST(($seed) AS STRING)),5,4),16,10) AS INT)"
    s"concat('w', CAST(length(conv($h16 + 1, 10, 2)) - 1 AS STRING), " +
      s"'_', CAST($h2 % 120 AS STRING))"
  }

  private def zipfCorpus(s: SparkSession, d: String): DataFrame =
    documents(s, d).select(col("doc_id"))
      .select(col("doc_id"), explode(expr("sequence(0, 3)")).as("r"))
      .select((col("doc_id") * 4 + col("r")).as("doc_id"))
      .withColumn("text", expr(
        s"concat_ws(' ', transform(sequence(0, 29), " +
          s"i -> ${zipfToken("doc_id * 100 + i")}))"))

  /** Query replicas per base doc for the zipf pricing pair — the
    * SMALLEST batch where WAND's win still clears 2×, measured at
    * sf0.1 on quiet anchors: 2 replicas → 1.12×, 3 → 1.19×,
    * 4 → 2.08×. The naive kernel's cost is SUPERLINEAR between 3 and
    * 4 replicas (the join-volume regime WAND exists to escape only
    * bites there) while WAND stays nearly flat (8.4 → 8.8 s), so
    * shrinking the batch halves the ratio, not the sweep cost — 4 is
    * the floor. The 50k ScaleProbe row keeps the asymptote (≈4×).
    */
  private[graft] val ZipfQueryReplicas = 4

  /** 2-term queries per base doc — the canonical selective shape
    * ("jaguar car": 1 rare-to-mid term, octave 4..9, carries θ past
    * the whole cap sum; 1 stopword-class term whose huge tail
    * dominates the naive join and drops entirely under the cutoffs) —
    * a serving-scale batch ([[ZipfQueryReplicas]]× the corpus base).
    * Query ids live ABOVE the corpus id space (base + 1e6·{1..k});
    * query seeds end in 90.. / 130.. vs corpus seeds' 00..29 — no
    * overlap.
    */
  private def zipfQueries(s: SparkSession, d: String): DataFrame = {
    def slot(seed: String): String =
      s"CAST(CAST(conv(substr(md5(CAST(($seed) AS STRING)),5,4),16,10) AS INT) % 120 AS STRING)"
    def rare(seed: String): String =
      s"concat('w', CAST(4 + CAST(conv(substr(md5(CAST(($seed) AS STRING)),1,4),16,10) AS INT) % 6 AS STRING), '_', ${slot(seed)})"
    // seeds 90+k / 130+k by ARITHMETIC (not "9$k" string splicing,
    // which would silently diverge from the generated oracle SQL at
    // k ≥ 10); the replica cap keeps them inside 90..99 / 130..139,
    // disjoint from the corpus seeds' 00..29 tail
    require(ZipfQueryReplicas >= 1 && ZipfQueryReplicas <= 9,
      s"ZipfQueryReplicas must be in 1..9, got $ZipfQueryReplicas")
    def one(k: Int): DataFrame =
      documents(s, d)
        .select((col("doc_id") + lit((k + 1).toLong * 1000000L))
          .as("doc_id"),
          expr(s"concat_ws(' ', ${rare(s"doc_id * 100 + ${90 + k}")}, " +
            s"concat('w15_', ${slot(s"doc_id * 100 + ${130 + k}")}))")
            .as("text"))
    (0 until ZipfQueryReplicas).map(one).reduce(_ unionByName _)
  }

  /** Build-if-absent BM25 artifact over the zipf corpus (its own
    * catalog name — the natural-corpus stores stay untouched).
    */
  private def zipfStore(s: SparkSession, d: String): String = {
    val id = graft.plans.AggStore.artifactId(d)
    val tb = s"graft_bm25zipf_$id"
    if (!s.catalog.tableExists(tb))
      graft.plans.Bm25IndexStore.build(zipfCorpus(s, d), tb,
        s"${sys.props("java.io.tmpdir")}/graft_bm25zipf_$id", buckets = 8)
    tb
  }

  /** Naive Σ-postings serving of the zipf keyword batch —
    * [[qBm25ZipfWand]]'s price twin: identical output, same oracle,
    * and the bench prices the ALGORITHM against it (the naive volume
    * here is the three stopword tails per query).
    */
  val qBm25Zipf: Q = (s, d) =>
    graft.plans.Bm25IndexStore.search(s, zipfStore(s, d),
      zipfQueries(s, d), 3)

  /** WAND in its WINNING regime: selective keyword queries over a
    * Zipf corpus at batch scale — θ rides the rare term past the cap
    * sum and the stopword tails never join. Output identical to
    * [[qBm25Zipf]] by the pruning-exactness argument — same oracle.
    */
  val qBm25ZipfWand: Q = (s, d) =>
    graft.plans.Bm25IndexStore.wandSearch(s, zipfStore(s, d),
      zipfQueries(s, d), 3)

  /** The oracle's query reconstruction — one rare-term + one
    * stopword-term SELECT pair per replica, generated from the SAME
    * [[ZipfQueryReplicas]] constant the Spark side reads so the two
    * engines cannot drift on batch size.
    */
  private def zipfQuerySqlBlocks: String =
    (0 until ZipfQueryReplicas).map { k =>
      s"""  SELECT doc_id + ${k + 1}000000 AS doc_id, concat('w',
         |      CAST(4 + CAST(concat('0x', substr(md5(CAST(doc_id * 100 + ${90 + k} AS VARCHAR)), 1, 4)) AS INTEGER) % 6 AS VARCHAR),
         |      '_',
         |      CAST(CAST(concat('0x', substr(md5(CAST(doc_id * 100 + ${90 + k} AS VARCHAR)), 5, 4)) AS INTEGER) % 120 AS VARCHAR)) AS term
         |  FROM documents
         |  UNION ALL
         |  SELECT doc_id + ${k + 1}000000, concat('w15_',
         |      CAST(CAST(concat('0x', substr(md5(CAST(doc_id * 100 + ${130 + k} AS VARCHAR)), 5, 4)) AS INTEGER) % 120 AS VARCHAR))
         |  FROM documents""".stripMargin
    }.mkString("\n  UNION ALL\n")

  val qBm25ZipfSql: String =
    """WITH corpus AS (
      |  SELECT d.doc_id * 4 + r.r AS doc_id
      |  FROM documents d CROSS JOIN (SELECT unnest(range(0, 4)) AS r) r),
      |tok AS (
      |  SELECT c.doc_id,
      |    concat('w',
      |      CAST(length(bin(CAST(concat('0x', substr(md5(CAST(c.doc_id * 100 + i.i AS VARCHAR)), 1, 4)) AS INTEGER) + 1)) - 1 AS VARCHAR),
      |      '_',
      |      CAST(CAST(concat('0x', substr(md5(CAST(c.doc_id * 100 + i.i AS VARCHAR)), 5, 4)) AS INTEGER) % 120 AS VARCHAR)) AS term
      |  FROM corpus c CROSS JOIN (SELECT unnest(range(0, 30)) AS i) i),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
      |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl
      |       FROM tf GROUP BY 1),
      |stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
      |dfx AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
      |w AS (SELECT tf.doc_id, tf.term,
      |        round(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0) *
      |          (tf * 2.2) /
      |          (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)), 4) AS w
      |      FROM tf JOIN dfx USING (term) JOIN dl USING (doc_id)
      |      CROSS JOIN stats),
      |q AS (SELECT DISTINCT doc_id, term FROM (
      |ZIPF_QUERY_BLOCKS)),
      |dots AS (SELECT q.doc_id AS query_id, w.doc_id AS neighbor_id,
      |           round(sum(w.w), 4) AS score
      |         FROM q JOIN w ON q.term = w.term AND w.doc_id <> q.doc_id
      |         GROUP BY 1, 2),
      |ranked AS (SELECT query_id, neighbor_id, score,
      |             row_number() OVER (PARTITION BY query_id
      |               ORDER BY score DESC, neighbor_id) AS rnk
      |           FROM dots)
      |SELECT query_id, rnk, neighbor_id, score
      |FROM ranked WHERE rnk <= 3
      |ORDER BY query_id, rnk""".stripMargin
      .replace("ZIPF_QUERY_BLOCKS", zipfQuerySqlBlocks)

  /** MaxScore-served tf-idf retrieval — same output as
    * [[qTfidfRetrieval]] (normalized-impact bounds, exact candidate
    * scoring), same oracle. Serves from the SHARED build-if-absent
    * artifacts ([[retrievalStores]]) like the `_served` twins, so the
    * row prices the early-termination serving itself, not a rebuild.
    */
  val qTfidfWand: Q = (s, d) => {
    val (tfx, _) = retrievalStores(s, d)
    graft.plans.TfidfIndexStore.wandSearch(
      s, tfx, documents(s, d).filter(col("doc_id") % 25 === 0)
        .select("doc_id"), 3)
  }

  val qBm25RetrievalSql: String =
    """WITH toks AS (
      |  SELECT doc_id, unnest(list_filter(
      |    string_split_regex(trim(text), '\s+'), t -> t <> '')) AS term
      |  FROM documents),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
      |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl
      |       FROM tf GROUP BY 1),
      |stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
      |dfx AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
      |w AS (SELECT tf.doc_id, tf.term,
      |        round(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0) *
      |          (tf * 2.2) /
      |          (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)), 4) AS w
      |      FROM tf JOIN dfx USING (term) JOIN dl USING (doc_id)
      |      CROSS JOIN stats),
      |q AS (SELECT DISTINCT doc_id, term FROM toks WHERE doc_id % 25 = 0),
      |dots AS (SELECT q.doc_id AS query_id, w.doc_id AS neighbor_id,
      |           round(sum(w.w), 4) AS score
      |         FROM q JOIN w ON q.term = w.term AND w.doc_id <> q.doc_id
      |         GROUP BY 1, 2),
      |ranked AS (SELECT query_id, neighbor_id, score,
      |             row_number() OVER (PARTITION BY query_id
      |               ORDER BY score DESC, neighbor_id) AS rnk
      |           FROM dots)
      |SELECT query_id, rnk, neighbor_id, score
      |FROM ranked WHERE rnk <= 3
      |ORDER BY query_id, rnk""".stripMargin

  /** [[qBm25RetrievalSql]] with the retired docs excluded from the
    * CANDIDATE side only: weights stay under full-corpus stats (the
    * frozen-stats delete contract — df/n_docs/avgdl are never
    * recomputed), the deleted docs just stop being retrievable.
    */
  val qBm25IndexDeleteSql: String = {
    val anchor = "ON q.term = w.term AND w.doc_id <> q.doc_id"
    require(qBm25RetrievalSql.contains(anchor),
      "bm25 oracle join anchor moved — update qBm25IndexDeleteSql")
    qBm25RetrievalSql.replace(anchor,
      anchor + " AND w.doc_id % 10 <> 3")
  }

  // ---------------------------------------------------------------------
  // Reciprocal-rank fusion (Cormack & Clarke SIGIR'09) — the standard
  // hybrid-search combiner: rankers vote 1/(c+rank), votes sum per
  // (query, candidate), fused list re-ranks by the sum. Rank-only inputs
  // make it ranker-agnostic (scores on incompatible scales fuse without
  // calibration — the reason RRF is the default hybrid in production
  // retrieval stacks). Scale shape: inputs are already top-k lists
  // (queries × k rows — tiny regardless of corpus size), so fusion is a
  // union + keyed sum + bounded top-k; the heavy lifting stays in the
  // rankers. Parity: 1/(c+rank) is the same double in both engines and
  // per-pair vote counts are ≤ #rankers, so the sum is order-exact;
  // ranking on the 6dp-rounded fused score with id tie-break.
  // ---------------------------------------------------------------------
  def rrfFusion(
      rankings: Seq[DataFrame], topN: Int, c: Int = 60): DataFrame = {
    val votes = rankings
      .map(_.select(col("query_id"), col("rnk"), col("neighbor_id")))
      .reduce(_ unionByName _)
      .withColumn("vote", lit(1.0) / (lit(c) + col("rnk")))
    votes
      .groupBy("query_id", "neighbor_id")
      .agg(round(sum("vote"), 6).as("rrf"))
      .groupBy("query_id")
      .agg(graft.functions.TopKAgg
        .topK(topN, col("rrf"), col("neighbor_id")).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "row")))
      .select(
        col("query_id"),
        (col("pos") + 1).cast("int").as("rnk"),
        col("row._2").as("neighbor_id"),
        col("row._1").as("rrf"))
      .orderBy("query_id", "rnk")
  }

  /** Hybrid lexical retrieval: tf-idf cosine and BM25 top-10 lists for
    * the same query set, fused to a top-5 by RRF.
    */
  /** Hybrid retrieval with a SHARED tokenize pass: both rankers derive
    * from one persisted tf frame, then fuse by RRF. On the fixture the
    * saving is small (tokenize+tf is ~0.6 s of a ~4.8 s query — the
    * rankers' vector builds and kernels dominate), but the shape is
    * the right one at 100 TB, where the corpus-sized tokenize pass IS
    * the dominant cost and paying it once instead of once per ranker
    * is the difference that matters.
    */
  def hybridRrf(
      docs: DataFrame, queryPred: Column, kVec: Int, kList: Int,
      topN: Int): DataFrame = {
    val tf = termFreq(docs).persist()
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val queryIds = docs.filter(queryPred).select("doc_id")
    // both ranker helpers materialize eagerly (persist-collect-release
    // + localCheckpoint), so the fused output is safe to consume after
    // tf unpersists
    val lexical = tfidfRetrievalFromVecs(
      tfidfVectorsFromTf(tf, nDocs, kVec), queryIds, kList)
    val bm25 = bm25RetrievalFromTf(tf, queryIds, kList)
    val out = rrfFusion(Seq(lexical, bm25), topN).localCheckpoint(true)
    tf.unpersist()
    out
  }

  /** Memoized top-10 ranking pair shared by the two in-plan hybrid
    * rows (`q_rrf_fusion`, `q_ranker_agreement`): both need the SAME
    * two rankers over the SAME query set — fusion consumes the top-10
    * lists, agreement the top-3 PREFIX of the identical ordering
    * (topN enters each ranker only at the final TopKAgg cut, so
    * rnk ≤ 3 of the k=10 output is byte-identical to a k=3 run) — so
    * the corpus-sized tokenize + weigh + rank subtree is paid once per
    * (context, dataset) and both combiners read the materialized
    * queries×10 lists. This is the production shape: rankings are
    * computed once, fusion and eval diagnostics are independent
    * consumers. The cached frames are localCheckpoint'd (lineage
    * truncated) and context-keyed; a lost checkpoint block (executor
    * loss, block eviction) cannot be recomputed THROUGH the frame, so
    * a hit is validated with a cheap action first and a broken entry
    * is dropped and re-derived instead of poisoning every later call.
    */
  private val hybridRankCache = new java.util.concurrent.ConcurrentHashMap[
    String, (DataFrame, DataFrame)]

  private def hybridRankings(
      s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val key =
      s.sparkContext.applicationId + "|" + graft.plans.AggStore.artifactId(d)
    def derive(): (DataFrame, DataFrame) = {
      val docs = documents(s, d)
      val tf = termFreq(docs).persist()
      val nDocs = docs.agg(count(lit(1)).as("n_docs"))
      val queryIds = docs.filter(col("doc_id") % 25 === 0)
        .select("doc_id")
      // both ranker helpers materialize eagerly (persist-collect-
      // release + localCheckpoint), so the cached pair is safe to
      // consume after tf unpersists
      val lex = tfidfRetrievalFromVecs(
        tfidfVectorsFromTf(tf, nDocs, 10), queryIds, 10)
      val bm = bm25RetrievalFromTf(tf, queryIds, 10)
      tf.unpersist()
      (lex, bm)
    }
    val hit = hybridRankCache.computeIfAbsent(key, _ => derive())
    try {
      // tiny frames (queries × 10) — the probe costs ~ms and proves
      // the truncated-lineage blocks are still fetchable
      hit._1.isEmpty; hit._2.isEmpty
      hit
    } catch {
      case _: Throwable =>
        hybridRankCache.remove(key, hit)
        hybridRankCache.computeIfAbsent(key, _ => derive())
    }
  }

  val qRrfFusion: Q = (s, d) => {
    val (lex, bm) = hybridRankings(s, d)
    rrfFusion(Seq(lex, bm), 5)
  }

  /** Hybrid LEXICAL + VECTOR retrieval — the production hybrid-search
    * shape (a keyword leg and a semantic leg fused by RRF, the default
    * combiner in hybrid stacks precisely because rank-only votes need
    * no score calibration between a BM25 scale and a cosine scale):
    * the memoized BM25 top-10 leg fused with an embedding-cosine
    * top-10 leg over the same query ids. `documents` and `embeddings`
    * share the fixture id space, with the vector leg covering the
    * EMBEDDED SUBSET — the ragged membership is the production
    * situation (the lexical index covers the full corpus, the vector
    * index the embedded slice) and RRF handles it natively: a doc
    * reachable through one leg only simply carries one vote. The
    * semantic leg is exact cosine so the row stays DuckDB-oracled
    * end-to-end; at corpus scale that leg swaps for the persisted ANN
    * artifacts (the `q_knn_ann_*` family prices exactly that path)
    * with identical plumbing, since RRF consumes ranks alone.
    */
  val qHybridFusion: Q = (s, d) => {
    val (_, bm) = hybridRankings(s, d)
    val emb = graft.Tables.embeddings(s, d).select("vec_id", "embedding")
    val knn = graft.operators.Similarity.bruteForceKnn(
      emb, emb.filter(col("vec_id") % 25 === 0), 10)
      .select("query_id", "rnk", "neighbor_id")
    // the lexical leg restricted to queries that HAVE an embedding —
    // votes for lexical-only queries would fuse against an absent
    // semantic leg (per-query independence makes pre- and post-fusion
    // filtering equivalent; filtering before keeps the vote union tiny)
    val embQ = emb.select(col("vec_id").as("query_id"))
    rrfFusion(Seq(
      bm.join(broadcast(embQ), Seq("query_id"), "left_semi"), knn), 5)
  }

  // lazy: composes qRrfFusionSql, which is initialized later in this
  // object (definition order follows the query family grouping)
  lazy val qHybridFusionSql: String = {
    val bmLegAnchor = "qq AS (SELECT DISTINCT doc_id, term FROM toks WHERE doc_id % 25 = 0),"
    require(qRrfFusionSql.contains(bmLegAnchor),
      "bm25 oracle block moved — update qHybridFusionSql")
    // reuse qRrfFusionSql's BM25 blocks verbatim (toks…branked), swap
    // the tfidf leg for the exact-cosine vector leg and restrict the
    // lexical votes to embedded queries
    qRrfFusionSql
      .substring(0, qRrfFusionSql.indexOf("votes AS ("))
      .replace("tranked AS", "tranked_unused AS") +
      """vknn AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
        |    row_number() OVER (PARTITION BY a.vec_id
        |      ORDER BY list_cosine_similarity(a.embedding, b.embedding) DESC,
        |               b.vec_id) AS rnk
        |  FROM embeddings a JOIN embeddings b ON b.vec_id <> a.vec_id
        |  WHERE a.vec_id % 25 = 0),
        |votes AS (
        |  SELECT query_id, neighbor_id, 1.0 / (60 + rnk) AS vote
        |  FROM branked WHERE rnk <= 10
        |    AND query_id IN (SELECT vec_id FROM embeddings)
        |  UNION ALL
        |  SELECT query_id, neighbor_id, 1.0 / (60 + rnk) AS vote
        |  FROM vknn WHERE rnk <= 10),
        |fused AS (SELECT query_id, neighbor_id,
        |            round(sum(vote), 6) AS rrf
        |          FROM votes GROUP BY 1, 2),
        |ranked AS (SELECT query_id, neighbor_id, rrf,
        |             row_number() OVER (PARTITION BY query_id
        |               ORDER BY rrf DESC, neighbor_id) AS rnk
        |           FROM fused)
        |SELECT query_id, rnk, neighbor_id, rrf
        |FROM ranked WHERE rnk <= 5
        |ORDER BY query_id, rnk""".stripMargin
  }

  val qRrfFusionSql: String =
    """WITH toks AS (
      |  SELECT doc_id, unnest(list_filter(
      |    string_split_regex(trim(text), '\s+'), t -> t <> '')) AS term
      |  FROM documents),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
      |dfx AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
      |n AS (SELECT count(*) AS n_docs FROM documents),
      |scored AS (
      |  SELECT doc_id, term,
      |    round(tf * ln(CAST(n_docs AS DOUBLE) / df), 4) AS score
      |  FROM tf JOIN dfx USING (term) CROSS JOIN n),
      |v AS (SELECT doc_id, term, score FROM (
      |  SELECT doc_id, term, score,
      |    row_number() OVER (PARTITION BY doc_id
      |      ORDER BY score DESC, term) AS rnk
      |  FROM scored)
      |  WHERE rnk <= 10),
      |norms AS (SELECT doc_id, sqrt(sum(score * score)) AS nrm
      |          FROM v GROUP BY 1),
      |tdots AS (SELECT a.doc_id AS query_id, b.doc_id AS neighbor_id,
      |            sum(a.score * b.score) AS dot
      |          FROM v a JOIN v b ON a.term = b.term
      |            AND a.doc_id % 25 = 0 AND b.doc_id <> a.doc_id
      |          GROUP BY 1, 2),
      |tranked AS (SELECT query_id, neighbor_id,
      |              row_number() OVER (PARTITION BY query_id
      |                ORDER BY cosine DESC, neighbor_id) AS rnk
      |            FROM (SELECT query_id, neighbor_id,
      |                    round(dot / (na.nrm * nb.nrm), 4) AS cosine
      |                  FROM tdots
      |                  JOIN norms na ON query_id = na.doc_id
      |                  JOIN norms nb ON neighbor_id = nb.doc_id)),
      |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl
      |       FROM tf GROUP BY 1),
      |stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
      |w AS (SELECT tf.doc_id, tf.term,
      |        round(ln((stats.n_docs - df + 0.5) / (df + 0.5) + 1.0) *
      |          (tf * 2.2) /
      |          (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)), 4) AS w
      |      FROM tf JOIN dfx USING (term) JOIN dl USING (doc_id)
      |      CROSS JOIN stats),
      |qq AS (SELECT DISTINCT doc_id, term FROM toks WHERE doc_id % 25 = 0),
      |bdots AS (SELECT qq.doc_id AS query_id, w.doc_id AS neighbor_id,
      |            round(sum(w.w), 4) AS score
      |          FROM qq JOIN w ON qq.term = w.term AND w.doc_id <> qq.doc_id
      |          GROUP BY 1, 2),
      |branked AS (SELECT query_id, neighbor_id,
      |              row_number() OVER (PARTITION BY query_id
      |                ORDER BY score DESC, neighbor_id) AS rnk
      |            FROM bdots),
      |votes AS (
      |  SELECT query_id, neighbor_id, 1.0 / (60 + rnk) AS vote
      |  FROM tranked WHERE rnk <= 10
      |  UNION ALL
      |  SELECT query_id, neighbor_id, 1.0 / (60 + rnk) AS vote
      |  FROM branked WHERE rnk <= 10),
      |fused AS (SELECT query_id, neighbor_id,
      |            round(sum(vote), 6) AS rrf
      |          FROM votes GROUP BY 1, 2),
      |ranked AS (SELECT query_id, neighbor_id, rrf,
      |             row_number() OVER (PARTITION BY query_id
      |               ORDER BY rrf DESC, neighbor_id) AS rnk
      |           FROM fused)
      |SELECT query_id, rnk, neighbor_id, rrf
      |FROM ranked WHERE rnk <= 5
      |ORDER BY query_id, rnk""".stripMargin

  /** Top-3 lexical neighbors for every 25th document. */
  val qTfidfRetrieval: Q = (s, d) =>
    tfidfRetrieval(documents(s, d), col("doc_id") % 25 === 0, 10, 3)

  val qTfidfRetrievalSql: String =
    """WITH toks AS (
      |  SELECT doc_id, unnest(list_filter(
      |    string_split_regex(trim(text), '\s+'), t -> t <> '')) AS term
      |  FROM documents),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
      |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
      |n AS (SELECT count(*) AS n_docs FROM documents),
      |scored AS (
      |  SELECT doc_id, term,
      |    round(tf * ln(CAST(n_docs AS DOUBLE) / df), 4) AS score
      |  FROM tf JOIN df USING (term) CROSS JOIN n),
      |v AS (SELECT doc_id, term, score FROM (
      |  SELECT doc_id, term, score,
      |    row_number() OVER (PARTITION BY doc_id
      |      ORDER BY score DESC, term) AS rnk
      |  FROM scored)
      |  WHERE rnk <= 10),
      |norms AS (SELECT doc_id, sqrt(sum(score * score)) AS nrm
      |          FROM v GROUP BY 1),
      |dots AS (SELECT a.doc_id AS query_id, b.doc_id AS neighbor_id,
      |           sum(a.score * b.score) AS dot
      |         FROM v a JOIN v b ON a.term = b.term
      |           AND a.doc_id % 25 = 0 AND b.doc_id <> a.doc_id
      |         GROUP BY 1, 2),
      |cosd AS (SELECT query_id, neighbor_id,
      |           round(dot / (na.nrm * nb.nrm), 4) AS cosine
      |         FROM dots
      |         JOIN norms na ON query_id = na.doc_id
      |         JOIN norms nb ON neighbor_id = nb.doc_id),
      |ranked AS (SELECT query_id, neighbor_id, cosine,
      |             row_number() OVER (PARTITION BY query_id
      |               ORDER BY cosine DESC, neighbor_id) AS rnk
      |           FROM cosd)
      |SELECT query_id, rnk, neighbor_id, cosine
      |FROM ranked WHERE rnk <= 3
      |ORDER BY query_id, rnk""".stripMargin

  // ---------------------------------------------------------------------
  // Unigram log-probability quality score: mean ln p(token) under the
  // corpus unigram distribution — the cheap LM-perplexity proxy used to
  // rank documents by "typicality". Corpus stats are one vocab-sized
  // aggregation; the per-doc score is a term-keyed join + per-doc
  // weighted average. tf·ln(c/T) sums ~40 doubles per doc; 4dp rounding
  // sits ~9 orders above the accumulation-order jitter.
  // ---------------------------------------------------------------------
  val qUnigramLogprob: Q = (s, d) => {
    val tf = documents(s, d)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), explode(col("toks")).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val corpus = tf.groupBy("term").agg(sum("tf").as("c"))
    val total = corpus.agg(sum("c").as("t"))
    tf.join(corpus, "term")
      .crossJoin(broadcast(total))
      .groupBy("doc_id")
      .agg(round(
        sum(col("tf") * log(col("c").cast("double") / col("t"))) /
          sum(col("tf")), 4).as("mean_logprob"))
      .orderBy("doc_id")
  }

  val qUnigramLogprobSql: String =
    """WITH toks AS (
      |  SELECT doc_id, unnest(list_filter(
      |    string_split_regex(trim(text), '\s+'), t -> t <> '')) AS term
      |  FROM documents),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
      |corpus AS (SELECT term, CAST(sum(tf) AS BIGINT) AS c FROM tf GROUP BY 1),
      |tot AS (SELECT CAST(sum(c) AS BIGINT) AS t FROM corpus)
      |SELECT doc_id,
      |  round(sum(tf * ln(CAST(c AS DOUBLE) / t)) / sum(tf), 4)
      |    AS mean_logprob
      |FROM tf JOIN corpus USING (term) CROSS JOIN tot
      |GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // CCNet-style perplexity bucketing (Wenzek et al., "CCNet: Extracting
  // High Quality Monolingual Datasets from Web Crawl Data", LREC 2020):
  // rank every document by its LM score and cut the corpus into
  // head / middle / tail thirds — the standard quality tiers downstream
  // mixers sample from. Score = the q_unigram_logprob mean (rounded to
  // 4dp BEFORE ranking, so both engines order identical values; doc_id
  // breaks ties deterministically). Output is the per-(source, tier)
  // report: doc counts + mean score.
  //
  // Scale shape: the corpus pass is the unigram-LM aggregation (vocab-
  // bounded state); the global rank comes from Sampling.exclusivePrefixSum
  // — range-repartition + per-partition window + O(#partitions) driver
  // offsets, NOT a single-partition global window. Tier boundaries are
  // EXACT (rank·3 div n, = SQL ntile(3) cuts). At 100 TB, when exact
  // cuts aren't required, the map-only alternative is two
  // approx-percentile thresholds broadcast back over the score column;
  // the exact form is kept here because the oracle must reproduce it.
  // ---------------------------------------------------------------------
  /** Tier report over any frame with (doc_id, source, text). */
  def lmBuckets(docs: DataFrame): DataFrame = {
    val tf = docs
      .select(col("doc_id"), col("source"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("source"), explode(col("toks")).as("term"))
      .groupBy("doc_id", "source", "term").agg(count(lit(1)).as("tf"))
    val corpus = tf.groupBy("term").agg(sum("tf").as("c"))
    val total = corpus.agg(sum("c").as("t"))
    // scored feeds the count AND the ranked frame — persist so the
    // tokenize+explode+join subtree (the corpus pass) runs once
    val scored = tf.join(corpus, "term")
      .crossJoin(broadcast(total))
      .groupBy("doc_id", "source")
      .agg(round(
        sum(col("tf") * log(col("c").cast("double") / col("t"))) /
          sum(col("tf")), 4).as("mean_logprob"))
      .persist()
    val nDf = scored.agg(count(lit(1)).as("n"))
    val ranked = Sampling.exclusivePrefixSum(
      scored.withColumn("one", lit(1L)),
      Seq(col("mean_logprob").desc, col("doc_id")), "one", 32, "rank0")
    val out = ranked.crossJoin(broadcast(nDf))
      .withColumn("tier", expr("1 + ((rank0 * 3) div n)"))
      .withColumn("bucket",
        when(col("tier") === 1, "head")
          .when(col("tier") === 2, "middle").otherwise("tail"))
      .groupBy("source", "bucket")
      .agg(count(lit(1)).as("n_docs"),
        round(avg("mean_logprob"), 4).as("avg_logprob"))
      .orderBy("source", "bucket")
      .localCheckpoint(true)
    scored.unpersist()
    out
  }

  val qLmBuckets: Q = (s, d) => lmBuckets(documents(s, d))

  val qLmBucketsSql: String =
    """WITH toks AS (
      |  SELECT doc_id, source, unnest(list_filter(
      |    string_split_regex(trim(text), '\s+'), t -> t <> '')) AS term
      |  FROM documents),
      |tf AS (SELECT doc_id, source, term, count(*) AS tf
      |       FROM toks GROUP BY 1, 2, 3),
      |corpus AS (SELECT term, CAST(sum(tf) AS BIGINT) AS c FROM tf GROUP BY 1),
      |tot AS (SELECT CAST(sum(c) AS BIGINT) AS t FROM corpus),
      |scored AS (
      |  SELECT doc_id, source,
      |    round(sum(tf * ln(CAST(c AS DOUBLE) / t)) / sum(tf), 4)
      |      AS mean_logprob
      |  FROM tf JOIN corpus USING (term) CROSS JOIN tot
      |  GROUP BY doc_id, source),
      |rn AS (SELECT *,
      |         row_number() OVER (ORDER BY mean_logprob DESC, doc_id) AS rn,
      |         count(*) OVER () AS n
      |       FROM scored),
      |b AS (SELECT source, mean_logprob,
      |        1 + ((rn - 1) * 3) // n AS tier FROM rn)
      |SELECT source,
      |  CASE tier WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
      |    ELSE 'tail' END AS bucket,
      |  CAST(count(*) AS BIGINT) AS n_docs,
      |  round(avg(mean_logprob), 4) AS avg_logprob
      |FROM b GROUP BY source, bucket
      |ORDER BY source, bucket""".stripMargin

  // ---------------------------------------------------------------------
  // Bigram conditional log-probability: mean ln p(w2|w1) over the doc's
  // bigram positions under the corpus bigram model — the next step past
  // the unigram proxy (captures local fluency, not just vocabulary
  // typicality). Corpus model = two vocab²-bounded aggregations (bigram
  // counts; prefix counts derived FROM the bigram table, so p sums to 1
  // per prefix by construction and no smoothing is needed — every doc
  // bigram exists in the corpus it came from). Per-doc score is a
  // bigram-keyed join + weighted average, same parity regime as
  // q_unigram_logprob (sum-order jitter ~1e-13 vs 4dp rounding).
  // ---------------------------------------------------------------------
  val qBigramLogprob: Q = (s, d) => {
    // tf feeds three branches (per-doc scores, bigram counts, and prefix
    // counts via the bigram table) — persist it or the tokenize + explode
    // + aggregate subtree runs three times (the dominant corpus pass)
    val tf = documents(s, d)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        explode(shinglesFromTokens(col("toks"), 2)).as("g"))
      .groupBy("doc_id", "g").agg(count(lit(1)).as("tf"))
      .persist()
    val corpusBg = tf.groupBy("g").agg(sum("tf").as("c_bg"))
    val corpusPrefix = corpusBg
      .groupBy(substring_index(col("g"), " ", 1).as("w1"))
      .agg(sum("c_bg").as("c_w1"))
    val out = tf.join(corpusBg, "g")
      .withColumn("w1", substring_index(col("g"), " ", 1))
      .join(corpusPrefix, "w1")
      .groupBy("doc_id")
      .agg(round(
        sum(col("tf") * log(col("c_bg").cast("double") / col("c_w1"))) /
          sum(col("tf")), 4).as("mean_bigram_logprob"))
      .orderBy("doc_id")
      .localCheckpoint(true)
    tf.unpersist()
    out
  }

  val qBigramLogprobSql: String =
    """WITH t AS (SELECT doc_id,
      |    list_filter(string_split_regex(trim(text), '\s+'),
      |                x -> x <> '') AS l
      |  FROM documents),
      |mx AS (SELECT max(len(l)) AS m FROM t),
      |bg AS (SELECT doc_id,
      |         l[CAST(i AS INT)] || ' ' || l[CAST(i AS INT)+1] AS g
      |       FROM t CROSS JOIN
      |         (SELECT unnest(range(1, (SELECT m FROM mx))) AS i) r
      |       WHERE CAST(i AS INT) + 1 <= len(l)),
      |tf AS (SELECT doc_id, g, count(*) AS tf FROM bg GROUP BY 1, 2),
      |cbg AS (SELECT g, CAST(sum(tf) AS BIGINT) AS c_bg FROM tf GROUP BY 1),
      |cw1 AS (SELECT split_part(g, ' ', 1) AS w1,
      |          CAST(sum(c_bg) AS BIGINT) AS c_w1 FROM cbg GROUP BY 1)
      |SELECT doc_id,
      |  round(sum(tf * ln(CAST(c_bg AS DOUBLE) / c_w1)) / sum(tf), 4)
      |    AS mean_bigram_logprob
      |FROM tf JOIN cbg USING (g)
      |  JOIN cw1 ON split_part(g, ' ', 1) = cw1.w1
      |GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // Stupid Backoff scoring (Brants et al., "Large Language Models in
  // Machine Translation", EMNLP'07): per-doc mean log score of each
  // bigram under a FROZEN model — S(w2|w1) = c(w1 w2)/c(w1) when the
  // bigram is known, else α·(c(w2)+1)/(N+V) (α = 0.4; add-1 on the
  // unigram backstop so unseen words stay finite). Unlike the
  // self-corpus q_unigram/bigram_logprob scores, the model here is fit
  // on a TENTH of the corpus (doc_id % 10 == 0) and applied to every
  // document — the production shape (frozen model, new text), sized so
  // backoff genuinely fires (377 of 500 fixture docs carry at least one
  // bigram the model slice never saw; a half-corpus model left only 6). All model quantities are integer counts, so every ratio is
  // engine-exact; same 4dp parity regime as the other LM scores.
  //
  // Scale shape: model = two vocab²-bounded aggregations over the model
  // half (+1 unigram agg); scoring = bigram- and word-keyed LEFT joins
  // back to the per-doc frame. Nothing holds more than vocab state.
  // ---------------------------------------------------------------------
  val BackoffAlpha = 0.4

  /** The two COUNT tables that ARE a Stupid Backoff model: bigram counts
    * (g, c_bg) and unigram counts (w2, c_u). Counts are linear, so two
    * corpora's models merge by summing counters — the property
    * [[graft.plans.LmStore]] exploits for incremental extension; every
    * derived quantity (prefix counts, N, V) recomputes from these two
    * vocab-bounded frames.
    */
  def backoffModel(modelToks: DataFrame): (DataFrame, DataFrame) = (
    modelToks
      .select(explode(shinglesFromTokens(col("toks"), 2)).as("g"))
      .groupBy("g").agg(count(lit(1)).as("c_bg")),
    modelToks.select(explode(col("toks")).as("w2"))
      .groupBy("w2").agg(count(lit(1)).as("c_u")))

  /** Score every doc in `docToks` (doc_id, toks) against a frozen model
    * given as its two count tables. The model is pre-merged into ONE
    * w2-keyed frame — c_u plus a w1 → (c_bg, c_w1) map over the model
    * bigrams ending in w2 — so scoring is a single broadcast hash join
    * against the exploded corpus-bigram frame plus an O(1) `element_at`
    * per row, instead of three separate corpus-keyed left joins (the
    * r6-bench regression shape: each join re-materialized the full
    * exploded frame). Merged-frame size equals the bigram table, i.e.
    * exactly what a g-keyed broadcast join would ship anyway; all the
    * merge aggs are vocab-bounded. Unsorted; callers order/materialize.
    */
  def backoffScore(
      docToks: DataFrame, cbg: DataFrame, cu: DataFrame): DataFrame = {
    val cw1 = cbg
      .groupBy(substring_index(col("g"), " ", 1).as("w1"))
      .agg(sum("c_bg").as("c_w1"))
    val totals = cu.agg(
      coalesce(sum("c_u"), lit(0L)).as("n"),
      count(lit(1)).as("v"))
    val bgByW2 = cbg
      .withColumn("w1", substring_index(col("g"), " ", 1))
      .withColumn("w2", substring_index(col("g"), " ", -1))
      .join(cw1, "w1")
      .groupBy("w2")
      .agg(map_from_entries(collect_list(
        struct(col("w1"), struct(col("c_bg"), col("c_w1"))))).as("preds"))
    // outer, not left: callers may pass count tables that don't share a
    // corpus (LmStore merges), so a bigram-w2 absent from cu must still
    // carry its preds map rather than silently score as unseen
    val model = cu.join(bgByW2, Seq("w2"), "outer")
    val docBg = docToks
      .select(col("doc_id"), explode(shinglesFromTokens(col("toks"), 2)).as("g"))
      .withColumn("w2", substring_index(col("g"), " ", -1))
    // NO broadcast hint on the model: its size tracks the model
    // corpus's bigram-TYPE count, which a forced broadcast would ship
    // unconditionally — past the driver/broadcast bound on a large
    // training slice. AQE sees the aggregated model's runtime size and
    // converts the join to broadcast exactly when it fits (it does on
    // every fixture; measured identical to the hinted plan), and falls
    // back to a single shuffled hash join — still one join, not the
    // r6 three — when it doesn't.
    docBg
      .join(model, Seq("w2"), "left")
      .crossJoin(broadcast(totals))
      .withColumn("e", // try_: a missing w1 key IS the backoff signal,
        // not an ANSI error
        try_element_at(col("preds"), substring_index(col("g"), " ", 1)))
      .withColumn("lp",
        when(col("e").isNotNull,
          log(col("e.c_bg").cast("double") / col("e.c_w1")))
          .otherwise(log(lit(BackoffAlpha) *
            (coalesce(col("c_u"), lit(0L)) + 1L).cast("double") /
            (col("n") + col("v")))))
      .groupBy("doc_id")
      .agg(
        round(avg("lp"), 4).as("mean_backoff_logprob"),
        sum(when(col("e").isNull, 1L).otherwise(0L)).as("n_backoff"))
  }

  val qBackoffLogprob: Q = (s, d) => {
    val toksAll = documents(s, d)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
    val (cbgPlan, cuPlan) = backoffModel(
      toksAll.filter(col("doc_id") % 10 === 0))
    val cbg = cbgPlan.persist()
    val cu = cuPlan.persist()
    val out = backoffScore(toksAll, cbg, cu)
      .orderBy("doc_id")
      .localCheckpoint(true)
    cbg.unpersist(); cu.unpersist()
    out
  }

  val qBackoffLogprobSql: String =
    s"""WITH t AS (SELECT doc_id,
      |    list_filter(string_split_regex(trim(text), '\\s+'),
      |                x -> x <> '') AS l
      |  FROM documents),
      |mx AS (SELECT max(len(l)) AS m FROM t),
      |bg AS (SELECT doc_id,
      |         l[CAST(i AS INT)] || ' ' || l[CAST(i AS INT)+1] AS g,
      |         l[CAST(i AS INT)] AS w1, l[CAST(i AS INT)+1] AS w2
      |       FROM t CROSS JOIN
      |         (SELECT unnest(range(1, (SELECT m FROM mx))) AS i) r
      |       WHERE CAST(i AS INT) + 1 <= len(l)),
      |cbg AS (SELECT g, CAST(count(*) AS BIGINT) AS c_bg FROM bg
      |        WHERE doc_id % 10 = 0 GROUP BY 1),
      |cw1 AS (SELECT split_part(g, ' ', 1) AS w1,
      |          CAST(sum(c_bg) AS BIGINT) AS c_w1 FROM cbg GROUP BY 1),
      |cu AS (SELECT w2, CAST(count(*) AS BIGINT) AS c_u FROM (
      |         SELECT doc_id, unnest(l) AS w2 FROM t)
      |       WHERE doc_id % 10 = 0 GROUP BY 1),
      |tot AS (SELECT CAST(COALESCE(sum(c_u), 0) AS BIGINT) AS n,
      |          CAST(count(*) AS BIGINT) AS v FROM cu)
      |SELECT doc_id,
      |  round(avg(CASE WHEN c_bg IS NOT NULL
      |    THEN ln(CAST(c_bg AS DOUBLE) / c_w1)
      |    ELSE ln($BackoffAlpha * (COALESCE(c_u, 0) + 1) / (n + v))
      |  END), 4) AS mean_backoff_logprob,
      |  CAST(sum(CASE WHEN c_bg IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_backoff
      |FROM bg
      |  LEFT JOIN cbg USING (g)
      |  LEFT JOIN cw1 USING (w1)
      |  LEFT JOIN cu USING (w2)
      |  CROSS JOIN tot
      |GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // DSIR-style importance weighting (Xie et al., "Data Selection for
  // Language Models via Importance Resampling", NeurIPS'23): score every
  // document by how much more likely its tokens are under a TARGET
  // domain's unigram model than under the rest-of-corpus model —
  // mean_t ln(p_tgt(t) / p_src(t)) — then select the positive-ratio
  // docs. The target here is the `en` slice (any label column works);
  // add-1 smoothing over the shared vocab keeps both models defined on
  // every token. All model inputs are integer counts, so the log of the
  // integer ratio is bit-identical across engines; the per-doc tf-
  // weighted mean is the same 4dp-rounding regime as q_unigram_logprob.
  //
  // Scale shape: two vocab-sized aggregations (target/source counts),
  // one 1-row totals frame broadcast, term-keyed left join back to the
  // per-doc tf frame, one per-doc aggregation. No stage holds more than
  // vocab or doc keys — the same family as the LM-score queries. (The
  // paper hashes n-grams into 10⁴ buckets to bound vocab; with this
  // fixture's bounded vocab the exact-term model IS the bucketed model.)
  // ---------------------------------------------------------------------
  val DsirTargetLang = "en"

  /** The operator body behind [[qDsirWeights]]: importance log-ratios
    * for an arbitrary corpus frame (`doc_id`, `text`, `lang`) and
    * target predicate over its rows.
    */
  def dsirWeights(docs: DataFrame, isTgt: Column): DataFrame =
    dsirWeightsTokenized(
      docs.select(col("doc_id"), col("lang"), tokens(col("text")).as("toks")),
      isTgt)

  /** Pre-tokenized form (`doc_id`, `lang`, `toks`) so composed pipelines
    * whose upstream stage already tokenized (e.g. the curation gate)
    * don't pay a second corpus-wide tokenize pass.
    */
  def dsirWeightsTokenized(docs: DataFrame, isTgt: Column): DataFrame = {
    // tf feeds the term-stats aggregation and the scoring join
    val tf = docs
      .select(col("doc_id"), col("lang"), explode(col("toks")).as("term"))
      .groupBy("doc_id", "lang", "term").agg(count(lit(1)).as("tf"))
      .persist()
    // BOTH models from ONE vocab-sized aggregation (r16): the r15
    // shape aggregated tf three times (target counts, source counts,
    // totals — each its own exchange + query stage) and joined twice;
    // one groupBy(term) carries ct and cs as conditional sums —
    // identical integers (a term absent from a slice sums to 0, which
    // is what the left-join + fill(0) produced) — and the totals
    // derive from the vocab-sized stats frame instead of a second
    // corpus-sized pass (v = stats rows ≡ countDistinct term; nt/ns =
    // Σ ct / Σ cs). The stats subtree appears twice in the plan
    // (totals broadcast + scoring join) and its exchange is REUSED,
    // so it computes once.
    val stats = tf.groupBy("term").agg(
      sum(when(isTgt, col("tf")).otherwise(0L)).as("ct"),
      sum(when(!isTgt, col("tf")).otherwise(0L)).as("cs"))
    val totals = stats.agg(
      count(lit(1)).as("v"), sum("ct").as("nt"), sum("cs").as("ns"))
    val out = tf
      // inner join is exact: every tf term appears in stats by
      // construction (stats aggregates tf itself)
      .join(stats, Seq("term"))
      .crossJoin(broadcast(totals))
      // ln(p_tgt/p_src) with add-1: an integer-ratio log, engine-exact
      .withColumn("lr", log(
        ((col("ct") + 1L) * (col("ns") + col("v"))).cast("double") /
          ((col("cs") + 1L) * (col("nt") + col("v")))))
      .groupBy("doc_id", "lang")
      .agg(round(sum(col("tf") * col("lr")) / sum(col("tf")), 4)
        .as("dsir_logratio"))
      .withColumn("selected", col("dsir_logratio") > 0)
      // NOT ordered here (r16): only the registered weights row needs
      // a total order — the curation consumer feeds a filter + join,
      // and sorting before the checkpoint cost a range exchange + its
      // sampling job on every composed use
      .localCheckpoint(true)
    tf.unpersist()
    out
  }

  val qDsirWeights: Q = (s, d) =>
    dsirWeights(documents(s, d), col("lang") === DsirTargetLang)
      .orderBy("doc_id")

  /** Static DSIR scoring model from a reference corpus: a vocab-sized
    * `(term, lr)` table (materialized once) plus the unseen-term default
    * log-ratio. This is the reusable artifact the STREAMING ingest gate
    * broadcasts ([[graft.streaming.DocStreams.admitByImportance]]) —
    * arriving documents are scored against the frozen model without
    * re-reading the reference corpus; the totals collect is three longs.
    */
  def dsirModel(docs: DataFrame, isTgt: Column): (DataFrame, Double) = {
    val terms = docs
      .select(col("lang"), explode(tokens(col("text"))).as("term"))
      .select(col("term"), isTgt.as("is_tgt"))
      .persist()
    val counts = terms.groupBy("term").agg(
      sum(when(col("is_tgt"), 1L).otherwise(0L)).as("ct"),
      sum(when(!col("is_tgt"), 1L).otherwise(0L)).as("cs"))
      .persist()
    val t = counts.agg(
      count(lit(1)).as("v"), sum("ct").as("nt"), sum("cs").as("ns"))
      .collect()(0)
    val (v, nt, ns) = (t.getLong(0),
      if (t.isNullAt(1)) 0L else t.getLong(1),
      if (t.isNullAt(2)) 0L else t.getLong(2))
    val weights = counts.select(col("term"),
      log(((col("ct") + 1L) * (ns + v)).cast("double") /
        ((col("cs") + 1L) * (nt + v))).as("lr"))
      .localCheckpoint(true)
    terms.unpersist(); counts.unpersist()
    // empty corpus → no vocab: a neutral default (score 0, not NaN)
    val default = if (v == 0) 0.0 else math.log((ns + v).toDouble / (nt + v))
    (weights, default)
  }

  val qDsirWeightsSql: String =
    s"""WITH toks AS (
      |  SELECT doc_id, lang, unnest(list_filter(
      |    string_split_regex(trim(text), '\\s+'), t -> t <> '')) AS term
      |  FROM documents),
      |tf AS (SELECT doc_id, lang, term, count(*) AS tf
      |       FROM toks GROUP BY 1, 2, 3),
      |ct AS (SELECT term, CAST(sum(tf) AS BIGINT) AS ct FROM tf
      |       WHERE lang = '$DsirTargetLang' GROUP BY 1),
      |cs AS (SELECT term, CAST(sum(tf) AS BIGINT) AS cs FROM tf
      |       WHERE lang <> '$DsirTargetLang' GROUP BY 1),
      |tot AS (SELECT CAST(count(DISTINCT term) AS BIGINT) AS v,
      |          CAST(sum(CASE WHEN lang = '$DsirTargetLang' THEN tf
      |                        ELSE 0 END) AS BIGINT) AS nt,
      |          CAST(sum(CASE WHEN lang <> '$DsirTargetLang' THEN tf
      |                        ELSE 0 END) AS BIGINT) AS ns
      |        FROM tf)
      |SELECT doc_id, lang,
      |  round(sum(tf * ln(
      |    CAST((COALESCE(ct, 0) + 1) * (ns + v) AS DOUBLE)
      |      / ((COALESCE(cs, 0) + 1) * (nt + v)))) / sum(tf), 4)
      |    AS dsir_logratio,
      |  round(sum(tf * ln(
      |    CAST((COALESCE(ct, 0) + 1) * (ns + v) AS DOUBLE)
      |      / ((COALESCE(cs, 0) + 1) * (nt + v)))) / sum(tf), 4) > 0
      |    AS selected
      |FROM tf
      |  LEFT JOIN ct USING (term)
      |  LEFT JOIN cs USING (term)
      |  CROSS JOIN tot
      |GROUP BY doc_id, lang
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // Corpus profiling: per-language token-length histogram — the report
  // card every curation run publishes (length distributions drive the
  // gate thresholds the quality ops apply). Fixed-width integer buckets
  // (div, not quantile cuts) so bucket membership is engine-exact; the
  // per-language share is a window over the (lang, bucket) AGGREGATE —
  // state is languages × buckets, corpus-size-independent, and the
  // corpus itself is one scan + one partial+final count aggregation.
  // ---------------------------------------------------------------------
  val HistBucketTokens = 10L

  val qLengthHistogram: Q = (s, d) => {
    val tot = org.apache.spark.sql.expressions.Window.partitionBy("lang")
    documents(s, d)
      .select(col("lang"),
        size(tokens(col("text"))).cast("long").as("n"))
      .withColumn("bucket", expr(s"n div $HistBucketTokens"))
      .groupBy("lang", "bucket")
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("pct",
        round(col("n_docs").cast("double") / sum("n_docs").over(tot), 4))
      .orderBy("lang", "bucket")
  }

  val qLengthHistogramSql: String =
    s"""WITH t AS (SELECT lang,
      |    CAST(len(list_filter(string_split_regex(trim(text), '\\s+'),
      |             x -> x <> '')) AS BIGINT) AS n
      |  FROM documents),
      |b AS (SELECT lang, n // $HistBucketTokens AS bucket,
      |        CAST(count(*) AS BIGINT) AS n_docs
      |      FROM t GROUP BY 1, 2)
      |SELECT lang, bucket, n_docs,
      |  round(CAST(n_docs AS DOUBLE)
      |    / sum(n_docs) OVER (PARTITION BY lang), 4) AS pct
      |FROM b ORDER BY lang, bucket""".stripMargin

  // ---------------------------------------------------------------------
  // Token co-occurrence + PMI — collocation mining (Church & Hanks,
  // CL'90), the count-based primitive under word-embedding / phrase-
  // table pipelines: which token pairs co-occur in documents more than
  // their marginals predict. pmi = ln(N·c_xy / (c_x·c_y)) over document-
  // level co-occurrence.
  //
  // Scale shape: the corpus collapses to DISTINCT (doc, term) — a
  // partial-aggregate dedup, so the exchange moves locally-deduped rows,
  // not the raw exploded token stream (an explicit repartition(doc_id)
  // was measured 2× slower at the 10× probe for exactly that reason).
  // The pair stage self-joins that frame on doc_id: at fixture scale
  // AQE broadcasts one side; past broadcast scale both sides need the
  // same doc_id exchange of the same subtree, which the ReuseExchange
  // rule collapses to one — two corpus-sized exchanges end to end, both
  // carrying the deduped frame. The pair aggregate is vocab²-bounded,
  // never corpus-bounded; per-doc fan-out is distinct-tokens², the
  // df-cap analog being a top-V vocabulary cut (documented knob; the
  // fixture vocab is tiny). The support floor prunes the long tail
  // BEFORE the marginal joins, and N rides along as a broadcast one-row
  // frame like TF-IDF's n_docs.
  // ---------------------------------------------------------------------
  val PmiMinSupport = 50L

  def tokenPmi(docs: DataFrame, minSupport: Long): DataFrame = {
    val dt = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .distinct()
    val cx = dt.groupBy("term").agg(count(lit(1)).as("c_t"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val pairs = dt.toDF("doc_id", "t1")
      .join(dt.toDF("doc_id", "t2"), "doc_id")
      .filter(col("t1") < col("t2"))
      .groupBy("t1", "t2")
      .agg(count(lit(1)).as("c_xy"))
      .filter(col("c_xy") >= minSupport)
    pairs
      .join(cx.toDF("t1", "c_x"), "t1")
      .join(cx.toDF("t2", "c_y"), "t2")
      .crossJoin(broadcast(n))
      // long·long product stays exact (≤ N·c_xy ≪ 2⁶³) before the one
      // double division; 4dp rounding clears cross-libm ln ulps
      .withColumn("pmi",
        round(log((col("c_xy") * col("n_docs")).cast("double") /
          (col("c_x") * col("c_y"))), 4))
      .select("t1", "t2", "c_xy", "pmi")
  }

  val qTokenPmi: Q = (s, d) =>
    tokenPmi(documents(s, d), PmiMinSupport).orderBy("t1", "t2")

  val qTokenPmiSql: String =
    s"""WITH dt AS (SELECT DISTINCT doc_id, term FROM (
       |  SELECT doc_id, unnest(list_filter(
       |    string_split_regex(trim(text), '\\s+'), t -> t <> '')) AS term
       |  FROM documents)),
       |cx AS (SELECT term, count(*) AS c_t FROM dt GROUP BY 1),
       |n AS (SELECT count(*) AS n_docs FROM documents),
       |pr AS (SELECT a.term AS t1, b.term AS t2,
       |         CAST(count(*) AS BIGINT) AS c_xy
       |       FROM dt a JOIN dt b
       |         ON a.doc_id = b.doc_id AND a.term < b.term
       |       GROUP BY 1, 2
       |       HAVING count(*) >= $PmiMinSupport)
       |SELECT t1, t2, c_xy,
       |  round(ln(CAST(c_xy * n_docs AS DOUBLE) / (x.c_t * y.c_t)), 4)
       |    AS pmi
       |FROM pr
       |JOIN cx x ON t1 = x.term
       |JOIN cx y ON t2 = y.term
       |CROSS JOIN n
       |ORDER BY t1, t2""".stripMargin

  // ---------------------------------------------------------------------
  // BPE merge learning (Sennrich et al., ACL'16) — tokenizer training,
  // the canonical corpus→vocabulary op. The standard scale shape: ONE
  // corpus pass collapses 100 TB of text to a (word, freq) table (vocab-
  // bounded — Heaps' law puts it in the millions, not the trillions),
  // then every merge iteration runs on that vocab table alone: explode
  // adjacent symbol pairs weighted by word freq, aggregate, take the
  // global argmax (a 1-row collect — the sanctioned scalar shape), apply
  // the merge as a per-word left-to-right non-overlapping fold, repeat.
  // Per-iteration cost is O(vocab × word_len), corpus-size-independent;
  // localCheckpoint truncates the per-iteration lineage so the plan
  // doesn't grow by numMerges HOF layers.
  //
  // Determinism: argmax tie-breaks on (count DESC, left ASC, right ASC);
  // the fold merges exactly the occurrences a left-to-right scan would —
  // bit-identical to the oracle's string replace() over a paren-wrapped
  // segmentation encoding ('(a)(b)(c)'; wrapping makes adjacent-pair
  // patterns non-overlapping so replace() IS the BPE merge step, with no
  // shared-delimiter misses). The oracle unrolls the iteration as
  // machine-generated chained CTEs — same argmax, same apply, per rank.
  // ---------------------------------------------------------------------
  /** The merge loop: returns the learned merge table and the FINAL
    * per-word segmentation (the trained tokenizer's vocab artifact —
    * what [[bpeEncode]] serves from).
    */
  /** One BPE merge applied to a symbol-array column: left-to-right
    * non-overlapping fold, merging when (last(acc), next) == (a, b).
    * get() (not element_at) so the empty accumulator reads null, not an
    * ANSI out-of-bounds error.
    */
  def bpeApplyMerge(syms: Column, a: String, b: String): Column =
    aggregate(syms, array().cast("array<string>"),
      (acc, x) => when(
        get(acc, size(acc) - 1) === lit(a) && x === lit(b),
        concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
        .otherwise(concat(acc, array(x))))

  /** Segment a word column under a FROZEN ordered merge list — the
    * serving-side tokenizer: applying the learned merges in rank order
    * reproduces the training loop's segmentation on trained words and
    * extends it to unseen words (the standard BPE inference rule). Each
    * merge is one nested fold; fine for the tens-to-hundreds regime —
    * a production 30k-merge tokenizer would compile the list into a
    * single mapPartitions encoder instead of a 30k-deep expression.
    */
  def bpeSegmentWord(
      word: Column, merges: Seq[(String, String)]): Column =
    merges.foldLeft(
      filter(split(word, ""), x => x =!= "")) {
      case (syms, (a, b)) => bpeApplyMerge(syms, a, b)
    }

  private[graft] def bpeWordVocab(docs: DataFrame): DataFrame =
    docs
      .select(explode(tokens(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("freq"))
      // java's split(regex, -1) appends a trailing "" on zero-width
      // matches — drop it so no phantom empty symbol enters the vocab
      .select(col("w"), col("freq"),
        filter(split(col("w"), ""), x => x =!= "").as("syms"))
      .localCheckpoint(true)

  private def bpeAdjacentPairs(syms: Column): Column = {
    val emptyPairs = array().cast("array<struct<a:string,b:string>>")
    when(size(syms) < 2, emptyPairs)
      .otherwise(transform(sequence(lit(1), size(syms) - 1),
        i => struct(element_at(syms, i).as("a"),
          element_at(syms, i + 1).as("b"))))
  }

  /** Word-vocab row bound for the driver-local trainer: ~1M (word,
    * freq, syms) tuples is tens of MB of driver heap, and the encode
    * tail broadcasts the same vocab anyway, so locality adds no new
    * memory class.
    */
  private[graft] val BpeDriverVocabCap = 1000000L

  /** Unsigned UTF-8 byte comparison — the order Spark's string sort
    * (UTF8String binary ordering) applies, which the local argmax
    * tie-break must replicate exactly (UTF-16 compareTo diverges on
    * supplementary characters).
    */
  private[graft] def utf8Less(x: String, y: String): Boolean = {
    val a = x.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val b = y.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      val ai = a(i) & 0xff
      val bi = b(i) & 0xff
      if (ai != bi) return ai < bi
      i += 1
    }
    a.length < b.length
  }

  /** [[bpeApplyMerge]]'s left fold, word-local. */
  private def applyMergeLocal(
      syms: Array[String], a: String, b: String): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < syms.length) {
      if (out.nonEmpty && out.last == a && syms(i) == b)
        out(out.length - 1) = a + b
      else out += syms(i)
      i += 1
    }
    out.toArray
  }

  /** Max-heap ordering for the incremental trainer's lazy argmax:
    * dequeue = the SEQUENTIAL loop's argmax rule — count desc, then a
    * asc, then b asc, both in UTF-8 byte order. PriorityQueue dequeues
    * the Ordering-largest element, so "preferred" compares greater.
    */
  private val bpeHeapOrd: Ordering[(Long, String, String)] =
    new Ordering[(Long, String, String)] {
      def compare(x: (Long, String, String),
          y: (Long, String, String)): Int = {
        if (x._1 != y._1) java.lang.Long.compare(x._1, y._1)
        else if (x._2 != y._2) { if (utf8Less(x._2, y._2)) 1 else -1 }
        else if (x._3 != y._3) { if (utf8Less(x._3, y._3)) 1 else -1 }
        else 0
      }
    }

  /** Driver-local merge loop — the structure production tokenizer
    * trainers use: BPE training depends on the corpus ONLY through the
    * word vocabulary (distinct words + counts — Heaps-law bounded:
    * millions of rows where the corpus is billions), so after the one
    * distributed aggregation ([[bpeWordVocab]]) the merge loop itself
    * is driver-sized arithmetic, maintained INCREMENTALLY:
    *
    *   - `counts` is the live pair-count map; `index` maps each pair to
    *     the word ids that (ever) contained it — a merge touches ONLY
    *     the words in its pair's index list, not the whole vocabulary.
    *     A touched word contributes its full old-adjacency multiset as
    *     decrements and its new one as increments (words are short, so
    *     per-word O(len) beats bookkeeping merge positions). Index
    *     entries are append-only (gained pairs always involve the
    *     freshly created symbol); stale ids are skipped by an
    *     apply-merge length check, and duplicates by a per-merge stamp.
    *   - the argmax is a LAZY max-heap under [[bpeHeapOrd]]: every pair
    *     whose count changed re-enqueues at its new count, so the heap
    *     always holds an up-to-date entry for every live pair; popped
    *     entries whose count no longer matches the live map are
    *     discarded. Total work is O(affected adjacencies · log P), not
    *     O(vocab × merges) — a 32k-merge production budget over a
    *     1M-word vocab trains in driver minutes where the re-sweeping
    *     form needed ~10¹¹ driver operations (the round-9 gap).
    *
    * Replays the EXACT sequential argmax sequence: long-exact pair
    * counts, tie broken (count desc, a asc, b asc) in UTF-8 byte
    * order, the same left-fold merge application — spec-pinned
    * identical to the distributed loops on fixtures AND by a
    * ScalaCheck law over random corpora. `syms` are collected from the
    * SAME Spark expression the distributed form folds over, so initial
    * segmentation cannot diverge either.
    */
  private[graft] def bpeVocabLoopLocal(
      vocab0: DataFrame, numMerges: Int)
      : (Seq[(Int, String, String, Long)], DataFrame) = {
    val s = vocab0.sparkSession
    import s.implicits._
    val words = vocab0.select("w", "freq", "syms")
      .as[(String, Long, Seq[String])].collect()
      .map { case (w, f, sy) => (w, f, sy.toArray) }
    val counts =
      scala.collection.mutable.HashMap.empty[(String, String), Long]
    val index = scala.collection.mutable
      .HashMap.empty[(String, String),
        scala.collection.mutable.ArrayBuffer[Int]]
    var wi = 0
    while (wi < words.length) {
      val (_, f, sy) = words(wi)
      var i = 0
      while (i < sy.length - 1) {
        val k = (sy(i), sy(i + 1))
        counts.update(k, counts.getOrElse(k, 0L) + f)
        index.getOrElseUpdate(k,
          scala.collection.mutable.ArrayBuffer.empty) += wi
        i += 1
      }
      wi += 1
    }
    val heap = scala.collection.mutable
      .PriorityQueue.empty[(Long, String, String)](bpeHeapOrd)
    counts.foreach { case ((a, b), c) => heap.enqueue((c, a, b)) }
    val stamp = new Array[Int](words.length) // last merge rank touching
    val merges = scala.collection.mutable.ArrayBuffer
      .empty[(Int, String, String, Long)]
    var rank = 1
    var exhausted = false
    while (rank <= numMerges && !exhausted) {
      // pop until an entry matching the live count surfaces — stale
      // entries (count changed since enqueue) discard; the live pair
      // they shadow re-enqueued at its change
      var top: (Long, String, String) = null
      while (top == null && heap.nonEmpty) {
        val e = heap.dequeue()
        if (counts.getOrElse((e._2, e._3), 0L) == e._1) top = e
      }
      if (top == null) exhausted = true
      else {
        val (bestC, a, b) = top
        merges += ((rank, a, b, bestC))
        val ab = a + b
        val delta =
          scala.collection.mutable.HashMap.empty[(String, String), Long]
        val wids = index.remove((a, b))
          .getOrElse(scala.collection.mutable.ArrayBuffer.empty[Int])
        for (id <- wids) {
          if (stamp(id) != rank) {
            stamp(id) = rank
            val (w, f, sy) = words(id)
            val sy2 = applyMergeLocal(sy, a, b)
            if (sy2.length != sy.length) { // stale index entry otherwise
              var i = 0
              while (i < sy.length - 1) {
                val k = (sy(i), sy(i + 1))
                delta.update(k, delta.getOrElse(k, 0L) - f)
                i += 1
              }
              i = 0
              while (i < sy2.length - 1) {
                val k = (sy2(i), sy2(i + 1))
                delta.update(k, delta.getOrElse(k, 0L) + f)
                // gained pairs always involve the fresh symbol — the
                // only index additions ever needed (proof: a merge
                // only creates adjacencies next to its output symbol)
                if (k._1 == ab || k._2 == ab)
                  index.getOrElseUpdate(k,
                    scala.collection.mutable.ArrayBuffer.empty) += id
                i += 1
              }
              words(id) = (w, f, sy2)
            }
          }
        }
        delta.foreach { case (k, d) =>
          if (d != 0L) {
            val c = counts.getOrElse(k, 0L) + d
            if (c <= 0L) counts.remove(k)
            else {
              counts.update(k, c)
              heap.enqueue((c, k._1, k._2))
            }
          }
        }
        rank += 1
      }
    }
    (merges.toSeq,
      words.toSeq.map { case (w, f, sy) => (w, f, sy.toSeq) }
        .toDF("w", "freq", "syms"))
  }

  /** The reference one-merge-per-job loop — kept as the semantic
    * baseline the batched trainer is spec-pinned against.
    */
  private[graft] def bpeVocabLoopSequential(
      vocab0: DataFrame, numMerges: Int)
      : (Seq[(Int, String, String, Long)], DataFrame) = {
    var vocab = vocab0
    val merges = scala.collection.mutable.ArrayBuffer.empty[
      (Int, String, String, Long)]
    var rank = 1
    var exhausted = false
    while (rank <= numMerges && !exhausted) {
      val top = vocab
        .select(col("freq"), explode(bpeAdjacentPairs(col("syms"))).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum("freq").as("c"))
        .orderBy(col("c").desc, col("a").asc, col("b").asc)
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val (a, b, c) =
          (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += ((rank, a, b, c))
        val next = vocab.select(col("w"), col("freq"),
          bpeApplyMerge(col("syms"), a, b).as("syms"))
          .localCheckpoint(true)
        vocab = next
        rank += 1
      }
    }
    (merges.toSeq, vocab)
  }

  /** Batch size cap per corpus pass for the batched trainer. */
  val BpeBatchLimit = 32

  /** Corpus-vocab passes taken by the LAST [[bpeVocabLoopBatched]] run
    * in this thread — probe instrumentation for the #merges/pass
    * amortization claim; training reads nothing from it.
    */
  private[graft] val bpeLastPasses = new ThreadLocal[Int] {
    override def initialValue(): Int = 0
  }

  /** Batched merge learning — EXACTLY the sequential merge sequence, in
    * ~#merges/m corpus-vocab passes instead of #merges. Per pass it
    * aggregates pair counts ONCE (the same explode the sequential pass
    * runs), derives per-pair new-pair bounds from that same table, and
    * keeps the longest sorted prefix in which each candidate p_i:
    *  (1) shares no symbol with any earlier-accepted pair — old-pair
    *      counts only decrease under a merge and p_i's own (overlapping)
    *      count is invariant when its symbols are untouched, so p_i
    *      still dominates every old pair at its sub-step, with the
    *      original sort's lexicographic order deciding intact ties;
    *  (2) has count STRICTLY above every earlier-accepted pair's
    *      new-pair bound — a merge of (a,b) can only create pairs
    *      (·,[ab]) / ([ab],·), and every occurrence of those maps to a
    *      pre-merge (x,a) or (b,y) adjacency (([ab],[ab]) maps to
    *      (b,a), a (b,·) pair), so newbound(a,b) =
    *      max(max_x c(x,a), max_y c(b,y)) — two GROUP-BYs over the
    *      pair table itself, no second corpus-vocab pass — bounds any
    *      created pair's count: nothing a prefix merge creates can
    *      reach p_i's count, let alone win its tie-break.
    * Together (1)+(2) make p_i the sequential argmax at its own
    * sub-step, so the prefix replays the sequential sequence verbatim;
    * selection stops at the FIRST rejected candidate because everything
    * after it would be chosen against counts the prefix may have
    * changed. A pass always accepts ≥ 1 merge (conditions are vacuous
    * for the top candidate), so progress dominates the sequential
    * trainer's, at per-pass cost equal to it plus pair-table-sized
    * (vocab-bounded) joins. 50k merges land in ~50k/m jobs; an
    * interaction-heavy vocab batches smaller, the Heaps-law regime
    * batches near the cap (PipelineOpsSpec exercises both).
    */
  private[graft] def bpeVocabLoopBatched(
      vocab0: DataFrame, numMerges: Int,
      batchLimit: Int = BpeBatchLimit)
      : (Seq[(Int, String, String, Long)], DataFrame) = {
    var vocab = vocab0
    val merges = scala.collection.mutable.ArrayBuffer.empty[
      (Int, String, String, Long)]
    var rank = 1
    var passes = 0
    var exhausted = false
    // ADAPTIVE mode: a batched pass costs ~3-4× a plain argmax pass
    // (pair-table persist + two bound aggs + join), so it only pays
    // when the sound prefix actually accepts several merges. Some
    // vocabularies starve it — heavy symbol sharing rejects most of
    // the sorted prefix (measured: 2.6 merges/pass on the zipf probe
    // corpus → batched LOST to the sequential loop's extrapolation).
    // So the trainer monitors itself: a pass accepting fewer than
    // StarveBar merges drops to the cheap one-merge pass, and every
    // ReprobeEvery cheap passes one batched pass re-probes (the
    // interaction structure changes as merges fuse symbols). Every
    // pass still applies the exact sequential argmax sequence — mode
    // only decides how many merges a pass MAY take, so the output is
    // identical in all modes (spec-pinned batched ≡ sequential).
    val StarveBar = math.max(2, batchLimit / 8)
    val ReprobeEvery = 16
    var batchedMode = true
    var sinceProbe = 0
    while (rank <= numMerges && !exhausted) {
      passes += 1
      if (!batchedMode && sinceProbe >= ReprobeEvery) {
        batchedMode = true; sinceProbe = 0
      }
      val pairsBase = vocab
        .select(col("freq"), explode(bpeAdjacentPairs(col("syms"))).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum("freq").as("c"))
      val top = if (batchedMode) {
        val pairs = pairsBase.persist()
        val endMax = pairs.groupBy(col("b").as("a"))
          .agg(max("c").as("em"))
        val startMax = pairs.groupBy(col("a").as("b"))
          .agg(max("c").as("sm"))
        val t = pairs
          .join(endMax, Seq("a"), "left")
          .join(startMax, Seq("b"), "left")
          .withColumn("newbound", greatest(
            coalesce(col("em"), lit(0L)), coalesce(col("sm"), lit(0L))))
          .orderBy(col("c").desc, col("a").asc, col("b").asc)
          .limit(batchLimit)
          .select("a", "b", "c", "newbound")
          .collect()
        pairs.unpersist()
        t
      } else {
        // the sequential kernel: one pipelined argmax, no persist, no
        // bound machinery (newbound unused for a single merge)
        sinceProbe += 1
        pairsBase
          .orderBy(col("c").desc, col("a").asc, col("b").asc)
          .limit(1)
          .select(col("a"), col("b"), col("c"), lit(0L).as("newbound"))
          .collect()
      }
      if (top.isEmpty) exhausted = true
      else {
        val used = scala.collection.mutable.HashSet.empty[String]
        var selBound = Long.MinValue
        val sel = scala.collection.mutable.ArrayBuffer
          .empty[(String, String, Long)]
        var stop = false
        val room = numMerges - rank + 1
        for (r <- top if !stop && sel.size < room) {
          val (a, b, c, nb) =
            (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))
          if (sel.isEmpty || (!used(a) && !used(b) && c > selBound)) {
            sel += ((a, b, c))
            used += a; used += b
            selBound = math.max(selBound, nb)
          } else stop = true
        }
        for (((a, b, c), i) <- sel.zipWithIndex)
          merges += ((rank + i, a, b, c))
        vocab = vocab.select(col("w"), col("freq"),
          sel.foldLeft(col("syms")) { case (syms, (a, b, _)) =>
            bpeApplyMerge(syms, a, b)
          }.as("syms"))
          .localCheckpoint(true)
        rank += sel.size
        if (batchedMode && sel.size < StarveBar) {
          batchedMode = false; sinceProbe = 0
        }
      }
    }
    bpeLastPasses.set(passes)
    (merges.toSeq, vocab)
  }

  /** Trainer regime pick. A word vocabulary under
    * [[BpeDriverVocabCap]] (one cheap count on the checkpointed vocab)
    * trains DRIVER-LOCALLY — the merge loop needs nothing but the
    * vocab, and local passes cost microseconds where every distributed
    * pass costs jobs. Past the cap: a small merge budget
    * (≤ [[BpeBatchLimit]]) runs the plain sequential loop (its job
    * count is bounded by the budget itself, and the batched pass's
    * candidate-bound joins buy nothing to amortize), production-scale
    * budgets take the adaptive batched loop, whose pass count tracks
    * #merges/batch instead of #merges. All three produce the identical
    * merge sequence by construction (spec-pinned), so the switch is
    * invisible in results.
    */
  private def bpeVocabLoop(docs: DataFrame, numMerges: Int)
      : (Seq[(Int, String, String, Long)], DataFrame) =
    bpeVocabLoopFromVocab(bpeWordVocab(docs), numMerges)

  private def bpeVocabLoopFromVocab(vocab0: DataFrame, numMerges: Int)
      : (Seq[(Int, String, String, Long)], DataFrame) = {
    if (vocab0.count() <= BpeDriverVocabCap)
      bpeVocabLoopLocal(vocab0, numMerges)
    else if (numMerges <= BpeBatchLimit)
      bpeVocabLoopSequential(vocab0, numMerges)
    else bpeVocabLoopBatched(vocab0, numMerges)
  }

  /** [[bpeWordVocab]] from an already-collapsed (w, freq) table —
    * same symbol seeding, minus the corpus pass. The collapse itself
    * is [[graft.operators.Unigram.wordFreq]] (identical `tokens`
    * explode + groupBy), so a caller holding that table gets the
    * byte-identical vocabulary.
    */
  private[graft] def bpeWordVocabFromWords(words: DataFrame): DataFrame =
    words
      .select(col("w"), col("freq"),
        filter(split(col("w"), ""), x => x =!= "").as("syms"))
      .localCheckpoint(true)

  def bpeLearn(docs: DataFrame, numMerges: Int): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    bpeVocabLoop(docs, numMerges)._1
      .toDF("rnk", "lhs", "rhs", "freq")
      .orderBy("rnk")
  }

  /** [[bpeLearn]] from an already-collapsed (w, freq) table — lets
    * [[graft.plans.BpeStore.rebuildIfStale]] pay the corpus word
    * collapse once across the staleness measurement and the retrain
    * (the [[graft.plans.UnigramStore]] threading, one discipline for
    * both tokenizer families).
    */
  def bpeLearnFromWords(words: DataFrame, numMerges: Int): DataFrame = {
    val s = words.sparkSession
    import s.implicits._
    bpeVocabLoopFromVocab(bpeWordVocabFromWords(words), numMerges)._1
      .toDF("rnk", "lhs", "rhs", "freq")
      .orderBy("rnk")
  }

  /** Encode the corpus with the trained tokenizer: per document, the
    * word/char/BPE-token counts and the chars-per-token compression
    * ratio. The serving shape: the segmentation table is VOCAB-sized, so
    * it broadcasts to a map-side join against the corpus's exploded
    * words — the corpus is never shuffled, and per-doc aggregation is
    * the only exchange. This is the token-counting every budget /
    * packing / mixing computation actually needs once a real tokenizer
    * replaces whitespace splitting.
    */
  def bpeEncode(docs: DataFrame, numMerges: Int): DataFrame = {
    val (_, vocab) = bpeVocabLoop(docs, numMerges)
    bpeEncodeWithVocab(docs, vocab.select(col("w"), col("syms")))
  }

  /** The per-doc counting tail shared by [[bpeEncode]] (vocab from the
    * training loop) and the artifact-served encode
    * ([[graft.plans.BpeStore.encode]], vocab from applying the FROZEN
    * merge list to the batch's own distinct words).
    */
  def bpeEncodeWithVocab(docs: DataFrame, vocabSyms: DataFrame): DataFrame = {
    val enc = vocabSyms.select(col("w"),
      size(col("syms")).cast("long").as("n_syms"),
      length(col("w")).cast("long").as("n_chars"))
    docs.select(col("doc_id"), explode(tokens(col("text"))).as("w"))
      .join(broadcast(enc), Seq("w"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum("n_chars").as("n_chars"),
        sum("n_syms").as("n_bpe_tokens"))
      .join(docs.select("doc_id"), Seq("doc_id"), "right")
      .select(col("doc_id"),
        coalesce(col("n_words"), lit(0L)).as("n_words"),
        coalesce(col("n_chars"), lit(0L)).as("n_chars"),
        coalesce(col("n_bpe_tokens"), lit(0L)).as("n_bpe_tokens"),
        when(coalesce(col("n_bpe_tokens"), lit(0L)) > 0,
          round(col("n_chars").cast("double") / col("n_bpe_tokens"), 4))
          .as("chars_per_token"))
      .orderBy("doc_id")
  }

  val qBpeEncode: Q = (s, d) => bpeEncode(documents(s, d), BpeMerges)

  /** Artifact-served twin: build the merge table once, encode from the
    * FROZEN artifact. Ordered merge application reproduces the training
    * loop's segmentation on trained words (the standard BPE inference
    * property — IndexStoreSpec also pins unseen-word behavior), so the
    * row carries [[qBpeEncodeSql]] unchanged.
    */
  val qBpeEncodeServed: Q = (s, d) => {
    val id = graft.plans.AggStore.artifactId(d)
    val table = s"graft_bpe_$id"
    val path = s"${sys.props("java.io.tmpdir")}/graft_bpe_$id"
    val docs = documents(s, d)
    graft.plans.BpeStore.build(docs, BpeMerges, table, path)
    graft.plans.BpeStore.encode(s, docs, table)
  }

  /** Learned merge count; shared with the oracle generator. */
  val BpeMerges = 10

  // ---------------------------------------------------------------------
  // Tokenizer fertility report — the per-(source, lang) efficiency
  // audit every tokenizer change ships with: fertility (BPE tokens per
  // word) and compression (chars per BPE token), weighted by token
  // mass, over the per-doc encode. Fertility inequity across languages
  // is the standard argument for re-training or extending a tokenizer
  // (high-fertility languages pay more sequence budget per word), and
  // per-source fertility shifts are a drift signal on the token-budget
  // arithmetic. Group sums are exact integers; the two ratios are one
  // IEEE division each, rounded 4dp — so the report inherits the BPE
  // encode oracle wholesale (composed as a derived table, the
  // rankerAgreement pattern).
  // ---------------------------------------------------------------------
  val qTokenizerFertility: Q = (s, d) => {
    val enc = bpeEncode(documents(s, d), BpeMerges)
    documents(s, d).select("doc_id", "source", "lang")
      .join(enc, "doc_id")
      .groupBy("source", "lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_words").as("n_words"),
        sum("n_chars").as("n_chars"),
        sum("n_bpe_tokens").as("n_bpe_tokens"))
      .withColumn("fertility",
        when(col("n_words") > 0,
          round(col("n_bpe_tokens").cast("double") / col("n_words"), 4)))
      .withColumn("chars_per_token",
        when(col("n_bpe_tokens") > 0,
          round(col("n_chars").cast("double") / col("n_bpe_tokens"), 4)))
      .orderBy("source", "lang")
  }

  val qBpeMerges: Q = (s, d) => bpeLearn(documents(s, d), BpeMerges)

  /** Machine-generated unrolled oracle: seg_0 is the paren-wrapped char
    * segmentation of each distinct word; stage k computes pair counts
    * from seg_{k-1}, picks the argmax merge, and rewrites seg_k via
    * replace(). The final SELECT unions the per-stage argmax rows.
    */
  /** Shared WITH-clause prelude + unrolled stages. Every CTE is
    * MATERIALIZED: DuckDB inlines plain CTEs per reference, and each
    * stage references its predecessor several times — unmaterialized,
    * the 10-stage unroll re-evaluates the corpus scan exponentially
    * (observed as fd exhaustion). The word `w` rides along so the
    * encode oracle can join the final segmentation back to documents.
    */
  private val bpeOracleStages: String = {
    val stages = (1 to BpeMerges).map { k =>
      s"""sym_$k AS MATERIALIZED (SELECT freq,
        |  string_split(trim(seg_${k - 1}, '()'), ')(') AS l
        |  FROM seg_$k${"_"}in),
        |pairs_$k AS MATERIALIZED (SELECT l[CAST(i AS INT)] AS a,
        |    l[CAST(i AS INT) + 1] AS b,
        |    CAST(sum(freq) AS BIGINT) AS c
        |  FROM sym_$k CROSS JOIN
        |    (SELECT unnest(range(1, (SELECT mxl FROM mx))) AS i) r
        |  WHERE CAST(i AS INT) + 1 <= len(l)
        |  GROUP BY 1, 2),
        |top_$k AS MATERIALIZED (SELECT a, b, c FROM pairs_$k
        |  ORDER BY c DESC, a ASC, b ASC LIMIT 1),
        |seg_${k}_out AS MATERIALIZED (SELECT w, freq,
        |  replace(seg_${k - 1},
        |    '(' || (SELECT a FROM top_$k) || ')(' ||
        |      (SELECT b FROM top_$k) || ')',
        |    '(' || (SELECT a FROM top_$k) ||
        |      (SELECT b FROM top_$k) || ')') AS seg_$k
        |  FROM seg_$k${"_"}in)""".stripMargin
        .replace(s"seg_${k}_in", if (k == 1) "seg0" else s"seg_${k - 1}_out")
    }
    s"""WITH words AS MATERIALIZED (
      |  SELECT w, CAST(count(*) AS BIGINT) AS freq FROM (
      |    SELECT unnest(list_filter(
      |      string_split_regex(trim(text), '\\s+'), x -> x <> '')) AS w
      |    FROM documents)
      |  GROUP BY 1),
      |seg0 AS MATERIALIZED (SELECT w, freq,
      |  '(' || array_to_string(regexp_split_to_array(w, ''), ')(') || ')'
      |    AS seg_0
      |  FROM words),
      |mx AS MATERIALIZED (SELECT max(len(w)) AS mxl FROM words),
      |${stages.mkString(",\n")}""".stripMargin
  }

  val qBpeMergesSql: String = {
    val unions = (1 to BpeMerges).map { k =>
      s"SELECT $k AS rnk, a AS lhs, b AS rhs, c AS freq FROM top_$k"
    }
    s"""$bpeOracleStages
      |${unions.mkString("\nUNION ALL\n")}
      |ORDER BY rnk""".stripMargin
  }

  val qBpeEncodeSql: String =
    s"""$bpeOracleStages,
      |enc AS MATERIALIZED (SELECT w,
      |  CAST(len(string_split(trim(seg_$BpeMerges, '()'), ')(')) AS BIGINT)
      |    AS n_syms,
      |  CAST(len(w) AS BIGINT) AS n_chars
      |  FROM seg_${BpeMerges}_out),
      |dw AS (SELECT doc_id, unnest(list_filter(
      |    string_split_regex(trim(text), '\\s+'), x -> x <> '')) AS w
      |  FROM documents),
      |agg AS (SELECT doc_id,
      |    CAST(count(*) AS BIGINT) AS n_words,
      |    CAST(sum(enc.n_chars) AS BIGINT) AS n_chars,
      |    CAST(sum(enc.n_syms) AS BIGINT) AS n_bpe_tokens
      |  FROM dw JOIN enc USING (w)
      |  GROUP BY 1)
      |SELECT d.doc_id,
      |  COALESCE(a.n_words, 0) AS n_words,
      |  COALESCE(a.n_chars, 0) AS n_chars,
      |  COALESCE(a.n_bpe_tokens, 0) AS n_bpe_tokens,
      |  CASE WHEN COALESCE(a.n_bpe_tokens, 0) > 0
      |       THEN round(CAST(a.n_chars AS DOUBLE) / a.n_bpe_tokens, 4)
      |  END AS chars_per_token
      |FROM documents d LEFT JOIN agg a USING (doc_id)
      |ORDER BY d.doc_id""".stripMargin

  /** Fertility oracle: the full per-doc encode oracle as a derived
    * table (the rankerAgreement composition pattern), then the grouped
    * integer sums and the two rounded ratios.
    */
  val qTokenizerFertilitySql: String =
    s"""SELECT d.source, d.lang,
      |  CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(e.n_words) AS BIGINT) AS n_words,
      |  CAST(sum(e.n_chars) AS BIGINT) AS n_chars,
      |  CAST(sum(e.n_bpe_tokens) AS BIGINT) AS n_bpe_tokens,
      |  CASE WHEN sum(e.n_words) > 0
      |       THEN round(CAST(sum(e.n_bpe_tokens) AS DOUBLE)
      |                  / sum(e.n_words), 4)
      |  END AS fertility,
      |  CASE WHEN sum(e.n_bpe_tokens) > 0
      |       THEN round(CAST(sum(e.n_chars) AS DOUBLE)
      |                  / sum(e.n_bpe_tokens), 4)
      |  END AS chars_per_token
      |FROM ($qBpeEncodeSql) e JOIN documents d USING (doc_id)
      |GROUP BY 1, 2
      |ORDER BY 1, 2""".stripMargin

  // ---------------------------------------------------------------------
  // Ranker agreement via truncated Rank-Biased Overlap (Webber et al.
  // TOIS'10) — the eval diagnostic for a retrieval stack: how much do
  // the tfidf and BM25 rankers agree per query, weighting agreement at
  // the top of the list? RBO@k = Σ_{d≤k} (1−p)·p^{d−1} · |A_d ∩ B_d|/d
  // with p = 1/2, so every weight is exact dyadic (0.5, 0.25, 0.125)
  // and the score is engine-exact from integer overlaps — the
  // time-decay-attribution determinism trick applied to rank weights.
  //
  // Scale shape: one (query, doc)-keyed join of two k-row-per-query
  // rank lists (both WindowGroupLimit-bounded upstream) + a per-query
  // aggregation — cost is queries × k, corpus size never enters.
  // ---------------------------------------------------------------------
  def rankerAgreement(a: DataFrame, b: DataFrame): DataFrame = {
    val ar = a.select(col("query_id"), col("neighbor_id"),
      col("rnk").as("ra"))
    val br = b.select(col("query_id"), col("neighbor_id"),
      col("rnk").as("rb"))
    val o = ar.join(br, Seq("query_id", "neighbor_id"))
      .select(col("query_id"), greatest(col("ra"), col("rb")).as("mr"))
      .groupBy("query_id").agg(
        sum(when(col("mr") <= 1, 1L).otherwise(0L)).as("o1"),
        sum(when(col("mr") <= 2, 1L).otherwise(0L)).as("o2"),
        sum(when(col("mr") <= 3, 1L).otherwise(0L)).as("o3"))
    a.select("query_id").distinct()
      .join(o, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("o1"), lit(0L)).as("o1"),
        coalesce(col("o2"), lit(0L)).as("o2"),
        coalesce(col("o3"), lit(0L)).as("o3"))
      .withColumn("rbo", round(
        lit(0.5) * col("o1") / 1.0 +
          lit(0.25) * col("o2") / 2.0 +
          lit(0.125) * col("o3") / 3.0, 4))
      .orderBy("query_id")
  }

  /** Shared-rankings form: consumes the top-3 PREFIX of the memoized
    * [[hybridRankings]] pair (identical to a k=3 run — see the cache
    * doc), so the corpus-sized ranker subtree is paid once across this
    * row and `q_rrf_fusion` instead of once per row. Output unchanged:
    * tfidfVectors ≡ tfidfVectorsFromTf∘termFreq by definition and the
    * composed oracle carries over.
    */
  val qRankerAgreement: Q = (s, d) => {
    val (lex, bm) = hybridRankings(s, d)
    rankerAgreement(
      lex.filter(col("rnk") <= 3), bm.filter(col("rnk") <= 3))
  }

  /** Lazily-built shared retrieval artifacts for the `_served` fusion
    * twins: one BM25 index (the same catalog name [[qBm25IndexSearch]]
    * builds, so whichever runs first pays the build) and one tf-idf
    * index. Build-if-absent is what demonstrates the production
    * amortization — within a session every served retrieval query
    * after the first touches only query batches and bucket-pruned
    * postings; the stores' versioned-dir saves keep an unconditional
    * rebuild (q_bm25_index_search's by-design per-run build) safe to
    * interleave.
    */
  private def retrievalStores(
      s: SparkSession, d: String): (String, String) = {
    val id = graft.plans.AggStore.artifactId(d)
    val tmp = sys.props("java.io.tmpdir")
    val bm = s"graft_bm25_$id"
    val tfx = s"graft_tfidfx_$id"
    if (!s.catalog.tableExists(bm))
      graft.plans.Bm25IndexStore.build(
        documents(s, d), bm, s"$tmp/graft_bm25_$id", buckets = 8)
    if (!s.catalog.tableExists(tfx))
      graft.plans.TfidfIndexStore.build(
        documents(s, d), tfx, s"$tmp/graft_tfidfx_$id", buckets = 8)
    (tfx, bm)
  }

  /** [[qRankerAgreement]] served from the persisted tf-idf + BM25
    * artifacts — identical output by the stores' parity arguments, so
    * it carries the same composed oracle; the corpus-sized tokenize +
    * weigh cost lives in the (shared, build-once) artifacts.
    *
    * KERNEL CHOICE — the regime selector IS `wandSearch`'s in-kernel
    * df-only pre-route (per-query, data-computed; IndexStoreSpec's
    * regime-selector test pins it choosing naive on dense doc-as-query
    * batches and WAND on selective keyword queries). Routing THIS row
    * through it was re-measured in r13 AFTER the planning collects
    * were coalesced to one bounded job: wandSearch 3.3-4.3 s warm vs
    * naive `search` 2.0-2.6 s (6-iter sf0.1, cpu-anchor bands ≤ 1.05
    * both runs; r12 measured the same direction pre-coalescing). The
    * gap is structural, not fixable by a cheaper selector: any
    * data-computed routing decision must read the batch's term-df
    * profile, and for an 800-doc doc-as-query batch that fetch
    * (tokenize + df join, ×2 stores) is ~half the whole query's cost —
    * evidence the selector's naive verdict then discards. For rows
    * whose regime is STATICALLY known (whole documents over the dense
    * 31-term corpus can never pass the pre-route), hard-wiring the
    * selector's answer skips paying for its evidence; unknown-regime
    * serving goes through `wandSearch`, where the selector earns its
    * cost (the zipf pair prices that winning regime: `q_bm25_zipf`
    * ~17 s naive vs `q_bm25_zipf_wand` ~5.5-6 s).
    */
  val qRankerAgreementServed: Q = (s, d) => {
    val (tfx, bm) = retrievalStores(s, d)
    val queryDocs = documents(s, d).filter(col("doc_id") % 25 === 0)
    rankerAgreement(
      graft.plans.TfidfIndexStore.search(
        s, tfx, queryDocs.select("doc_id"), 3),
      graft.plans.Bm25IndexStore.search(s, bm, queryDocs, 3))
  }

  /** [[qRrfFusion]] served from the same persisted artifacts, through
    * the naive Σ-postings kernel — a MEASURED choice, three times now
    * (r12 pre-coalescing: naive 2.8-4.0 s vs WAND 4.3-6.3 s; r13
    * post-coalescing: naive min 2.47 s vs WAND min 3.76 s, cpu bands
    * ≤ 1.05). See [[qRankerAgreementServed]] for the full selector
    * story: the in-kernel pre-route IS the data-computed selector
    * (spec-pinned on both regimes), its verdict for dense doc-as-query
    * batches is always naive, and paying its evidence fetch per serve
    * costs more than the verdict saves — so the statically-known-dense
    * served rows hard-wire the verdict. Kernels are spec-pinned
    * output-identical; the zipf pair prices WAND's winning regime.
    */
  val qRrfFusionServed: Q = (s, d) => {
    val (tfx, bm) = retrievalStores(s, d)
    val queryDocs = documents(s, d).filter(col("doc_id") % 25 === 0)
    rrfFusion(Seq(
      graft.plans.TfidfIndexStore.search(
        s, tfx, queryDocs.select("doc_id"), 10),
      graft.plans.Bm25IndexStore.search(s, bm, queryDocs, 10)), 5)
  }

  val qRankerAgreementSql: String =
    s"""WITH ra AS (SELECT query_id, rnk AS r_a, neighbor_id
      |  FROM ($qTfidfRetrievalSql)),
      |rb AS (SELECT query_id, rnk AS r_b, neighbor_id
      |  FROM ($qBm25RetrievalSql)),
      |j AS (SELECT query_id, greatest(r_a, r_b) AS mr
      |      FROM ra JOIN rb USING (query_id, neighbor_id)),
      |o AS (SELECT query_id,
      |    CAST(count(*) FILTER (WHERE mr <= 1) AS BIGINT) AS o1,
      |    CAST(count(*) FILTER (WHERE mr <= 2) AS BIGINT) AS o2,
      |    CAST(count(*) FILTER (WHERE mr <= 3) AS BIGINT) AS o3
      |  FROM j GROUP BY 1),
      |q AS (SELECT DISTINCT query_id FROM ra)
      |SELECT q.query_id,
      |  COALESCE(o1, 0) AS o1, COALESCE(o2, 0) AS o2,
      |  COALESCE(o3, 0) AS o3,
      |  round(0.5 * COALESCE(o1, 0) / 1.0 +
      |        0.25 * COALESCE(o2, 0) / 2.0 +
      |        0.125 * COALESCE(o3, 0) / 3.0, 4) AS rbo
      |FROM q LEFT JOIN o USING (query_id)
      |ORDER BY q.query_id""".stripMargin

  val queries: Map[String, Q] = Map(
    "q_ranker_agreement" -> qRankerAgreement,
    "q_ranker_agreement_served" -> qRankerAgreementServed,
    "q_bpe_merges" -> qBpeMerges,
    "q_bpe_encode" -> qBpeEncode,
    "q_tokenizer_fertility" -> qTokenizerFertility,
    "q_bpe_encode_served" -> qBpeEncodeServed,
    "q_token_pmi" -> qTokenPmi,
    "q_dsir_weights" -> qDsirWeights,
    "q_backoff_logprob" -> qBackoffLogprob,
    "q_length_histogram" -> qLengthHistogram,
    "q_text_stats" -> qTextStats,
    "q_bigram_logprob" -> qBigramLogprob,
    "q_lang_id" -> qLangId,
    "q_langid_confusion" -> qLangIdConfusion,
    "q_token_classes" -> qTokenClasses,
    "q_doc_fingerprint" -> qFingerprint,
    "q_source_overlap" -> qSourceOverlap,
    "q_source_overlap_exact" -> qSourceOverlapExact,
    "q_tfidf_top_terms" -> qTfidfTopTerms,
    "q_tfidf_cosine" -> qTfidfCosine,
    "q_tfidf_retrieval" -> qTfidfRetrieval,
    "q_bm25_retrieval" -> qBm25Retrieval,
    "q_bm25_index_search" -> qBm25IndexSearch,
    "q_bm25_index_delete" -> qBm25IndexDelete,
    "q_bm25_wand" -> qBm25Wand,
    "q_bm25_zipf" -> qBm25Zipf,
    "q_bm25_zipf_wand" -> qBm25ZipfWand,
    "q_tfidf_wand" -> qTfidfWand,
    "q_rrf_fusion" -> qRrfFusion,
    "q_rrf_fusion_served" -> qRrfFusionServed,
    "q_hybrid_fusion" -> qHybridFusion,
    "q_unigram_logprob" -> qUnigramLogprob,
    "q_lm_buckets" -> qLmBuckets)

  val oracles: Map[String, String] = Map(
    "q_ranker_agreement" -> qRankerAgreementSql,
    "q_ranker_agreement_served" -> qRankerAgreementSql,
    "q_bpe_merges" -> qBpeMergesSql,
    "q_bpe_encode" -> qBpeEncodeSql,
    "q_tokenizer_fertility" -> qTokenizerFertilitySql,
    // served-from-artifact form: ordered merge application ≡ the
    // training segmentation on trained words, so the oracle carries over
    "q_bpe_encode_served" -> qBpeEncodeSql,
    "q_token_pmi" -> qTokenPmiSql,
    "q_dsir_weights" -> qDsirWeightsSql,
    "q_backoff_logprob" -> qBackoffLogprobSql,
    "q_length_histogram" -> qLengthHistogramSql,
    "q_text_stats" -> qTextStatsSql,
    "q_bigram_logprob" -> qBigramLogprobSql,
    "q_lang_id" -> qLangIdSql,
    "q_langid_confusion" -> qLangIdConfusionSql,
    "q_token_classes" -> qTokenClassesSql,
    "q_doc_fingerprint" -> qFingerprintSql,
    "q_source_overlap_exact" -> qSourceOverlapExactSql,
    "q_tfidf_top_terms" -> qTfidfTopTermsSql,
    "q_tfidf_cosine" -> qTfidfCosineSql,
    "q_tfidf_retrieval" -> qTfidfRetrievalSql,
    "q_bm25_retrieval" -> qBm25RetrievalSql,
    // served-from-artifact form: identical output by construction
    "q_bm25_index_search" -> qBm25RetrievalSql,
    "q_bm25_index_delete" -> qBm25IndexDeleteSql,
    // MaxScore-pruned serving: exactness argument makes the output
    // identical to the plain search — same oracles hash-check it
    "q_bm25_wand" -> qBm25RetrievalSql,
    // the win-regime pair: identical output by pruning exactness, one SQL
    "q_bm25_zipf" -> qBm25ZipfSql,
    "q_bm25_zipf_wand" -> qBm25ZipfSql,
    "q_tfidf_wand" -> qTfidfRetrievalSql,
    "q_rrf_fusion" -> qRrfFusionSql,
    "q_rrf_fusion_served" -> qRrfFusionSql,
    "q_hybrid_fusion" -> qHybridFusionSql,
    "q_unigram_logprob" -> qUnigramLogprobSql,
    "q_lm_buckets" -> qLmBucketsSql)
}
