package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables._
import graft.functions.TextFunctions._
import Relational.Q

/** Model-based quality scoring — the distilled-classifier move every
  * production pretraining pipeline makes (FineWeb-Edu, DCLM, Llama-3's
  * quality filters): take a cheap rule battery as the TEACHER, train a
  * smooth linear STUDENT on its labels, and score every document with a
  * graded probability instead of a hard boolean. The graded score is
  * what downstream mixing/thresholding actually consumes — it ranks
  * borderline documents the boolean collapses.
  *
  * Teacher: the Gopher rule battery ([[Quality.gopherRules]] — Rae et
  * al. arXiv 2112.11446 §A1.1). Student: logistic regression on six
  * engine-portable features derived from the SAME signal expressions
  * (single-definition discipline: both label and features come from
  * [[Quality.gopherSignalCols]], so teacher and student can't drift).
  * Features are per-rule VIOLATION MAGNITUDES (hinge distances outside
  * each rule's band) rather than the raw signals: the keep label is a
  * conjunction of interval tests, which no linear function of the raw
  * signals can express, while "keep ⇔ all violations zero" is linearly
  * separable by construction — the standard rule→soft-score
  * featurization.
  *
  * Training is full-batch gradient descent, the distributed form:
  * per-iteration ONE aggregation over the cached feature projection
  * (map-side partial sums, O(#features) state per partition), weights
  * ride back to the driver as 6 scalars and re-enter the next plan as
  * literals. At 100 TB the feature pass is computed once and persisted
  * (7 narrow doubles per row); each of the 16 iterations is one scan of
  * that projection — the same full-batch shape MLlib's
  * LogisticRegression uses per LBFGS step, without the dependency.
  *
  * Engine parity (the reason this is oracle-checkable at all): the
  * per-row gradient contribution is rounded to 8dp and lifted to an
  * INTEGER (×1e8, round-to-unit, cast long), so the cross-row SUM is
  * associative and order-free — float summation order is the one thing
  * Spark and DuckDB cannot be made to agree on, integers are. The
  * weight step is scalar arithmetic on (eta, g, n) with the weight
  * re-rounded to 8dp each iteration; per-row exp() may differ by 1 ulp
  * between engines, which the 8dp contribution rounding absorbs
  * (measure-zero boundary risk, same regime as the suite's 4dp score
  * rounding). The DuckDB oracle replays all 16 iterations as unrolled
  * MATERIALIZED CTEs (the [[TextAnalysis]] BPE-oracle pattern) and must
  * land on bit-identical weights, scores, and predictions.
  */
object Classifier {

  /** Violation features scale ×5: lifts near-band violations off the
    * numeric floor so the logistic step separates them from the
    * all-zero (compliant) mass point without needing a huge rate.
    */
  val ClsScale = 5.0
  /** Full-batch learning rate; swept jointly with ClsIters on all three
    * fixture SFs (accuracy 0.94-0.96 everywhere, bias solidly positive
    * so the compliant mass point sits clear of the 0.5 boundary).
    */
  val ClsEta = 16.0
  /** GD iterations — also the unroll depth of the DuckDB oracle. */
  val ClsIters = 16
  val NumFeatures = 6

  /** Per-document (y, x0..x5): teacher label + bias + five per-rule
    * violation magnitudes, all from the shared gopher signal
    * expressions. Every arithmetic step here is mirrored verbatim in
    * [[featuresSqlPrelude]] — int→double IEEE divisions and
    * fixed-shape expression trees, no rounding needed.
    */
  /** The six feature expressions over a text column — per-row, zero
    * state, so they compose into batch projections and structured
    * streams alike (the streaming gate uses them inline).
    */
  def featureCols(text: Column): Seq[Column] = {
    val toksC = tokens(text)
    val Seq(n, meanLen, symRatio, nStop, dupFrac) =
      Quality.gopherSignalCols(text, toksC)
    val nD = n.cast("double")
    // thresholds come from the SAME Quality constants gopherPredicates
    // (the teacher label) reads — a threshold change can't desync the
    // teacher from the hinge features (or from the SQL oracle, which
    // interpolates the same values)
    val (minT, maxT) =
      (Quality.GopherMinTokens.toDouble, Quality.GopherMaxTokens.toDouble)
    val (minL, maxL) = (Quality.GopherMinMeanLen, Quality.GopherMaxMeanLen)
    val maxSym = Quality.GopherMaxSymbolRatio
    val minStop = Quality.GopherMinStopwords.toDouble
    val maxDup = Quality.GopherMaxDupFrac
    Seq(
      lit(1.0),
      capped(lit(ClsScale) *
        (greatest(lit(0.0), (lit(minT) - nD) / lit(minT)) +
          greatest(lit(0.0), (nD - lit(maxT)) / lit(maxT)))),
      capped(lit(ClsScale) *
        (greatest(lit(0.0), (lit(minL) - meanLen) / lit(minL)) +
          greatest(lit(0.0), (meanLen - lit(maxL)) / lit(maxL)))),
      capped(lit(ClsScale) *
        greatest(lit(0.0), (symRatio - lit(maxSym)) / lit(maxSym))),
      capped(lit(ClsScale) * greatest(lit(0.0),
        (lit(minStop) - nStop.cast("double")) / lit(minStop))),
      capped(lit(ClsScale) *
        greatest(lit(0.0), (dupFrac - lit(maxDup)) / lit(maxDup))))
  }

  /** Violation-feature magnitude cap, mirrored in the SQL prelude.
    * Why: gradient components cross the wire as round(err·x·1e8)
    * int64s; |err| < 1, so each row contributes < [[ClsFeatureCap]]·1e8
    * = 1e14 — the sum stays within int64 to ~9·10¹³ rows. UNCAPPED,
    * x1 grows with n_tokens/GopherMaxTokens: one 10⁹-token document
    * puts a single row's contribution at ~5·10¹⁴ and a large corpus of
    * long docs can silently wrap the non-ANSI long sum, corrupting the
    * learned weights with no error. The cap never binds on sane data
    * (it corresponds to a ~2·10⁸-token document on the x1 axis; the
    * other features are bounded ratios) and a violation of 10⁶ is as
    * separable as one of 10⁹ for the hinge teacher.
    */
  val ClsFeatureCap = 1e6

  private def capped(x: Column): Column = least(x, lit(ClsFeatureCap))

  /** The 6dp probability under FROZEN weights as one inline per-row
    * expression — the serving/streaming form (no feature frame, no
    * training): identical arithmetic to [[scoreWith]], so a gate built
    * on it admits exactly the docs the batch query scores ≥ τ.
    */
  def scoreCol(text: Column, w: Array[Double]): Column = {
    val z = featureCols(text).zip(w.toSeq)
      .map { case (x, wj) => x * lit(wj) }.reduce(_ + _)
    round(lit(1.0) / (lit(1.0) + exp(-z)), 6)
  }

  def features(docs: DataFrame): DataFrame = {
    val toksC = tokens(col("text"))
    val keep = Quality.gopherPredicates(col("text"), toksC).reduce(_ && _)
    val xs = featureCols(col("text"))
    docs.select(
      col("doc_id") +: keep.cast("int").as("y") +:
        xs.zipWithIndex.map { case (x, j) => x.as(s"x$j") }: _*)
  }

  /** Matches Spark's round(col, 8) semantics (shortest-decimal-repr
    * HALF_UP) for the driver-side weight update.
    */
  private def round8(x: Double): Double =
    BigDecimal(x).setScale(8, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** The linear predictor x·w as one left-associated expression tree —
    * the association must match the oracle's `x0*w0 + x1*w1 + ...`
    * exactly (IEEE addition is not associative).
    */
  private def zCol(w: Array[Double]): Column =
    (0 until NumFeatures).map(j => col(s"x$j") * lit(w(j))).reduce(_ + _)

  /** Full-batch logistic GD over a feature frame; returns the learned
    * weights. One aggregation job per iteration over the persisted
    * projection; gradient components cross the wire as exact integers.
    */
  def train(feats: DataFrame,
            eta: Double = ClsEta, iters: Int = ClsIters): Array[Double] = {
    val spark = feats.sparkSession
    val cached = feats.persist()
    var w = Array.fill(NumFeatures)(0.0)
    // r15 NOTE: feeding the weights in as a broadcast one-row local
    // relation (to stabilize the generated source and hit the codegen
    // cache across passes) was MEASURED WORSE: the per-pass broadcast
    // materialization added one job per iteration (43 → 59 jobs,
    // +40% wall on the served row) — more driver-sequenced sync
    // points than the Janino compiles it saved. Literal weights stay.
    //
    // r16: two job-count cuts on the same lesson, arithmetic untouched.
    // (a) The row count rides the FIRST gradient aggregation (one more
    //     count per partial) instead of its own count() action — n is
    //     the same every pass, and full-batch GD needs it only to scale
    //     the step. (b) AQE is off for the loop: each one-row agg is
    //     partial-sums → single final row, where adaptive planning can
    //     contribute nothing at ANY scale (no skew to split, nothing to
    //     coalesce below one output row) yet materializes the shuffle
    //     as its own query-stage JOB — doubling the loop's 16
    //     driver-sequenced sync points, the exact balloon mechanism the
    //     r14/r15 verdicts measured under host load.
    //     It is off in a child session that reads the persisted
    //     projection through a global temp view: the caller's session
    //     conf is never written, so a query planned on it meanwhile, on
    //     any thread, stays adaptive.
    val gd = childSession(spark, "spark.sql.adaptive.enabled" -> "false")
    val view =
      s"graft_cls_gd_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    cached.createGlobalTempView(view)
    val rows =
      gd.table(s"${spark.conf.get("spark.sql.globalTempDatabase")}.$view")
    try {
      var n = 0.0
      var iter = 0
      var empty = false
      while (iter < iters && !empty) {
        val sig = lit(1.0) / (lit(1.0) + exp(-zCol(w)))
        val err = sig - col("y")
        val gs = (0 until NumFeatures).map(j =>
          sum(round(err * col(s"x$j") * lit(1e8), 0).cast("long"))
            .as(s"g$j")) :+ count(lit(1)).as("n")
        val row = rows.agg(gs.head, gs.tail: _*).head()
        n = row.getLong(NumFeatures).toDouble
        if (n == 0) empty = true // weights stay zero, as before
        else w = Array.tabulate(NumFeatures)(j =>
          round8(w(j) - eta * row.getLong(j) / (n * 1e8)))
        iter += 1
      }
    } finally {
      spark.catalog.dropGlobalTempView(view)
      cached.unpersist()
    }
    w
  }

  /** Score a feature frame under FROZEN weights: (doc_id, teacher
    * label, 6dp student probability, thresholded prediction). The
    * serving half — [[graft.plans.ClsStore]] feeds it saved weights.
    */
  def scoreWith(feats: DataFrame, w: Array[Double]): DataFrame =
    feats.select(col("doc_id"), col("y"),
        round(lit(1.0) / (lit(1.0) + exp(-zCol(w))), 6).as("score"))
      .withColumn("pred", (col("score") >= lit(0.5)).cast("int"))

  /** Train on the corpus, then score every document. */
  def scoreCorpus(docs: DataFrame): DataFrame = {
    val f = features(docs)
    scoreWith(f, train(f))
  }

  /** Memoized scored corpus shared by the four in-plan consumer rows
    * (classifier / calibration / curriculum / weighted-sample) — the
    * hybrid-ranking discipline: the 16-pass GD train + scoring is
    * deterministic (integer gradients), so each consumer reads one
    * materialized (doc_id, y, score, pred) frame instead of
    * re-training per row. The artifact-amortized path remains
    * [[qClassifierServed]].
    */
  private def scoredCorpus(s: SparkSession, d: String): DataFrame =
    graft.plans.Memo.frame(s, d, "cls_scored")(
      scoreCorpus(documents(s, d)))

  val qQualityClassifier: Q = (s, d) =>
    scoredCorpus(s, d).orderBy("doc_id")

  /** The same scoring served from the PERSISTED weight artifact
    * ([[graft.plans.ClsStore]]): train+save once, score the batch under
    * frozen weights — identical output to [[qQualityClassifier]] by
    * construction (same features, same weights read back from
    * parquet), so it carries the same oracle. The production split this
    * demonstrates: the 16-pass gradient loop lives in `build`
    * (recurring ingests pay it once), scoring is a stateless per-row
    * map.
    */
  val qClassifierServed: Q = (s, d) => {
    val id = graft.plans.AggStore.artifactId(d)
    val table = s"graft_cls_$id"
    val path = s"${sys.props("java.io.tmpdir")}/graft_cls_$id"
    val docs = documents(s, d)
    graft.plans.ClsStore.build(docs, table, path)
    graft.plans.ClsStore.score(s, docs, table).orderBy("doc_id")
  }

  /** Threshold sweep over the trained scores: confusion counts +
    * precision/recall at τ = 0.1 … 0.9 — the calibration table that
    * picks the production cut-off for a target kept-fraction. The sweep
    * is a 9-way cross of the scored frame (scores computed ONCE), one
    * grouped aggregation.
    */
  def calibrationSweep(scored: DataFrame): DataFrame = {
    val taus = (1 to 9).map(i => lit(i / 10.0))
    val tauFrame = scored.sparkSession.range(1)
      .select(explode(array(taus: _*)).as("tau"))
    scored.crossJoin(broadcast(tauFrame))
      .groupBy("tau")
      .agg(
        sum(when(col("score") >= col("tau") && col("y") === 1, 1L)
          .otherwise(0L)).as("tp"),
        sum(when(col("score") >= col("tau") && col("y") === 0, 1L)
          .otherwise(0L)).as("fp"),
        sum(when(col("score") < col("tau") && col("y") === 1, 1L)
          .otherwise(0L)).as("fn"),
        sum(when(col("score") < col("tau") && col("y") === 0, 1L)
          .otherwise(0L)).as("tn"))
      .withColumn("precision",
        when(col("tp") + col("fp") > 0,
          round(col("tp").cast("double") / (col("tp") + col("fp")), 4)))
      .withColumn("recall",
        when(col("tp") + col("fn") > 0,
          round(col("tp").cast("double") / (col("tp") + col("fn")), 4)))
  }

  val qClassifierCalibration: Q = (s, d) =>
    calibrationSweep(scoredCorpus(s, d)).orderBy("tau")

  // ---------------------------------------------------------------------
  // Quality curriculum — the downstream consumer of the graded score
  // that a boolean filter can't express: order the corpus into training
  // position by quality TIER (score quartiles, best first — the
  // anneal-from-clean curriculum), shuffled content-free WITHIN each
  // tier (md5 priority, the stratified sampler's discipline) so
  // position carries no accidental source/id ordering. Output is the
  // epoch plan: (doc_id, tier, pos, score).
  //
  // Scale shape: scoring is the per-row map over frozen weights; the
  // global ntile/position windows are presentation-exact here and would
  // be replaced by broadcast quantile thresholds + per-partition rank
  // offsets at 100 TB (the two-level prefix-sum pattern Sampling's
  // packing already implements) — the curriculum SEMANTICS (tier by
  // score, hash-shuffled within tier) are what this query pins.
  // ---------------------------------------------------------------------
  val qCurriculumOrder: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val scored = scoredCorpus(s, d)
    val tierW = Window.orderBy(col("score").desc, col("doc_id").asc)
    val posW = Window.orderBy(col("tier").asc,
      md5(col("doc_id").cast("string")), col("doc_id").asc)
    scored
      .withColumn("tier", ntile(4).over(tierW))
      .withColumn("pos", row_number().over(posW).cast("long"))
      .select("doc_id", "tier", "pos", "score")
      .orderBy("pos")
  }

  // ---------------------------------------------------------------------
  // Quality-weighted sampling — inclusion probability EQUALS the graded
  // quality score (the soft form of threshold filtering: a 0.9-scoring
  // doc keeps 90% of its mass in expectation, a 0.2 doc 20%, nothing is
  // cliff-edged). The uniform draw is the house content-free hash
  // (md5 → first 8 hex chars → /2³²), so the sample is reproducible
  // across runs and engines with no RNG state — the corpus-mix
  // discipline with a LEARNED admission rate. Stateless per-row, so it
  // composes into the ingest stream like the τ-gate.
  // ---------------------------------------------------------------------
  val qQualityWeightedSample: Q = (s, d) => {
    val scored = scoredCorpus(s, d)
    val u = (conv(substring(
      md5(concat(col("doc_id").cast("string"), lit(":qws"))), 1, 8),
      16, 10).cast("long").cast("double") / lit(4294967296.0)).as("u")
    scored.select(col("doc_id"), col("score"), u)
      .withColumn("kept", (col("u") < col("score")).cast("int"))
      .orderBy("doc_id")
  }

  val qQualityWeightedSampleSql: String =
    s"""$scoredSql
      |SELECT doc_id, score,
      |  CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':qws'),
      |    1, 8) AS BIGINT) AS DOUBLE) / 4294967296.0 AS u,
      |  CAST(CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)
      |    || ':qws'), 1, 8) AS BIGINT) AS DOUBLE) / 4294967296.0 < score
      |    AS INT) AS kept
      |FROM scored ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // DuckDB oracle: features + 16 unrolled GD iterations. Every CTE is
  // MATERIALIZED — w_k is referenced by both g_{k+1} and w_{k+1}, so
  // plain CTE inlining would double the tree per iteration (the BPE
  // oracle's exponential-reference lesson).
  // ---------------------------------------------------------------------

  // def, not val: the oracle strings above this section initialize
  // first and reach it through the scoredSql def — a val here would
  // still be null at that point (object init order) and interpolate as
  // the literal "null", silently zeroing the stopword feature in
  // exactly one oracle (caught by the weighted-sample parity check)
  private def stopList: String =
    Quality.GopherStopwords.map(w => s"'$w'").mkString(",")

  /** Shared prelude: tokenize → signals → label+features → n. Signal
    * expressions mirror [[Quality.qGopherRulesSql]]; feature arithmetic
    * mirrors [[features]] term for term.
    */
  private def featuresSqlPrelude: String =
    s"""WITH t AS MATERIALIZED (SELECT doc_id,
      |    list_filter(string_split_regex(trim(text), '\\s+'),
      |                x -> x <> '') AS l,
      |    text
      |  FROM documents),
      |st AS MATERIALIZED (SELECT doc_id,
      |    len(l) AS n_tokens,
      |    CAST(list_sum(list_transform(l, x -> len(x))) AS DOUBLE) / len(l)
      |      AS mean_len,
      |    CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS DOUBLE)
      |      / len(l) AS sym_ratio,
      |    len(list_filter(l, x -> x IN ($stopList))) AS n_stop,
      |    CAST(len(l) - len(list_distinct(l)) AS DOUBLE) / len(l) AS dup_frac
      |  FROM st_src),
      |f AS MATERIALIZED (SELECT doc_id,
      |    CAST(n_tokens BETWEEN ${Quality.GopherMinTokens}
      |        AND ${Quality.GopherMaxTokens}
      |      AND mean_len BETWEEN ${Quality.GopherMinMeanLen}
      |        AND ${Quality.GopherMaxMeanLen}
      |      AND sym_ratio <= ${Quality.GopherMaxSymbolRatio}
      |      AND n_stop >= ${Quality.GopherMinStopwords}
      |      AND dup_frac <= ${Quality.GopherMaxDupFrac} AS INT) AS y,
      |    CAST(1.0 AS DOUBLE) AS x0,
      |    least($ClsScale*(greatest(0.0,
      |        (${Quality.GopherMinTokens}.0 - CAST(n_tokens AS DOUBLE))
      |          /${Quality.GopherMinTokens}.0)
      |      + greatest(0.0,
      |        (CAST(n_tokens AS DOUBLE) - ${Quality.GopherMaxTokens}.0)
      |          /${Quality.GopherMaxTokens}.0)), $ClsFeatureCap) AS x1,
      |    least($ClsScale*(greatest(0.0,
      |        (${Quality.GopherMinMeanLen} - mean_len)
      |          /${Quality.GopherMinMeanLen})
      |      + greatest(0.0, (mean_len - ${Quality.GopherMaxMeanLen})
      |          /${Quality.GopherMaxMeanLen})), $ClsFeatureCap) AS x2,
      |    least($ClsScale*greatest(0.0,
      |      (sym_ratio - ${Quality.GopherMaxSymbolRatio})
      |        /${Quality.GopherMaxSymbolRatio}), $ClsFeatureCap) AS x3,
      |    least($ClsScale*greatest(0.0,
      |      (${Quality.GopherMinStopwords}.0 - CAST(n_stop AS DOUBLE))
      |        /${Quality.GopherMinStopwords}.0), $ClsFeatureCap) AS x4,
      |    least($ClsScale*greatest(0.0,
      |      (dup_frac - ${Quality.GopherMaxDupFrac})
      |        /${Quality.GopherMaxDupFrac}), $ClsFeatureCap) AS x5
      |  FROM st),
      |nn AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS n FROM f),
      |w_0 AS MATERIALIZED (SELECT ${(0 until NumFeatures)
           .map(j => s"CAST(0.0 AS DOUBLE) AS w$j").mkString(", ")})"""
      .stripMargin
      .replace("FROM st_src", "FROM t")

  /** z over frame alias `f` against weight alias `w` — the same
    * left-associated sum as [[zCol]].
    */
  private def zSql: String =
    (0 until NumFeatures).map(j => s"f.x$j*w.w$j").mkString(" + ")

  private def iterSql(k: Int): String = {
    val gs = (0 until NumFeatures).map(j =>
      s"""sum(CAST(round((1.0/(1.0+exp(-($zSql))) - f.y)*f.x$j*100000000.0,
         | 0) AS BIGINT)) AS g$j""".stripMargin.replace("\n", ""))
      .mkString(",\n|    ")
    val ws = (0 until NumFeatures).map(j =>
      s"round(w.w$j - $ClsEta*g.g$j/(nn.n*100000000.0), 8) AS w$j")
      .mkString(",\n|    ")
    s"""g_$k AS MATERIALIZED (SELECT
      |    $gs
      |  FROM f CROSS JOIN w_${k - 1} w),
      |w_$k AS MATERIALIZED (SELECT
      |    $ws
      |  FROM w_${k - 1} w CROSS JOIN g_$k g CROSS JOIN nn)""".stripMargin
  }

  private def scoredSql: String =
    s"""$featuresSqlPrelude,
      |${(1 to ClsIters).map(iterSql).mkString(",\n")},
      |scored AS MATERIALIZED (SELECT f.doc_id, f.y,
      |    round(1.0/(1.0+exp(-($zSql))), 6) AS score
      |  FROM f CROSS JOIN w_$ClsIters w)""".stripMargin

  val qQualityClassifierSql: String =
    s"""$scoredSql
      |SELECT doc_id, y, score, CAST(score >= 0.5 AS INT) AS pred
      |FROM scored ORDER BY doc_id""".stripMargin

  val qCurriculumOrderSql: String =
    s"""$scoredSql,
      |tiers AS (SELECT doc_id, score,
      |    ntile(4) OVER (ORDER BY score DESC, doc_id ASC) AS tier
      |  FROM scored)
      |SELECT doc_id, tier,
      |  CAST(row_number() OVER (ORDER BY tier ASC,
      |    md5(CAST(doc_id AS VARCHAR)), doc_id ASC) AS BIGINT) AS pos,
      |  score
      |FROM tiers ORDER BY pos""".stripMargin

  val qClassifierCalibrationSql: String =
    s"""$scoredSql,
      |taus AS (SELECT CAST(unnest([${(1 to 9)
           .map(i => s"0.$i").mkString(",")}]) AS DOUBLE) AS tau),
      |cm AS (SELECT tau,
      |    CAST(sum(CASE WHEN score >= tau AND y = 1 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS tp,
      |    CAST(sum(CASE WHEN score >= tau AND y = 0 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS fp,
      |    CAST(sum(CASE WHEN score < tau AND y = 1 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS fn,
      |    CAST(sum(CASE WHEN score < tau AND y = 0 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS tn
      |  FROM scored CROSS JOIN taus GROUP BY tau)
      |SELECT tau, tp, fp, fn, tn,
      |  CASE WHEN tp + fp > 0
      |    THEN round(CAST(tp AS DOUBLE)/(tp + fp), 4) END AS precision,
      |  CASE WHEN tp + fn > 0
      |    THEN round(CAST(tp AS DOUBLE)/(tp + fn), 4) END AS recall
      |FROM cm ORDER BY tau""".stripMargin

  val queries: Map[String, Q] = Map(
    "q_quality_classifier" -> qQualityClassifier,
    "q_classifier_served" -> qClassifierServed,
    "q_classifier_calibration" -> qClassifierCalibration,
    "q_curriculum_order" -> qCurriculumOrder,
    "q_quality_weighted_sample" -> qQualityWeightedSample)

  val oracles: Map[String, String] = Map(
    "q_quality_classifier" -> qQualityClassifierSql,
    // served scoring ≡ in-plan training by construction (frozen weights
    // round-trip through parquet bit-exactly); carries the same oracle
    "q_classifier_served" -> qQualityClassifierSql,
    "q_classifier_calibration" -> qClassifierCalibrationSql,
    "q_curriculum_order" -> qCurriculumOrderSql,
    "q_quality_weighted_sample" -> qQualityWeightedSampleSql)
}
