package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan regression pins: the scale properties the scaladocs
  * claim (broadcasts on dim joins, pushdown + pruning at the scan,
  * per-row kernels that never hash-shuffle) asserted against the actual
  * executed plan, so a refactor that silently degrades a plan — a
  * broadcast falling back to sort-merge, a filter no longer reaching
  * parquet, a kernel gaining an aggregation — fails CI instead of only
  * showing up in a bench regression.
  */
class PlanShapeSpec extends AnyFunSuite {

  private val dir = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-planshape-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString

  test("dim joins broadcast, never sort-merge") {
    for (q <- Seq("q_join_broadcast", "q_join_chain", "job_seats_won")) {
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin"), s"$q must broadcast")
      assert(!p.contains("SortMergeJoin"),
        s"$q fell back to sort-merge:\n$p")
    }
  }

  test("bucketed join: SMJ inputs are exchange-free; only the agg " +
    "shuffles") {
    val out = operators.Relational.qJoinBucketed(spark, dir)
    out.collect() // finalize AQE so the pinned plan is the executed one
    // AQE's toString prints the final plan THEN the initial one — pin
    // only the plan that actually ran
    val p = out.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(p.contains("SortMergeJoin"),
      s"merge hint must pin the sort-merge path:\n${p.take(3000)}")
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 1,
      s"join inputs must read pre-bucketed files — the single hash " +
        s"exchange is the segment agg:\n${p.take(3000)}")
    assert(p.contains("Bucketed: true"),
      "both scans must read the bucketed layout")
  }

  test("per-row kernel queries never hash-shuffle rows") {
    // these are pure per-document maps; the ONLY exchange in the plan
    // is the range partitioning of the deterministic output order
    for (q <- Seq("q_pii_scrub", "q_text_stats", "q_doc_fingerprint",
      "q_lang_id", "q_quality_repetition", "q_gopher_rules")) {
      val p = plan(q)
      assert(!p.contains("Exchange hashpartitioning"),
        s"$q gained a hash shuffle:\n$p")
    }
  }

  test("served tf-idf search: query side broadcasts into the postings " +
    "scan; the only hash exchanges are the candidate agg and top-k") {
    val table = "plan_tfx"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    spark.sql(s"DROP TABLE IF EXISTS ${table}_norms")
    val path = java.nio.file.Files
      .createTempDirectory("graft-plan-tfx").toString + "/tfx"
    val base = Tables.documents(spark, dir).select("doc_id", "text")
    plans.TfidfIndexStore.build(base, table, path, buckets = 4)
    val out = plans.TfidfIndexStore.search(spark, table,
      base.filter(org.apache.spark.sql.functions.col("doc_id") % 25 === 0)
        .select("doc_id"), 3)
    out.collect()
    val p = out.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(p.contains("BroadcastHashJoin"),
      s"query vectors and norms must broadcast into the postings scan:\n" +
        p.take(3000))
    assert(!p.contains("SortMergeJoin"),
      s"no corpus-sized join side may sort-merge:\n${p.take(3000)}")
    // r15 shape: the ONLY pair-carrying exchange is the doc_id
    // repartition of the term-matched postings (Σ-distinct-term-df
    // rows, always ≤ the pair volume the r14 shape shuffled through
    // its candidate agg — the agg now rides that partitioning
    // exchange-free); the other hash exchange is the per-query
    // TopKAgg, and the output ordering is a range exchange
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 2,
      s"postings side gained a join exchange:\n${p.take(3000)}")
  }

  test("frozen-weights classifier scoring is a pure scan-side map") {
    // serving/streaming form: features + sigmoid under literal weights
    // must stay one projection — no exchange of any kind, no aggregate
    val w = Array(1.5, -0.5, -0.5, -0.5, -3.0, -2.0)
    val p = operators.Classifier.scoreWith(
      operators.Classifier.features(Tables.documents(spark, dir)), w)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"),
      s"frozen-weights scoring gained an exchange:\n$p")
    assert(!p.contains("HashAggregate"),
      s"frozen-weights scoring gained an aggregate:\n$p")
  }

  test("rendezvous assignment is a pure scan-side map") {
    // k-hash argmax per row: the only exchange is the presentation sort
    val p = plan("q_rendezvous_shards")
    assert(!p.contains("Exchange hashpartitioning"),
      s"rendezvous gained a hash shuffle:\n$p")
    assert(!p.contains("HashAggregate"),
      s"rendezvous gained an aggregate:\n$p")
  }

  test("pii report is one partial+final aggregate — a single hash exchange") {
    val p = plan("q_pii_report")
    // one hash exchange for groupBy(source); the sort is presentation
    val exchanges = "Exchange hashpartitioning".r.findAllMatchIn(p).length
    assert(exchanges === 1, s"pii report must shuffle once, got $exchanges:\n$p")
  }

  test("funnel is one partial+final aggregate — a single hash exchange") {
    // per-row predicates then groupBy(source): partial HashAggregate on
    // the scan side, exactly one hash exchange, final aggregate after it
    val p = plan("q_quality_funnel")
    val exchanges = "Exchange hashpartitioning".r
      .findAllMatchIn(p).length
    assert(exchanges === 1, s"funnel must shuffle once, got $exchanges:\n$p")
    assert(p.contains("HashAggregate"), s"funnel must hash-aggregate:\n$p")
  }

  test("lang budget: one corpus exchange; windows stay on the aggregate") {
    // scan(text,lang) → partial+final agg (1 hash exchange) → windows on
    // the #langs-row frame (1 single-partition exchange) → presentation
    // sort. A third hash exchange would mean corpus rows reached the
    // waterfill.
    val p = plan("q_lang_budget")
    val hashEx = "Exchange hashpartitioning".r.findAllMatchIn(p).length
    assert(hashEx === 1, s"corpus must shuffle exactly once:\n$p")
    assert(p.contains("ReadSchema: struct<text:string,lang:string>"),
      s"scan must prune to (text, lang):\n$p")
  }

  test("cluster sample: assignment is scan-side; one cell exchange") {
    // per-row centroid assignment must NOT join (the matrix is baked
    // into the kernel); the only hash exchange partitions by cell for
    // the rank window
    val p = plan("q_cluster_sample")
    assert(!p.contains("Join"), s"assignment must not plan a join:\n$p")
    val hashEx = "Exchange hashpartitioning".r.findAllMatchIn(p).length
    assert(hashEx === 1, s"exactly the cell-window exchange:\n$p")
  }

  test("parquet scans push filters and prune columns") {
    val p = plan("q_filter_project")
    assert(p.contains("PushedFilters: [") &&
      !p.contains("PushedFilters: []"),
      s"q_filter_project lost its pushed filters:\n$p")
    // the projection is 4 columns of lineitem's 16 — the scan schema
    // must not read the rest
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!read.contains("l_comment") && !read.contains("l_shipmode"),
      s"q_filter_project reads unprojected columns: $read")
  }

  test("events scan reads only the session columns") {
    val p = plan("q_event_session_window")
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!read.contains("props") && !read.contains("event_type"),
      s"session aggregation reads unneeded columns: $read")
  }

  test("dq constraints: fused battery scans orders twice at most " +
    "(fused agg + FK anti-join), dim side broadcasts") {
    // N checks must NOT become N scans — the whole point of the fused
    // aggregate; the referential check is the only second pass, and its
    // customer side must broadcast, never shuffle the fact table
    val p = plan("q_dq_constraints")
    val orderScans = p.linesIterator
      .count(l => l.contains("Scan parquet") && l.contains("orders"))
    assert(orderScans <= 2, s"fused battery re-scans orders:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"FK check must broadcast the dim side:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"FK check must not sort-merge the fact table:\n$p")
  }

  test("bpe encode: the vocab side broadcasts into the word stream") {
    val p = plan("q_bpe_encode")
    // the corpus-scale join (exploded words × segmentation vocab) must
    // be map-side; the exploded words may NOT be hash-exchanged before
    // reaching it. The later doc_id-keyed agg + empty-doc recovery join
    // are the only hash exchanges (doc-keyed, AQE-planned — fine).
    assert(p.contains("BroadcastHashJoin"),
      s"vocab-sized segmentation table must broadcast:\n${p.take(3000)}")
    assert("Exchange hashpartitioning\\(w#".r.findFirstIn(p).isEmpty,
      s"exploded corpus words must stream through the broadcast join, " +
        s"not shuffle on the word key:\n${p.take(3000)}")
  }

  test("unigram encode: the piece-segmented vocab side broadcasts " +
    "into the word stream") {
    val p = plan("q_unigram_encode")
    // same contract as the BPE encode pin: the corpus-scale join
    // (exploded words × per-word Viterbi segmentation) must be
    // map-side; exploded words may NOT hash-exchange on the word key
    assert(p.contains("BroadcastHashJoin"),
      s"vocab-sized segmentation table must broadcast:\n${p.take(3000)}")
    assert("Exchange hashpartitioning\\(w#".r.findFirstIn(p).isEmpty,
      s"exploded corpus words must stream through the broadcast join, " +
        s"not shuffle on the word key:\n${p.take(3000)}")
  }

  test("line dedup: keep-first is an aggregation, not a sorted window") {
    val p = plan("q_line_dedup")
    // min(struct) + join back: exchanges are the seg-key agg/join and
    // the per-doc rebuild agg (plus the presentation sort) — no Window
    // operator may appear (a global first-occurrence window would
    // single-task the corpus)
    assert(!p.contains("Window"),
      s"keep-first must stay an order-insensitive aggregation:\n$p")
    assert(p.contains("partial_min") || p.contains("HashAggregate"),
      s"expected the min-struct keeper aggregation:\n${p.take(3000)}")
  }

  test("whole-doc packing: the shelf window partitions by pack cell, " +
    "never a single-task global window") {
    val p = plan("q_pack_whole_docs")
    // the cumulative-sum window must exchange on hashpartitioning(cell)
    // — Window over SinglePartition is the accidental-serialization
    // shape the cell key exists to prevent
    assert("Exchange hashpartitioning\\(cell#".r.findFirstIn(p).nonEmpty,
      s"shelf window must partition by the pack cell:\n${p.take(3000)}")
    assert(!p.contains("Exchange SinglePartition, ENSURE_REQUIREMENTS"),
      s"no operator may collapse the corpus to one task:\n${p.take(3000)}")
  }

  test("semantic decontamination: eval side broadcasts; top-1 is a " +
    "map-side-combinable aggregate, never a window over the expansion") {
    val p = plan("q_decontaminate_semantic")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastExchange"),
      s"benchmark-sized eval side must broadcast:\n${p.take(3000)}")
    // the |corpus|×|eval| expanded frame must collapse to one row per
    // doc INSIDE the scan partition (partial max(struct)) — a
    // row_number window here would exchange + sort the full product
    // (10^15 rows at 100 TB); only the presentation orderBy may sort
    assert(!p.contains("Window"),
      s"per-doc top-1 must be an aggregation, not a window over the " +
        s"broadcast-expanded frame:\n${p.take(3000)}")
    assert(p.contains("partial_max") || p.contains("partial_"),
      s"expected a partial (map-side) max(struct) before the doc_id " +
        s"exchange:\n${p.take(3000)}")
  }

  /** The most exchanges (shuffle or broadcast) on any root-to-leaf path
    * of `plan`: each one is a query stage the next must wait for, so it
    * bounds a small-data job's chain of sequential stages.
    */
  private def exchangeDepth(
      plan: org.apache.spark.sql.execution.SparkPlan): Int = {
    import org.apache.spark.sql.execution.exchange.{
      BroadcastExchangeExec, ShuffleExchangeExec}
    val here = plan match {
      case _: ShuffleExchangeExec | _: BroadcastExchangeExec => 1
      case _ => 0
    }
    here + plan.children.map(exchangeDepth).maxOption.getOrElse(0)
  }

  test("election jobs: the ward sets broadcast into the fact scan and " +
    "every job shuffles once, into its output partition") {
    import graft.jobs._
    // the static plan (adaptive execution off, in a child session) shows
    // every exchange the planner puts in; adaptive execution runs each
    // one as a query stage of its own
    val static =
      Tables.childSession(spark, "spark.sql.adaptive.enabled" -> "false")
    val dir = new ElectionFixture(static).writeFiles(
      java.nio.file.Files.createTempDirectory("graft-plan-jobs").toString)
    val src = new FileElectionSources(static, dir)
    // funnel shuffle + one broadcast (a ward set or a dimension) ahead of
    // it; ward_councillor_elected has the funnel alone
    val depth = Map(
      "ward_votes_by_party" -> 2, "voter_turnout" -> 2,
      "ward_votes_by_candidate" -> 2, "ward_councillor_elected" -> 1,
      "pr_votes_by_party" -> 2, "hung_councils" -> 2,
      "councils_won_by_party" -> 2, "list_of_hung_councils" -> 2,
      "seats_won" -> 2)
    assert(depth.keySet === SanefJobs.all.map(_.name).toSet)
    val got = SanefJobs.all.map { spec =>
      spec.name -> exchangeDepth(
        SanefJobs.run(static, src, spec.name).queryExecution.executedPlan)
    }.toMap
    assert(got === depth)
    assert(exchangeDepth(SanefJobs.completedWards(src, JobConfig())
      .queryExecution.executedPlan) === 2)
  }
}
