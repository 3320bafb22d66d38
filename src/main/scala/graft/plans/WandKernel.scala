package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** MaxScore/WAND serving for the impact-index stores
  * ([[Bm25IndexStore]], [[TfidfIndexStore]]), written once: the bounded
  * batch fetch, the driver-planned orchestration, and on its refusal
  * the distributed one — pre-route, prefix, caps, θ, cutoffs, the
  * essential split, routing, chunked exact scoring and the naive
  * remainder. Its one caller is [[ImpactIndexStore.wandSearch]], which
  * passes the store's lazy query frame (with the per-(query, term)
  * query factor), its impact column (BM25 `w`, tf-idf norm-scaled
  * `wn`), and exact-scoring and naive closures built from the shared
  * candidate join and naive prologue plus the store's pair tails — so a
  * bound or routing fix lands in exactly one place.
  */
private[graft] object WandKernel {

  /** One 4dp rounding quantum: candidate thresholds step down by this
    * so a doc whose RAW score sits just under θ but ROUNDS to θ is
    * still captured — rounding can then never flip a miss into a
    * should-have-been tie.
    */
  val RoundEps = 1e-4

  /** Hard row budget for ONE scoring-broadcast chunk (candidate pairs
    * × their query's terms; tens of bytes per hashed-relation row, so
    * 4M rows is a couple hundred MB of executor state — far under the
    * default broadcast and driver-result limits the unchunked form
    * was measured to blow through on dense corpora). Both stores'
    * default `broadcastRows`.
    */
  val BroadcastRows = 4000000L

  /** Collect caps for the driver-planned orchestration: the (query,
    * term) frame and the prefix rows are the only corpus-derived state
    * it pulls to the driver, both bounded BEFORE their collect (the
    * prefix volume is Σ min(P, df) — known from the df table alone).
    * Past either cap the distributed orchestration serves instead, so
    * driver memory stays bounded by construction — the
    * [[graft.operators.Similarity]] ANN batch-cap discipline applied
    * to lexical serving.
    */
  val DriverBatchRows = 2000000L
  val PrefixCollectRows = 4000000L

  /** Driver PAIR-STATE budget for [[serveDriverPlanned]]: the expanded
    * per-(query, doc) partial/cap cells, bounded above by
    * Σ_queries Σ_terms min(P, df). A cell is a boxed map entry
    * (~120 B), so 8M cells is ~1 GB of transient driver state — heavy
    * but inside the session heap, and DISTINCT from the prefix COLLECT
    * cap: since the collect now prices distinct terms, a
    * shared-vocabulary batch can expand to 2× the old pair budget
    * while collecting a fraction of it. Past this, the distributed
    * orchestration serves.
    */
  val DriverPairCells = 8000000L

  /** Probe counters — the serving-path scale probe's structural
    * evidence (ScaleProbe `wandserve`): how often the one-job bounded
    * fetch refused, how often driver planning served vs refused to the
    * distributed orchestration, and how often exact scoring left the
    * single-chunk fast path. Plain AtomicLong increments on already-
    * driver-side code paths (never per row), never read by production
    * logic — the probe snapshots deltas around a serve loop.
    */
  private[graft] val statBoundedCalls =
    new java.util.concurrent.atomic.AtomicLong
  private[graft] val statBoundedRefusals =
    new java.util.concurrent.atomic.AtomicLong
  private[graft] val statDriverPlannedServes =
    new java.util.concurrent.atomic.AtomicLong
  private[graft] val statDriverPlanningRefusals =
    new java.util.concurrent.atomic.AtomicLong
  private[graft] val statChunkedScoreFallbacks =
    new java.util.concurrent.atomic.AtomicLong

  /** Test seam: the specs switch this off to drive the DISTRIBUTED
    * orchestration on spec-sized batches (which the driver-planned
    * path would otherwise always claim) and pin both paths to
    * identical output. ThreadLocal for the reason given below: a
    * process-global switch would reroute concurrently-served
    * production queries. Production never touches it.
    */
  private[graft] val driverPlanningEnabled =
    new ThreadLocal[java.lang.Boolean] {
      override def initialValue(): java.lang.Boolean = true
    }

  /** Test seam (InvariantProps' refusal-boundary law): when set,
    * replaces [[DriverPairCells]] inside [[serveDriverPlanned]] so the
    * law can place the cap BETWEEN the frozen-df estimate and the
    * true rank-0-extended expansion and pin the refusal either side.
    * ThreadLocal, not a plain var: driver planning runs on the calling
    * thread, and a process-global override would leak a tiny test cap
    * into any concurrently-served production query (and a concurrent
    * call would race the law's read of the refusal flag below).
    * Production never touches it.
    */
  private[graft] val pairCellsCapOverride =
    new ThreadLocal[Option[Long]] {
      override def initialValue(): Option[Long] = None
    }

  /** Test seam: whether this THREAD's last [[serveDriverPlanned]]
    * call refused (returned None — the store falls back to the
    * distributed orchestration). Observable evidence for the refusal
    * law; not read by production code.
    */
  private[graft] val lastRefusedDriverPlanning =
    new ThreadLocal[java.lang.Boolean] {
      override def initialValue(): java.lang.Boolean = false
    }

  /** Test seam: this THREAD's last driver-planned ROUTE SPLIT —
    * (batch queries, pre-route-eligible, wand-routed). The regime-
    * selector spec reads it to pin that the in-kernel per-query
    * routing — the data-computable dense-vs-sparse rule the served
    * retrieval rows rely on — sends dense doc-as-query batches to the
    * naive kernel (wand-routed = 0) and selective keyword batches to
    * WAND (wand-routed > 0). Not read by production code.
    */
  private[graft] val lastRouteStats =
    new ThreadLocal[(Int, Int, Int)] {
      override def initialValue(): (Int, Int, Int) = (0, 0, 0)
    }

  /** ONE-job bounded collect — the driver-planned paths' query-batch
    * fetch. The previous shape (eager checkpoint → `count` → `collect`)
    * cost THREE driver-sequenced actions before any serving work, and
    * the obvious `limit(cap+1).collect()` replacement is no better:
    * executeTake scales partitions up incrementally (1 → 4 → 16 → …),
    * each step its own sequential job. Every small action pays a fixed
    * scheduler latency that multiplies under host contention — the
    * measured 3-6× loaded-window balloon on the serving rows — so this
    * fetches AND bounds in ONE job, with three hard guarantees:
    *
    *   - refusal is EXACTLY `count > cap` — no partitioning-shape
    *     sensitivity (the prefix scan is BUCKETED by term, so a
    *     term-concentrated batch legitimately packs one partition;
    *     an even-share-based per-task budget would falsely refuse it);
    *   - driver memory is bounded at ~cap rows: results stream through
    *     an incremental handler that stops buffering the moment the
    *     running total refuses, instead of collecting every task's
    *     rows first and checking after;
    *   - refusal work is bounded: a task stops scanning at its
    *     (cap+1)-th row (a single over-cap partition already decides
    *     the global verdict), and the driver CANCELS the job as soon
    *     as the running total crosses the cap, so an over-cap fetch
    *     never pays a full scan before falling back.
    *
    * ROW ORDER IS UNSPECIFIED — rows arrive in task-COMPLETION order,
    * unlike the partition-ordered `collect()` this replaced. Every
    * current consumer folds the rows into hash maps (and the θ-seed
    * fp-sum reordering is covered by the ulp/seed-set argument); a
    * future caller that needs collect-like ordering must sort or use
    * plain `collect`. A non-refusal task FAILURE propagates exactly as
    * `collect` would (the await rethrows the job's SparkException; the
    * poll loop observes the failed future and terminates — spec-pinned
    * in IndexStoreSpec).
    *
    * Returns None to refuse — the caller's distributed path serves;
    * the fallback is a performance path, never a correctness one.
    */
  def boundedCollect[T: scala.reflect.ClassTag](
      ds: org.apache.spark.sql.Dataset[T], cap: Long): Option[Array[T]] = {
    statBoundedCalls.incrementAndGet()
    def refusedResult: Option[Array[T]] = {
      statBoundedRefusals.incrementAndGet()
      None
    }
    val rdd = ds.rdd
    if (rdd.getNumPartitions == 0) return Some(Array.empty[T])
    val sc = ds.sparkSession.sparkContext
    val buf = scala.collection.mutable.ArrayBuffer.empty[T]
    @volatile var refused = false
    var total = 0L
    val lock = new Object
    val action = sc.submitJob[T, (Long, Array[T]), Unit](
      rdd,
      (it: Iterator[T]) => {
        val b = scala.collection.mutable.ArrayBuffer.empty[T]
        var cnt = 0L
        var over = false
        while (!over && it.hasNext) {
          val r = it.next(); cnt += 1L
          // cap+1 in ONE partition decides the global refusal — stop
          // scanning and ship the verdict, not the rows
          if (cnt > cap) over = true else b += r
        }
        (cnt, if (over) null else b.toArray)
      },
      0 until rdd.getNumPartitions,
      (_: Int, res: (Long, Array[T])) => lock.synchronized {
        if (!refused) {
          total += res._1
          if (res._2 == null || total > cap) refused = true
          else buf ++= res._2
        }
      },
      ())
    // await completion, cancelling the remaining tasks the moment the
    // running total refuses (the poll interval only delays the CANCEL,
    // never the accept path — completion is observed immediately)
    try {
      while (!action.isCompleted && !refused) Thread.sleep(2)
      if (refused) {
        action.cancel()
        refusedResult
      } else {
        // completed un-refused: surface task failures as the plain
        // collect would, then hand back the buffered rows
        scala.concurrent.Await.result(
          action, scala.concurrent.duration.Duration.Inf)
        lock.synchronized {
          if (refused) refusedResult else Some(buf.toArray)
        }
      }
    } catch {
      case e: Throwable if refused =>
        // cancellation surfacing through the future after we refused
        refusedResult
    }
  }

  /** Volume advantage WAND must show before a query routes to it:
    * use_wand ⇔ vol × RouteVolFactor < estn. r14 set 2 ("pruning must
    * at least halve the volume") when the naive kernel shuffled the
    * EXPANDED pair stream; the r15 doc_id co-location made naive
    * rows ~an order of magnitude cheaper than WAND's exact-scoring
    * broadcast rows, so the 2× bar systematically mis-priced wall
    * clock (measured, 50k-doc zipf corpus, estn/vol ≈ 10 workloads:
    * naive 2.95 s vs WAND 7.10 s at 500 queries; 44.2 vs 61.4 s at
    * 50k — WAND lost every probed scale it was routed to). 16 is the
    * measured breakeven from those receipts (c_score ≈ 10-16× c_naive
    * per priced row, plus the fixed driver-planning actions): WAND now
    * engages only where pruning shrinks the volume by an order of
    * magnitude and a half — the needle-in-haystack keyword regime
    * where its candidate-bounded volume is corpus-independent
    * insurance — and every shallower batch takes the co-located naive
    * kernel that measurably wins there. Output-invariant by the
    * pruning-exactness laws (IndexStoreSpec pins wandSearch ≡ search
    * on both regimes).
    */
  val RouteVolFactor = 16L

  /** Top-`topN` matches per query served with MaxScore-style
    * impact-ordered pruning — identical output to the store's `search`
    * (same scores, same tie-breaks; spec-pinned, same DuckDB oracle),
    * at a fraction of its join volume where pruning bites. `search`
    * pays Σ df(query terms) join rows — the measured 570M-row / 74.8 s
    * 10× BM25 worst case; this serve touches:
    *
    *   1. PREFIX: the top-`prefixP` impacts of each query term
    *      (`rnk_w <= P` pushed to the scan, files sorted by (tkey,
    *      rnk_w)) seed candidate docs; the top-4k docs per query by
    *      partial prefix score are EXACT-scored and the k-th exact
    *      seed score is the LOWER BOUND θ on the final k-th score.
    *   2. TAIL: a doc outside every prefix has, for each of its query
    *      terms, impact ≤ that term's P-th impact `cap`, so the term
    *      adds at most capb = qf·cap; its score is therefore < θ
    *      unless some single term carries qf·impact ≥
    *      θ − ε − (Σ capb − capb_t) — the MaxScore bound, divided back
    *      into impact units by qf (qf ≤ 0 terms cannot lift a doc and
    *      emit none). Only tail rows clearing that per-term cutoff
    *      (and only for terms whose cutoff ≤ cap) join at all; their
    *      docs are exact-scored with the prefix candidates and the
    *      true top-k falls out.
    *   3. ROUTE: each query is PRICED before any tail work — naive
    *      cost Σ df(all its terms) vs WAND cost (surviving terms'
    *      Σ df + its prefix pairs, times the scoring broadcast's
    *      per-candidate term count). A query WAND-serves only when
    *      pruning shrinks that volume by [[RouteVolFactor]]; the rest
    *      (dense-overlap corpora where caps swamp θ, doc-as-query
    *      batches, θ = −∞ exhaustive queries) take the store's naive
    *      kernel — the optimal plan in that regime, so WAND
    *      degenerates to a tie by construction, never a blowup. The
    *      routed remainder's scoring broadcast is hash-chunked under
    *      `broadcastRows`, so driver/executor state stays bounded even
    *      if the Σ df pricing underestimates.
    *
    * Proof shape for the skipped docs: with m = |q ∩ d| terms all
    * below cutoff, score < m·(θ−ε−C) + Σ_{t∈q∩d} capb ≤ θ−ε when
    * θ−ε ≤ C (m ≥ 1 and each capb ≥ 0), and ≤ C < θ−ε otherwise —
    * strictly under the k-th best either way, so no tie-break can
    * resurrect them. Extended (rank-0) postings always enter the
    * prefix, so extension keeps exactness.
    *
    * Collectable batches take [[serveDriverPlanned]]: ONE bounded job
    * ([[boundedCollect]]) fetches the batch — the r12 shape (eager
    * checkpoint → count → collect) paid three driver-sequenced actions
    * for the same state, whose fixed scheduler latency multiplied 3-6×
    * under host contention. It declines past its DRIVER-STATE caps
    * (pair cells, collect budgets, the tombstone set), which
    * [[serveDistributed]] owns.
    *
    * The store's side of the contract:
    *   - `table`: postings (tkey, doc_id, `impact`, rnk_w), tombstoned
    *     through [[Retire]] on doc_id;
    *   - `queries`: the LAZY query frame, one row per matched
    *     (query_id: Long, tkey: Long) with the query factor qf: Double
    *     (1 for BM25's additive weights, wq/‖q‖ for tf-idf cosine —
    *     a pair's score is Σ qf·impact in both stores) and the pricing
    *     df: Long as its first four columns, then whatever the store's
    *     closures read;
    *   - `scoreCand(q, cand)`: exact (query_id, doc_id, score) rows for
    *     candidate (query_id, doc_id) pairs under the query frame `q` —
    *     `search`'s arithmetic restricted to the candidates;
    *   - `naive(q, live)`: `search`'s Σ-postings kernel over the query
    *     frame `q` under the tombstone mask `live`. May return PARTIAL
    *     rows ([[naivePartialTopK]]) as long as each query's exact
    *     top-`topN` is present — every consumer reduces through
    *     [[finalTopK]].
    */
  def wandSearch(
      spark: SparkSession, table: String, impact: String,
      scoreName: String, queries: DataFrame, topN: Int, prefixP: Int,
      broadcastRows: Long)(
      scoreCand: (DataFrame, DataFrame) => DataFrame,
      naive: (DataFrame, DataFrame => DataFrame) => DataFrame)
      : DataFrame = {
    val post = spark.table(table).select(col("tkey"), col("doc_id"),
      col(impact).as("impact"), col("rnk_w"))
    val fetched =
      if (driverPlanningEnabled.get()) boundedCollect(queries, DriverBatchRows)
      else None
    fetched.flatMap { rows =>
      // tombstones as a driver predicate for the pair state; an
      // over-cap dead set declines driver planning. The closures run
      // several times per serve (chunks, naive fallback), so they share
      // ONE materialized mask ([[Retire.liveVia]]) and rebuild their
      // query frames from the collected rows — no query-side Spark
      // action of their own
      Retire.deadSet(spark, table).flatMap { dead =>
        import scala.jdk.CollectionConverters._
        val live = Retire.liveVia(spark, dead, "doc_id")
        def frame(ids: Long => Boolean): DataFrame = spark.createDataFrame(
          rows.iterator.filter(r => ids(r.getLong(0))).toSeq.asJava,
          queries.schema)
        lazy val all = frame(_ => true)
        serveDriverPlanned(spark, rows.map(r =>
            (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))),
          topN, prefixP, broadcastRows, post, live,
          naivePlan = ids => naive(frame(ids), live),
          scoreCand = c => scoreCand(all, c), scoreName, dead.contains)
      }
    }.getOrElse {
      // refused: a collected batch is reused via parallelize instead of
      // a second query-plan pass. (A batch boundedCollect itself
      // refuses — > DriverBatchRows rows, i.e. corpus-scale — re-runs
      // the query plan once for this checkpoint: one extra batch-linear
      // pass, paid only where the distributed serve dominates it.)
      val sc = spark.sparkContext
      val q = fetched.fold(queries)(rows => spark.createDataFrame(
          sc.parallelize(rows.toIndexedSeq, sc.defaultParallelism),
          queries.schema))
        .localCheckpoint(true)
      def live(df: DataFrame): DataFrame =
        Retire.survivors(spark, table, df, "doc_id")
      serveDistributed(q, topN, prefixP, broadcastRows, post, live,
        naivePlan = naive(_, live),
        scoreCand = scoreCand(q, _), scoreName)
    }
  }

  /** Driver-planned WAND serving for collectable batches. The
    * θ/caps/cutoffs/essential/routing state is QUERY-BATCH-sized, yet
    * the distributed orchestration pays a driver-sequenced Spark
    * action (and its AQE stage cascade) per stage — measured ~60 jobs
    * per call, which swamps the pruning win whenever the corpus side
    * is not enormous. Here the SAME algebra runs locally between at
    * most FOUR Spark actions:
    *
    *   1. ONE bounded job fetches the query rows ([[wandSearch]]'s
    *      [[boundedCollect]]); eligibility/pricing arithmetic is local
    *      (an all-ineligible batch returns the naive plan immediately
    *      — one scan);
    *   2. ONE prefix scan, collected (bounded by Σ min(P, df), checked
    *      before the scan; [[boundedCollect]] is the HARD bound — see
    *      below);
    *   3. ONE candidate-bounded scan exact-scores the θ seeds (only
    *      when the free partial θ lets too much volume through);
    *   4. ONE final plan (tail scan + exact scoring + naive remainder
    *      + top-k) — the only action whose output is the result.
    *
    * Soundness under local float jitter: partial prefix sums pick the
    * SEED SET only, and θ is the topN-th of the seeds' SPARK-computed
    * exact 4dp scores — any seed set gives a valid lower bound, so the
    * pruning proof is unchanged; caps are exact mins; the RoundEps
    * slack absorbs summation-order noise in the cutoff algebra (the
    * same argument the distributed form relies on). Output therefore
    * matches the store's `search` row-for-row. Returns None when a
    * DRIVER-STATE cap trips (the pair-cells expansion or a collect
    * budget) — the distributed orchestration serves those. A priced
    * scoring volume past the single-chunk budget is NOT a refusal
    * (r14): the serve runs the same hash-disjoint [[chunkedScores]]
    * loop driver-planned, since the overrun lives in executor-side
    * broadcast state the chunking already bounds, not in driver
    * memory.
    *
    * `qRows`: one (query_id, tkey, qf, df) row per matched query term.
    * `post`: the impact-aliased postings; the prefix over the DISTINCT
    * eligible terms is fetched in ONE job under [[boundedCollect]]'s
    * per-task hard budget — the Σ min(P, df) pre-check is an early
    * refusal, NOT the memory bound: rank-0 extended postings all pass
    * `rnk_w <= P` while the frozen df table never counts them, so a
    * heavily extended artifact can exceed the estimate arbitrarily; an
    * overrun falls back to the distributed path, which keeps these
    * rows in executors. `live`: the tombstone mask. `naivePlan`: naive
    * score rows for a query-id set. `scoreCand`: candidate (query_id, doc_id) pairs →
    * exact (query_id, doc_id, score) rows.
    */
  private def serveDriverPlanned(
      spark: SparkSession,
      qRows: Array[(Long, Long, Double, Long)],
      topN: Int, prefixP: Int, broadcastRows: Long, post: DataFrame,
      live: DataFrame => DataFrame,
      naivePlan: Set[Long] => DataFrame,
      scoreCand: DataFrame => DataFrame,
      scoreName: String,
      isDead: Long => Boolean): Option[DataFrame] = {
    import spark.implicits._
    lastRefusedDriverPlanning.set(false)
    def refuse(): Option[DataFrame] = {
      lastRefusedDriverPlanning.set(true)
      statDriverPlanningRefusals.incrementAndGet()
      None
    }
    def served(df: DataFrame): Option[DataFrame] = {
      statDriverPlannedServes.incrementAndGet()
      Some(df)
    }
    val cellsCap = pairCellsCapOverride.get().getOrElse(DriverPairCells)
    val byQ = qRows.groupBy(_._1)
    val estn = byQ.map { case (k, rs) => k -> rs.map(_._4).sum }
    val estpre = byQ.map { case (k, rs) =>
      k -> rs.map(r => math.min(prefixP.toLong, r._4)).sum }
    val nt = byQ.map { case (k, rs) => k -> rs.length.toLong }
    val dfOf = qRows.map(r => (r._1, r._2) -> r._4).toMap
    val qfOf = qRows.map(r => (r._1, r._2) -> r._3).toMap
    val eligible = byQ.keysIterator
      .filter(k =>
        estpre(k) * (1L + nt(k)) * RouteVolFactor < estn(k)).toSet
    val allQ = byQ.keySet
    // route-split default (everything naive); the serve() returns
    // below overwrite the wand-routed count — see [[lastRouteStats]]
    lastRouteStats.set((allQ.size, eligible.size, 0))
    if (eligible.isEmpty)
      return served(finalTopK(naivePlan(allQ), topN, scoreName))
    // two distinct refusals: the EXPANDED pair-state volume (driver
    // memory for the per-(query, doc) cells — [[DriverPairCells]]) and,
    // below, the distinct-term COLLECT volume (Spark→driver transfer —
    // [[PrefixCollectRows]]). They were one check when the collect was
    // per-(query, term); splitting them is what lets shared-vocabulary
    // batches twice as large stay driver-planned.
    if (eligible.iterator.map(estpre).sum > cellsCap) return refuse()
    // action 2: the ONE prefix scan, hard-bounded by the limit — over
    // DISTINCT ELIGIBLE TERMS, not (query, term) pairs: queries
    // sharing a term (the stopword slots of a keyword batch) would
    // otherwise each pull the same P prefix rows through the scan join
    // AND the driver collect — on the 20k-query zipf batch the
    // distinct-term form collects ~600k rows where the joined form
    // collected ~2.5M, and the collect CAP now prices distinct terms,
    // so shared-vocabulary batches several times larger stay eligible
    // for driver planning. The per-query expansion runs driver-locally
    // over the tkey → queries index below, whose volume the estpre
    // pre-check above already bounds (wall-clock on the zipf row is
    // unchanged — the expanded pair state, not the collect, dominates).
    val queriesOfTerm: Map[Long, Seq[Long]] =
      qRows.iterator.filter(r => eligible(r._1)).toSeq.groupBy(_._2)
        .map { case (t, rs) => t -> rs.map(_._1) }
    val dfOfTerm = qRows.iterator.map(r => r._2 -> r._4).toMap
    if (queriesOfTerm.keysIterator.map(t =>
        math.min(prefixP.toLong, dfOfTerm(t))).sum > PrefixCollectRows)
      return refuse()
    // ONE bounded job, not limit(cap+1).collect(): executeTake scales
    // partitions up incrementally (1 → 4 → 16 → …), each step its own
    // sequential job — the per-action latency the loaded-window
    // balloon multiplies. boundedCollect keeps the hard driver bound
    // (≤ ~4·cap rows transiently even on rank-0-extended overruns —
    // the frozen-df estimate never counts those rows) and refuses in
    // the same cases the limit-then-recheck shape did.
    val prefixT = boundedCollect(
      post.filter(col("rnk_w") <= prefixP)
        .join(broadcast(queriesOfTerm.keysIterator.toSeq.toDF("tkey")),
          "tkey")
        .select("tkey", "doc_id", "impact", "rnk_w")
        .as[(Long, Long, Double, Int)], PrefixCollectRows) match {
      case None => return refuse()
      case Some(rows) => rows
    }
    // EXACT expansion re-check, now that the true prefix row counts
    // are known: the estpre pre-check above prices frozen df, which
    // rank-0 EXTENDED postings evade (extend never rewrites df), so a
    // heavily extended artifact with shared query terms can expand to
    // rows_t × |Q_t| cells far past the estimate. Refuse driver
    // planning here — before any capb/pair map is built — and fall
    // back to the distributed orchestration, whose state is per-batch
    // bounded.
    locally {
      val rowsOfTerm =
        scala.collection.mutable.HashMap.empty[Long, Long]
      prefixT.foreach { case (t, _, _, _) =>
        rowsOfTerm.update(t, rowsOfTerm.getOrElse(t, 0L) + 1L) }
      val expanded = rowsOfTerm.iterator.map { case (t, n) =>
        n * queriesOfTerm(t).size }.sum
      if (expanded > cellsCap) return refuse()
    }
    // θ-independent state: partial pair scores (self excluded), caps
    // over TRUE ranks (rank-0 extended rows are always candidates),
    // and each pair's matched-cap sum (the per-pair bound's input).
    // Caps are computed once per TERM (the P-th impact is query-
    // independent) and fanned out to (query, term) via qf; the pair
    // pass expands term-major — same multiset of updates as the old
    // joined form, so the algebra is unchanged (summation order inside
    // a pair's partial may differ in ulps, which only moves the SEED
    // SET — any seed set yields a valid θ, the documented argument).
    val capStatsT =
      scala.collection.mutable.HashMap.empty[Long, Double]
    prefixT.foreach { case (t, _, imp, r) =>
      if (r >= 1 && imp < capStatsT.getOrElse(t, Double.MaxValue))
        capStatsT.update(t, imp)
    }
    // GAP-TOLERANT cap rule — compaction removes retired docs' rows
    // WITHOUT re-ranking, so a term's prefix can hold fewer than P
    // surviving rows while a tail still exists. "No tail" therefore
    // comes from the FROZEN df alone (df ≤ P ⇒ the build-time list fit
    // in the prefix; deletion only shrinks it — sound), never from the
    // surviving row count (the pre-fix rule priced such tails at cap 0
    // and silently dropped their score mass — caught by the
    // q_bm25_index_delete tri-SF sweep). When a tail exists the cap is
    // the min surviving prefix impact: every surviving prefix row has
    // rank ≤ P so impact ≥ the original P-th, which bounds every tail
    // row. A tailed term with ZERO surviving prefix rows leaves no
    // sound cap at all — its queries route to the naive kernel.
    val uncappable: Set[Long] = queriesOfTerm.iterator.collect {
      case (t, qs) if dfOfTerm(t) > prefixP && !capStatsT.contains(t) =>
        qs
    }.flatten.toSet
    val cappable = eligible -- uncappable
    if (cappable.isEmpty)
      return served(finalTopK(naivePlan(allQ), topN, scoreName))
    val capImp =
      scala.collection.mutable.HashMap.empty[(Long, Long), Double]
    val capb =
      scala.collection.mutable.HashMap.empty[(Long, Long), Double]
    capStatsT.foreach { case (t, minImp) =>
      val ci = if (dfOfTerm(t) <= prefixP) 0.0 else minImp
      queriesOfTerm(t).foreach { k =>
        capImp.update((k, t), ci)
        capb.update((k, t), qfOf.getOrElse((k, t), 0.0) * ci)
      }
    }
    val capTotal = {
      val m = scala.collection.mutable.HashMap.empty[Long, Double]
      capb.foreach { case ((k, _), cb) =>
        m.update(k, m.getOrElse(k, 0.0) + cb) }
      m.withDefaultValue(0.0)
    }
    // pair cell: (partial score sum, matched-cap sum). Tombstoned docs
    // (isDead — see [[Retire]]) never become candidates or θ-seeds; they
    // DO stay in capStats above, where a dead doc's weight only loosens
    // an upper bound (compaction restores tightness, the same story as
    // rank-0 extended postings).
    val pair =
      scala.collection.mutable.HashMap.empty[(Long, Long), Array[Double]]
    prefixT.foreach { case (t, doc, imp, _) =>
      queriesOfTerm(t).foreach { k =>
        if (doc != k && !isDead(doc)) {
          val cell = pair.getOrElseUpdate((k, doc), Array(0.0, 0.0))
          cell(0) += qfOf.getOrElse((k, t), 0.0) * imp
          cell(1) += capb.getOrElse((k, t), 0.0)
        }
      }
    }
    // per-query pair lists, built once, reused by θ selection + seeds
    // — CAPPABLE queries only: an uncappable query routes naive
    // unconditionally, so seeding/scoring θ for it would be one dead
    // exact-scoring action's worth of work per batch
    val pairsByQ = scala.collection.mutable.HashMap
      .empty[Long, scala.collection.mutable.ArrayBuffer[(Long, Double)]]
    pair.foreach { case ((k, doc), cell) =>
      if (cappable(k))
        pairsByQ.getOrElseUpdate(k,
          scala.collection.mutable.ArrayBuffer.empty) += ((doc, cell(0)))
    }

    /** The whole cutoff/essential/candidate/pricing algebra as a
      * function of θ — run twice at most: once under the FREE partial
      * θ (the k-th best prefix-partial score lower-bounds the true
      * k-th: pointwise partial ≤ true), and only if that volume
      * overruns the budget, again under the exact-seed θ (one more
      * Spark action buying a tighter bound — the flat-impact regime
      * where partial θ lets whole tails through).
      */
    case class Algebra(
        cutoffs: Seq[(Long, Long, Double)], essential: Seq[(Long, Long)],
        candPairs: Seq[(Long, Long)], useEss: Map[Long, Boolean],
        wandIds: Set[Long], volSum: Long)
    def algebra(thetaOf: Long => Double): Algebra = {
      val cutoffs = capb.iterator.flatMap { case ((k, t), cb) =>
        val qf = qfOf.getOrElse((k, t), 0.0)
        if (qf <= 0.0) None // a zero-weight term cannot lift any doc
        else {
          val cut = (thetaOf(k) - RoundEps - capTotal(k) + cb) / qf
          if (cut <= capImp((k, t))) Some((k, t, cut)) else None
        }
      }.toSeq
      val essential = capb.toSeq.groupBy(_._1._1).iterator.flatMap {
        case (k, cs) =>
          val sorted = cs.sortBy { case ((_, t), cb) => (cb, t) }
          var cum = 0.0
          sorted.flatMap { case ((_, t), cb) =>
            cum += cb
            if (cum >= thetaOf(k) - RoundEps) Some((k, t))
            else None
          }
      }.toSeq
      // the per-PAIR candidate bound the driver-planned path gets free
      // (the distributed form would pay another batch join for it): a
      // prefix doc's full score is ≤ its partial score + Σ capb of the
      // query terms it did NOT match in the prefix (each is either a
      // tail posting ≤ capb or absent = 0), so pairs provably below
      // θ − ε never enter the scoring broadcast — on stopword-heavy
      // queries this is most of the prefix candidates (docs touching
      // only a stopword slot)
      val candPairs = pair.iterator.filter { case ((k, _), cell) =>
        cell(0) + capTotal(k) - cell(1) >= thetaOf(k) - RoundEps
      }.map(_._1).toSeq
      val est1 = cutoffs.groupBy(_._1).map { case (k, cs) =>
        k -> cs.map(c => dfOf.getOrElse((k, c._2), 0L)).sum }
      val est2 = essential.groupBy(_._1).map { case (k, es) =>
        k -> es.map(e => dfOf.getOrElse((k, e._2), 0L)).sum }
      val npref = candPairs.groupBy(_._1)
        .map { case (k, ps) => k -> ps.length.toLong }
      val useEss = cappable.iterator.map { k =>
        k -> (est2.getOrElse(k, 0L) < est1.getOrElse(k, 0L)) }.toMap
      val vol = cappable.iterator.map { k =>
        k -> (math.min(est1.getOrElse(k, 0L), est2.getOrElse(k, 0L)) +
          npref.getOrElse(k, 0L)) * (1L + nt(k)) }.toMap
      val wandIds = cappable.filter(k =>
        vol(k) * RouteVolFactor < estn(k))
      Algebra(cutoffs, essential, candPairs, useEss, wandIds,
        wandIds.iterator.map(vol).sum)
    }

    def serve(a: Algebra): DataFrame = {
      val chosen =
        a.cutoffs.filter(c => a.wandIds(c._1) && !a.useEss(c._1)) ++
          a.essential.filter(e => a.wandIds(e._1) && a.useEss(e._1))
            .map(e => (e._1, e._2, Double.MinValue))
      // final action: tail probe + exact scoring + naive remainder +
      // top-k — with the DEAD subplans dropped up front (locally known):
      // an empty chosen set means no tail scan at all, and an all-wand
      // batch means no naive remainder scan
      val candA = a.candPairs.filter(p => a.wandIds(p._1))
        .toDF("query_id", "doc_id")
      val cand =
        if (chosen.isEmpty) candA
        else candA.unionByName(tailCandidates(post, prefixP, live)(
          chosen.toDF("query_id", "tkey", "cut"))).distinct()
      // exact scoring under the hard chunk budget. The selective
      // regime fits one chunk and keeps the previous inline plan; a
      // MID-SIZE batch whose priced volume overruns the budget now
      // serves CHUNKED from the driver-planned path (r14) instead of
      // refusing to the distributed orchestration — the chunks are
      // the SAME [[chunkedScores]] machinery (hash-disjoint, per-chunk
      // top-k, lossless — spec-pinned), executor state stays bounded
      // at one live chunk broadcast either way, and the serve pays
      // ~nChunks eager actions instead of the distributed planning
      // cascade (measured on the 10k-query × 500k-doc probe: the
      // distributed route cost 42 s / 14 driver-sequenced + 94 side
      // jobs; see BASELINE round-14).
      val wandScores =
        if (a.volSum <= broadcastRows) scoreCand(cand)
        else chunkedScores(cand,
          a.wandIds.iterator.map(k => (k, nt(k))).toSeq.toDF("query_id", "nt"),
          broadcastRows, topN, a.volSum)(scoreCand)
      val naiveIds = allQ -- a.wandIds
      val scores =
        if (naiveIds.isEmpty) wandScores
        else wandScores.unionByName(naivePlan(naiveIds))
      finalTopK(scores, topN, scoreName)
    }

    // FREE θ first: k-th best partial prefix score per query
    val thetaPartial = pairsByQ.map { case (k, ps) =>
      val ss = ps.map(_._2).sortBy(-_)
      k -> (if (ss.length >= topN) ss(topN - 1) else Double.MinValue)
    }
    val aPartial =
      algebra(k => thetaPartial.getOrElse(k, Double.MinValue))
    if (aPartial.wandIds.isEmpty)
      return served(finalTopK(naivePlan(allQ), topN, scoreName))
    if (aPartial.volSum <= broadcastRows) {
      lastRouteStats.set((allQ.size, eligible.size, aPartial.wandIds.size))
      return served(serve(aPartial))
    }
    // partial θ let too much through — pay ONE candidate-bounded scan
    // for the exact-seed θ (always ≥ the partial θ, so strictly fewer
    // candidates) and retry
    val seeds = pairsByQ.iterator.flatMap { case (k, ps) =>
      ps.sortBy { case (doc, s) => (-s, doc) }
        .take(4 * topN).map { case (doc, _) => (k, doc) }
    }.toSeq
    val theta: Map[Long, Double] =
      if (seeds.isEmpty) Map.empty
      else scoreCand(seeds.toDF("query_id", "doc_id"))
        .select("query_id", "doc_id", "score")
        .as[(Long, Long, Double)].collect()
        .groupBy(_._1).map { case (k, ss) =>
          val sorted = ss.sortBy { case (_, doc, s) => (-s, doc) }
          k -> (if (sorted.length >= topN) sorted(topN - 1)._3
                else Double.MinValue)
        }
    val aExact = algebra(k => theta.getOrElse(k, Double.MinValue))
    if (aExact.wandIds.isEmpty)
      return served(finalTopK(naivePlan(allQ), topN, scoreName))
    // still over the single-chunk budget under the tighter θ: serve
    // CHUNKED (inside serve() above) — driver state is already
    // pair-cells-bounded, so nothing here needs the distributed
    // orchestration's per-stage Spark planning
    lastRouteStats.set((allQ.size, eligible.size, aExact.wandIds.size))
    served(serve(aExact))
  }

  /** The distributed orchestration — the path for batches the driver
    * cannot hold (past [[DriverBatchRows]] or the pair-cells cap; the
    * 100k-query BASELINE r14 `wandserve` regime). `q` is the
    * checkpointed query frame, `post` the impact-aliased postings;
    * every intermediate is QUERY-BATCH-sized and checkpointed, so the
    * postings table is scanned exactly three times (prefix, tail, final
    * scoring) instead of once per broadcast subplan that references it.
    */
  private def serveDistributed(
      q: DataFrame, topN: Int, prefixP: Int, broadcastRows: Long,
      post: DataFrame, live: DataFrame => DataFrame,
      naivePlan: DataFrame => DataFrame,
      scoreCand: DataFrame => DataFrame,
      scoreName: String): DataFrame = {
    import graft.functions.TopKAgg
    val qdf = q.select("query_id", "tkey", "qf", "df")
    // PRE-ROUTE on the df table alone (no postings scan): even in a
    // query's optimistic best case — every prefix slot a distinct
    // candidate, zero tail rows — its WAND volume is Σ min(P, df)
    // candidates × (1 + nt) scoring rows; a query that already fails
    // the [[RouteVolFactor]] bar there can never WAND-serve. ONE
    // checkpointed frame carries the verdict, the naive Σ-df price
    // `estn` and the term count `nt`, so the pre-route, the pricing and
    // the chunk budget share a single job. When it refuses EVERY query
    // (dense-overlap corpora, doc-as-query batches) the whole θ/cap/
    // cutoff pipeline is dead weight: serve the naive kernel directly
    val qstats = qdf.groupBy("query_id")
      .agg(sum(least(col("df"), lit(prefixP.toLong))).as("estpre"),
        sum("df").as("estn"), count(lit(1)).as("nt"))
      .select(col("query_id"), col("estn"), col("nt"),
        (col("estpre") * (lit(1L) + col("nt")) * RouteVolFactor <
          col("estn")).as("eligible"))
      .localCheckpoint(true)
    val eligible = qstats.filter(col("eligible")).select("query_id")
    if (eligible.isEmpty) return finalTopK(naivePlan(q), topN, scoreName)
    val qE = qdf.join(broadcast(eligible), Seq("query_id"), "left_semi")
    val prefix = post.filter(col("rnk_w") <= prefixP)
      .join(broadcast(qE.select("query_id", "tkey", "qf")), "tkey")
      .localCheckpoint(true)
    // per-(query, term) cap in impact units, GAP-TOLERANT (see
    // [[serveDriverPlanned]]'s cap rule — compaction leaves rank gaps):
    // "no tail" from the FROZEN df alone, cap = min SURVIVING
    // rank-1..P impact otherwise, and a tailed term with zero surviving
    // prefix rows (and qf > 0 — a zero-weight term cannot lift any doc)
    // routes its queries naive. Rank-0 extended rows are always
    // candidates and must not deflate the cap; dead docs stay in (their
    // impact only loosens an upper bound; compaction restores
    // tightness). Derived BEFORE the θ-seed pass so uncappable queries
    // never pay the seed scan they cannot use.
    val caps0 = qE
      .join(prefix.filter(col("rnk_w") >= 1)
          .groupBy("query_id", "tkey").agg(min("impact").as("minimp")),
        Seq("query_id", "tkey"), "left")
      .select(col("query_id"), col("tkey"), col("qf"),
        when(col("df") <= prefixP, lit(0.0))
          .otherwise(col("minimp")).as("cap"))
      .localCheckpoint(true)
    val uncapped = caps0.filter(col("cap").isNull && col("qf") > 0.0)
      .select("query_id").distinct()
    val caps = caps0
      .join(broadcast(uncapped), Seq("query_id"), "left_anti")
      .filter(col("cap").isNotNull && col("qf") > 0.0)
      .withColumn("capb", col("qf") * col("cap"))
    // θ seeds from PARTIAL prefix scores over LIVE docs: a pair's
    // prefix contributions lower-bound its true score
    val pairScores = live(prefix)
      .join(broadcast(uncapped), Seq("query_id"), "left_anti")
      .filter(col("doc_id") =!= col("query_id"))
      .groupBy("query_id", "doc_id")
      .agg(sum(col("qf") * col("impact")).as("pscore"))
    // a query whose entire prefix is tombstone-masked (or self) has no
    // LIVE pairs: no θ-seed, no prefix candidates — routing would price
    // it at volume 0 and wand-route it into an EMPTY result (delete the
    // rank-1 doc of a single-term query at P=1 and the query vanished).
    // No θ means no sound pruning, so such queries join the
    // forced-naive set with the uncappable ones. The driver-planned
    // path is immune — its missing-θ default is −∞, a full tail scan.
    val forceNaive = uncapped.unionByName(
        eligible.join(pairScores.select("query_id").distinct(),
          Seq("query_id"), "left_anti"))
      .distinct().localCheckpoint(true)
    val candA = pairScores.select("query_id", "doc_id")
    // θ is the topN-th EXACT score of the top 4·topN docs per query by
    // partial score (one cheap candidate-bounded scan): a partial θ
    // underestimates by every contribution outside the prefix, and on
    // flat-impact lists that gap lets whole common-term tails slip under
    // the cutoff (measured: 11M candidate pairs with partial θ vs
    // prefix-only with exact-seed θ on the zipf probe). Seeds are real
    // docs, so θ is still a LOWER bound on the true topN-th.
    val seeds = pairScores.groupBy("query_id")
      .agg(TopKAgg.topK(4 * topN, col("pscore"), col("doc_id")).as("top"))
      .select(col("query_id"),
        explode(expr("transform(top, x -> x._2)")).as("doc_id"))
    val theta = scoreCand(seeds).groupBy("query_id")
      .agg(TopKAgg.topK(topN, col("score"), col("doc_id")).as("top"))
      .select(col("query_id"),
        when(size(col("top")) >= topN,
          element_at(col("top"), topN).getField("_1"))
          .otherwise(lit(Double.MinValue)).as("theta"))
      .localCheckpoint(true)
    // rule 1, per-term cutoffs in impact units; a term whose cutoff
    // exceeds its cap cannot yield a tail row
    val cutoffs = caps
      .join(caps.groupBy("query_id").agg(sum("capb").as("cap_total")),
        "query_id")
      .join(theta, "query_id")
      .select(col("query_id"), col("tkey"),
        ((col("theta") - lit(RoundEps) - col("cap_total") + col("capb"))
          / col("qf")).as("cut"), col("cap"))
      .filter(col("cut") <= col("cap"))
      .select("query_id", "tkey", "cut")
    // rule 2, the MaxScore essential split: order a query's terms by
    // ascending cap and mark the maximal low-cap suffix whose cap sum
    // stays under θ NON-ESSENTIAL; a doc outside the prefix with no
    // essential-term posting scores at most that sum < θ. Candidates
    // are ALL tail rows of essential terms (a sub-cutoff essential row
    // can still combine past θ). The rules prune complementary shapes:
    // cutoffs win when θ clears the whole cap sum (selective queries),
    // the split when a few high-cap terms carry θ and the huge
    // low-impact lists become non-essential.
    val essential = caps.join(theta, "query_id")
      .withColumn("cum", sum("capb").over(
        org.apache.spark.sql.expressions.Window.partitionBy("query_id")
          .orderBy(col("capb").asc, col("tkey"))))
      .filter(col("cum") >= col("theta") - lit(RoundEps))
      .select("query_id", "tkey")
    // ROUTE: price both rules in the same unit — Σ df, the postings
    // rows their joins emit — take the cheaper, then WAND only when the
    // FULL pruned volume (tail rows + the exact-scoring broadcast,
    // ≤ (est + npref) candidates × nt terms) beats the naive Σ df by
    // [[RouteVolFactor]]. The nt factor is what a Σ-df-only price
    // missed, measured as 25+ concurrent 4M-row chunk broadcasts OOMing
    // the driver on the dense replica corpus. Uncappable and
    // live-prefix-empty queries are forced ineligible so they reach the
    // naive branch exactly once. `vol` stays in the frame so the chunk
    // budget needs no candidate materialization.
    def est(rule: DataFrame, name: String): DataFrame =
      rule.join(qdf, Seq("query_id", "tkey"))
        .groupBy("query_id").agg(sum("df").as(name))
    def z(c: String) = coalesce(col(c), lit(0L))
    val routes = qstats
      .join(broadcast(forceNaive.withColumn("fnaive", lit(true))),
        Seq("query_id"), "left")
      .filter(col("eligible") && col("fnaive").isNull)
      .join(est(cutoffs, "est1"), Seq("query_id"), "left")
      .join(est(essential, "est2"), Seq("query_id"), "left")
      .join(candA.groupBy("query_id").agg(count(lit(1)).as("npref")),
        Seq("query_id"), "left")
      .select(col("query_id"), (z("est2") < z("est1")).as("use_ess"),
        ((least(z("est1"), z("est2")) + z("npref")) * (lit(1L) + col("nt")))
          .as("vol"), col("estn"))
      .filter(col("vol") * RouteVolFactor < col("estn"))
      .select("query_id", "use_ess", "vol")
      .localCheckpoint(true)
    // the chosen tail probes: rule-1 cutoffs, or whole essential lists
    // (cut = −∞) — riding the tail scan's job, not their own
    val chosen = cutoffs.join(routes.filter(!col("use_ess")), "query_id")
      .select("query_id", "tkey", "cut")
      .unionByName(essential.join(routes.filter(col("use_ess")), "query_id")
        .select(col("query_id"), col("tkey"),
          lit(Double.MinValue).as("cut")))
    val wandIds = routes.select("query_id")
    val cand = candA.join(broadcast(wandIds), Seq("query_id"), "left_semi")
      .unionByName(tailCandidates(post, prefixP, live)(chosen)).distinct()
    // the priced volume (an UPPER bound on the exact broadcast rows)
    // decides up front whether the candidates even need materializing
    val priced = routes.agg(coalesce(sum("vol"), lit(0L))).first.getLong(0)
    val wandScores = chunkedScores(cand, qstats.select("query_id", "nt"),
      broadcastRows, topN, priced)(scoreCand)
    // naive-routed queries — everything NOT wand-routed (when the whole
    // batch routes to WAND the empty broadcast propagates and AQE
    // elides this scan)
    finalTopK(wandScores.unionByName(naivePlan(
        q.join(broadcast(wandIds), Seq("query_id"), "left_anti"))),
      topN, scoreName)
  }

  /** The chosen (query_id, tkey, cut) tail probes (cut in impact
    * units; −∞ = a whole essential list) → live tail candidate
    * (query_id, doc_id) pairs, self-matches excluded.
    */
  private def tailCandidates(post: DataFrame, prefixP: Int,
      live: DataFrame => DataFrame)(chosen: DataFrame): DataFrame =
    live(post.filter(col("rnk_w") > prefixP)
      .join(broadcast(chosen), "tkey")
      .filter(col("impact") >= col("cut") &&
        col("doc_id") =!= col("query_id")))
      .select("query_id", "doc_id")

  /** Chunk the exact-scoring broadcast under the hard budget; the
    * selective regime this path serves fits one chunk, and each extra
    * chunk costs one more bounded postings scan — bounded state over
    * scan count, deliberately. Each chunk reduces to its own
    * per-query top-k and is EAGERLY materialized: chunks are
    * (query, doc)-hash disjoint, so any pair a chunk's top-k drops is
    * dominated by k pairs that survive into the union and the global
    * top-k is exact — and the materialization forces chunks to
    * execute one at a time, so exactly ONE chunk broadcast is live at
    * any moment (a lazy union holds every chunk's broadcast
    * simultaneously, which is the unbounded state the budget exists
    * to prevent). `score` maps a candidate (query_id, doc_id) frame
    * to exact (query_id, doc_id, score) rows.
    */
  private def chunkedScores(cand: DataFrame, qCnt: DataFrame,
      broadcastRows: Long, topN: Int, estRows: Long)(
      score: DataFrame => DataFrame): DataFrame = {
    import graft.functions.TopKAgg
    def reduceChunk(c: DataFrame): DataFrame =
      score(c)
        .groupBy("query_id")
        .agg(TopKAgg.topK(topN, col("score"), col("doc_id")).as("top"))
        .select(col("query_id"), explode(col("top")).as("r"))
        .select(col("query_id"), col("r._2").as("doc_id"),
          col("r._1").as("score"))
    // FAST PATH — the selective regime WAND exists for: when even the
    // priced UPPER bound fits one chunk, the candidate set needs no
    // materialization and no exact count — its subplan (tail scan +
    // prefix pairs) rides the one scoring job, two driver-sequenced
    // jobs fewer than the general path
    if (estRows <= broadcastRows) return reduceChunk(cand)
    statChunkedScoreFallbacks.incrementAndGet()
    val candM = cand.localCheckpoint(true)
    val bRows = candM.join(broadcast(qCnt), "query_id")
      .agg(coalesce(sum("nt"), lit(0L))).first.getLong(0)
    val nChunks =
      math.max(1L, (bRows + broadcastRows - 1) / broadcastRows).toInt
    (0 until nChunks).map { i =>
      val part = reduceChunk(
        if (nChunks == 1) candM
        else candM.filter(pmod(
          xxhash64(col("query_id"), col("doc_id")), lit(nChunks)) === i))
      if (nChunks == 1) part else part.localCheckpoint(true)
    }.reduce(_ unionByName _)
  }

  /** Per-partition top-`topN` of summed pair weights over CO-LOCATED
    * naive pair rows — the r15 rewrite of the Σ-postings kernel's
    * aggregation tail. Input: (query_id, doc_id, w) rows whose
    * partitioning CO-LOCATES every (query_id, doc_id) pair (the stores
    * repartition the MATCHED POSTINGS by doc_id before the pair-
    * expanding broadcast join, so the exchange carries Σ-distinct-term
    * df rows — always ≤ the pair volume the previous shape shuffled
    * through its (query, doc) aggregation: each matched posting row
    * expands into ≥ 1 pair row). The kernel sorts within partitions,
    * streams group sums, and keeps a bounded per-query top-`topN`
    * buffer — replacing two hash-aggregation passes plus the object
    * TopKAgg update per pair row (measured on the 20k-query zipf
    * batch: 18-20 s → 4.0 s for the full serve).
    *
    * Output: (query_id, doc_id, score) PARTIAL rows — each partition's
    * per-query top-`topN` — to be reduced by [[finalTopK]] (or unioned
    * with other score rows first). Sound because pairs are partition-
    * complete and any dropped pair is dominated within its partition
    * by `topN` emitted pairs under the exact (score desc, id asc)
    * final order, so it can never enter the global top-`topN`.
    *
    * Score = round(Σ w, 4) with the HALF_UP BigDecimal kernel the
    * in-plan retrieval kernels already use (spec-pinned ≡ Spark's
    * `round(col, 4)`). Summation-order freedom is the house 4dp
    * argument: the summands are 4dp-rounded weights, whose exact sum
    * is itself a 4dp decimal, so the ~1e-13 float-order jitter can
    * never cross a HALF_UP boundary (the nearest boundary is 5e-5
    * away).
    */
  def naivePartialTopK(pairRows: DataFrame, topN: Int): DataFrame = {
    val spark = pairRows.sparkSession
    import spark.implicits._
    pairRows
      .sortWithinPartitions("query_id", "doc_id")
      .as[(Long, Long, Double)]
      .mapPartitions { it =>
        val tops = new java.util.HashMap[Long, Array[(Double, Long)]]()
        def push(q: Long, d: Long, raw: Double): Unit = {
          val s = BigDecimal(raw)
            .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
          val buf = tops.getOrDefault(q, Array.empty)
          val full = buf.length >= topN
          if (!(full && {
            val last = buf(buf.length - 1)
            last._1 > s || (last._1 == s && last._2 < d)
          })) {
            val i = buf.indexWhere(x => s > x._1 || (s == x._1 && d < x._2))
            val at = if (i < 0) buf.length else i
            tops.put(q,
              ((buf.take(at) :+ ((s, d))) ++ buf.drop(at)).take(topN))
          }
        }
        var curQ = 0L; var curD = 0L; var acc = 0.0; var open = false
        while (it.hasNext) {
          val r = it.next()
          if (!open) { curQ = r._1; curD = r._2; acc = r._3; open = true }
          else if (r._1 == curQ && r._2 == curD) acc += r._3
          else { push(curQ, curD, acc); curQ = r._1; curD = r._2; acc = r._3 }
        }
        if (open) push(curQ, curD, acc)
        import scala.jdk.CollectionConverters._
        tops.entrySet().iterator().asScala.flatMap { e =>
          e.getValue.iterator.map { case (s, d) =>
            (e.getKey.longValue, d, s) }
        }
      }
      .toDF("query_id", "doc_id", "score")
  }

  /** Global top-`topN` per query over the unioned wand + naive score
    * rows, in the stores' output shape (query_id, rnk, neighbor_id,
    * <scoreName>) with the house (score desc, id asc) tie-break.
    */
  def finalTopK(scores: DataFrame, topN: Int,
      scoreName: String): DataFrame = {
    import graft.functions.TopKAgg
    scores
      .groupBy("query_id")
      .agg(TopKAgg.topK(topN, col("score"), col("doc_id")).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "row")))
      .select(
        col("query_id"),
        (col("pos") + 1).cast("int").as("rnk"),
        col("row._2").as("neighbor_id"),
        col("row._1").as(scoreName))
      .orderBy("query_id", "rnk")
  }
}
