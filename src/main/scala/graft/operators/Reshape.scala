package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables._
import Relational.Q

/** Row fan-out / reshaping operators (SURVEY.md §2.5) plus the
  * semi-structured column surface (F6 — JSON parse at
  * SANEF_Uploader.py:47, `events.props` fixture).
  *
  * `explode` is a Generator inside whole-stage codegen — the row fan-out
  * happens executor-side with no shuffle; only the downstream groupBy
  * exchanges data (partial aggregation halves what moves).
  */
object Reshape {

  // ---------------------------------------------------------------------
  // Array explode (R1 — one row per array element,
  // SANEF_Uploader.py:78-85): whitespace-tokenize documents and count
  // token frequencies. Oracle uses DuckDB's unnest(string_split_regex).
  // ---------------------------------------------------------------------
  val qExplodeTokens: Q = (s, d) =>
    documents(s, d)
      .select(explode(split(col("text"), "\\s+")).as("token"))
      .filter(col("token") =!= "")
      .groupBy("token")
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= 50)
      .orderBy("token")

  val qExplodeTokensSql: String =
    """SELECT token, count(*) AS cnt
      |FROM (SELECT unnest(string_split_regex(text, '\s+')) AS token
      |      FROM documents)
      |WHERE token <> ''
      |GROUP BY token
      |HAVING count(*) >= 50
      |ORDER BY token""".stripMargin

  // ---------------------------------------------------------------------
  // JSON field extraction (F6) over events.props ('{"k": 87}'-shaped).
  // regexp_extract keeps the oracle engine-portable (DuckDB's JSON
  // extension may not be loaded); the Spark side stays codegen'd.
  // ---------------------------------------------------------------------
  val qJsonExtract: Q = (s, d) =>
    events(s, d)
      .select(
        col("event_type"),
        regexp_extract(col("props"), "\"k\":\\s*(\\d+)", 1)
          .cast("int").as("k"))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n_events"),
        sum("k").as("sum_k"))
      .orderBy("event_type")

  val qJsonExtractSql: String =
    """SELECT event_type, count(*) AS n_events,
      |  CAST(sum(CAST(regexp_extract(props, '"k":\s*(\d+)', 1) AS INTEGER))
      |       AS BIGINT) AS sum_k
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------------
  // Time-bucketed event aggregation (batch shape of the streaming
  // tumbling window, §2.10): per-day per-type counts over events.ts.
  // ---------------------------------------------------------------------
  val qEventDaily: Q = (s, d) =>
    events(s, d)
      .groupBy(
        to_date(col("ts")).as("day"),
        col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        round(sum("value"), 2).as("total_value"))
      .orderBy("day", "event_type")

  val qEventDailySql: String =
    """SELECT CAST(ts AS DATE) AS day, event_type, count(*) AS n,
      |  round(sum("value"), 2) AS total_value
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY day, event_type""".stripMargin

  // ---------------------------------------------------------------------
  // Batch sessionization via window functions (the set-based twin of
  // streaming sessionize): session boundary = >30 min inactivity; session
  // id = running count of boundaries per user. Both engines express this
  // identically with lag + cumulative sum.
  // ---------------------------------------------------------------------
  val qEventSessions: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val run = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events(s, d)
      .withColumn("prev_ts", lag("ts", 1).over(byUser))
      // integer milliseconds on both engines — cast-to-long truncates
      // seconds while DuckDB's epoch() keeps fractions, a parity trap
      // for sub-second timestamps near the gap boundary
      .withColumn("boundary",
        when(col("prev_ts").isNull ||
          unix_millis(col("ts")) - unix_millis(col("prev_ts")) > 1800000L,
          1L).otherwise(0L))
      .withColumn("session_id", sum("boundary").over(run))
      .groupBy("user_id", "session_id")
      .agg(
        count(lit(1)).as("n_events"),
        round(sum("value"), 2).as("total_value"),
        min("ts").as("session_start"))
      .orderBy("user_id", "session_id")
  }

  val qEventSessionsSql: String =
    """WITH b AS (
      |  SELECT user_id, event_id, ts, "value",
      |    CASE WHEN lag(ts) OVER w IS NULL
      |           OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w) > 1800000
      |         THEN 1 ELSE 0 END AS boundary
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |s AS (
      |  SELECT user_id, ts, "value",
      |    CAST(sum(boundary) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS session_id
      |  FROM b)
      |SELECT user_id, session_id, count(*) AS n_events,
      |  round(sum("value"), 2) AS total_value,
      |  min(ts) AS session_start
      |FROM s
      |GROUP BY user_id, session_id
      |ORDER BY user_id, session_id""".stripMargin

  // ---------------------------------------------------------------------
  // Batch twin of the DECLARATIVE session_window aggregation
  // (EventStreams.sessionWindowStats) — calls the streaming code itself
  // (withWatermark is a no-op in batch), so the driver's hash check
  // covers the exact plan the stream runs. Distinct from q_event_sessions
  // above, which twins the CUSTOM flatMapGroupsWithState sessionizer;
  // note session_window's boundary is STRICT (new session at diff >=
  // gap, since a window is [ts, ts+gap)), while the lag-based form used
  // a > boundary — the oracles encode each operator's own semantics.
  // ---------------------------------------------------------------------
  val qEventSessionWindow: Q = (s, d) =>
    graft.streaming.EventStreams
      .sessionWindowStats(events(s, d), gap = "30 minutes")
      .withColumn("total_value", round(col("total_value"), 2))
      .orderBy("user_id", "session_start")

  val qEventSessionWindowSql: String =
    """WITH b AS (
      |  SELECT user_id, event_id, ts, "value",
      |    CASE WHEN lag(ts) OVER w IS NULL
      |           OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w) >= 1800000
      |         THEN 1 ELSE 0 END AS boundary
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |s AS (
      |  SELECT user_id, ts, "value",
      |    sum(boundary) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |  FROM b)
      |SELECT user_id,
      |  min(ts) AS session_start,
      |  max(ts) + INTERVAL 30 MINUTE AS session_end,
      |  count(*) AS n_events,
      |  round(sum("value"), 2) AS total_value
      |FROM s
      |GROUP BY user_id, sid
      |ORDER BY user_id, session_start""".stripMargin

  // ---------------------------------------------------------------------
  // Grouping sets / ROLLUP (SURVEY §2.4 "not present" gap closure):
  // per-(year, priority) totals with year and grand-total subtotal rows.
  // ---------------------------------------------------------------------
  val qRollup: Q = (s, d) =>
    orders(s, d)
      .rollup(year(col("o_orderdate")).as("order_year"),
        col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
      .orderBy(col("order_year").asc_nulls_first,
        col("o_orderpriority").asc_nulls_first)

  val qRollupSql: String =
    """SELECT CAST(year(o_orderdate) AS INTEGER) AS order_year,
      |  o_orderpriority, count(*) AS n,
      |  round(sum(o_totalprice), 2) AS total
      |FROM orders
      |GROUP BY ROLLUP (1, 2)
      |ORDER BY order_year ASC NULLS FIRST,
      |  o_orderpriority ASC NULLS FIRST""".stripMargin

  // CUBE — the full grouping-sets lattice (rollup's superset: adds the
  // per-priority-across-years slice). Same single-shuffle expanded
  // aggregation; state is the subtotal lattice, not the fact table.
  val qCube: Q = (s, d) =>
    orders(s, d)
      .cube(year(col("o_orderdate")).as("order_year"),
        col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
      .orderBy(col("order_year").asc_nulls_first,
        col("o_orderpriority").asc_nulls_first)

  val qCubeSql: String =
    """SELECT CAST(year(o_orderdate) AS INTEGER) AS order_year,
      |  o_orderpriority, count(*) AS n,
      |  round(sum(o_totalprice), 2) AS total
      |FROM orders
      |GROUP BY CUBE (1, 2)
      |ORDER BY order_year ASC NULLS FIRST,
      |  o_orderpriority ASC NULLS FIRST""".stripMargin

  // GROUPING SETS — the general lattice form rollup/cube are sugar for:
  // an explicit mix of unrelated slices in ONE pass — (year, priority)
  // detail, a per-status slice, and the grand total. Same Expand-based
  // single-shuffle plan as rollup/cube (each row replicated once per
  // set it participates in — 3 here), vs the naive alternative of three
  // separate scans + union. Null patterns are unambiguous because every
  // grouping column is non-null in the data, so no grouping_id column
  // is needed for the oracle compare.
  val qGroupingSets: Q = (s, d) => {
    // derive order_year BEFORE grouping: groupingSets matches set members
    // to output columns by attribute, and an Alias-wrapped expression in
    // the set list silently null-masks its output column instead
    val prioC = col("o_orderpriority")
    val statC = col("o_orderstatus")
    orders(s, d)
      .withColumn("order_year", year(col("o_orderdate")))
      .groupingSets(
        Seq(Seq(col("order_year"), prioC), Seq(statC), Seq.empty),
        col("order_year"), prioC, statC)
      .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
      .orderBy(col("order_year").asc_nulls_first,
        col("o_orderpriority").asc_nulls_first,
        col("o_orderstatus").asc_nulls_first)
  }

  val qGroupingSetsSql: String =
    """SELECT CAST(year(o_orderdate) AS INTEGER) AS order_year,
      |  o_orderpriority, o_orderstatus, count(*) AS n,
      |  round(sum(o_totalprice), 2) AS total
      |FROM orders
      |GROUP BY GROUPING SETS ((1, 2), (3), ())
      |ORDER BY order_year ASC NULLS FIRST,
      |  o_orderpriority ASC NULLS FIRST,
      |  o_orderstatus ASC NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------------
  // Incremental rollup refresh via the persisted agg-state artifact
  // ([[graft.plans.AggStore]]): build the daily-revenue rollup on the
  // first twenty days of events, then fold the remaining days in as a
  // batch — the recurring-run shape of the reference's cron model
  // (README.md:11-13) where each run scans only its new facts. The
  // result must equal the from-scratch rollup over ALL events, which is
  // exactly what the oracle computes — any error in the merge law
  // (count/sum/min/max linearity) or in the read-time avg derivation
  // breaks the hash.
  // ---------------------------------------------------------------------
  val qRollupIncremental: Q = (s, d) => {
    val id = graft.plans.AggStore.artifactId(d)
    val table = s"graft_rollup_inc_$id"
    val path = s"${sys.props("java.io.tmpdir")}/graft_aggstore_$id"
    // money quantized to integer cents: long sums are exactly
    // associative, so the merged state is bit-identical to the
    // from-scratch build no matter how many batches arrived — double
    // sums would pick up merge-order jitter that flips display rounding
    // on boundary values (observed at sf0.001)
    val ev = events(s, d).select(col("event_type"),
      to_date(col("ts")).as("day"),
      round(col("value") * 100, 0).cast("long").as("cents"))
    val cut = lit("2024-01-21").cast("date")
    graft.plans.AggStore.build(ev.filter(col("day") < cut),
      Seq("event_type", "day"), "cents", table, path)
    graft.plans.AggStore.extend(
      ev.filter(col("day") >= cut), "cents", table)
    // display shaping: the 2dp money columns round AT their native
    // precision (never a .5 boundary), while avg carries sub-cent
    // precision and so is emitted as EXACT integer micro-dollars via
    // floor-div — the q_approx_distinct_err regime; round(avg, 4) sits
    // exactly on .xxxx5 for e.g. sum=30703¢/n=8 and the engines'
    // rounding disagrees there
    graft.plans.AggStore.read(s, table)
      .select(col("event_type"), col("day"), col("n_rows"),
        round(col("sum_v") / 100.0, 2).as("sum_v"),
        round(col("min_v") / 100.0, 2).as("min_v"),
        round(col("max_v") / 100.0, 2).as("max_v"),
        expr("(sum_v * 10000) div n_rows").as("avg_udollar"))
      .orderBy("event_type", "day")
  }

  val qRollupIncrementalSql: String =
    """WITH ev AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day,
      |    CAST(round("value" * 100) AS BIGINT) AS cents
      |  FROM events)
      |SELECT event_type, day, count(*) AS n_rows,
      |  round(sum(cents) / 100.0, 2) AS sum_v,
      |  round(min(cents) / 100.0, 2) AS min_v,
      |  round(max(cents) / 100.0, 2) AS max_v,
      |  CAST((sum(cents) * 10000) // count(*) AS BIGINT) AS avg_udollar
      |FROM ev
      |GROUP BY 1, 2
      |ORDER BY event_type, day""".stripMargin

  // ---------------------------------------------------------------------
  // As-of join, composed from built-ins (SURVEY §2.3 notes Spark's
  // built-ins cover range/as-of semantics): for every error event, the
  // most recent preceding click by the same user. A running conditional
  // max over an ordered window IS the as-of lookup — no custom operator,
  // one shuffle on user_id.
  // ---------------------------------------------------------------------
  val qAsofPrevClick: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events(s, d)
      .withColumn("prev_click_ts",
        max(when(col("event_type") === "click", col("ts"))).over(w))
      .filter(col("event_type") === "error")
      .select("event_id", "user_id", "ts", "prev_click_ts")
      .orderBy("event_id")
  }

  val qAsofPrevClickSql: String =
    """SELECT event_id, user_id, ts, prev_click_ts FROM (
      |  SELECT event_id, user_id, ts, event_type,
      |    max(CASE WHEN event_type = 'click' THEN ts END) OVER (
      |      PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |      AS prev_click_ts
      |  FROM events)
      |WHERE event_type = 'error'
      |ORDER BY event_id""".stripMargin

  // ---------------------------------------------------------------------
  // Range join via time binning (SURVEY §2.3 family): for every error
  // event, how many clicks landed anywhere on the platform in the
  // preceding 10 minutes — the load-correlation probe. A pure interval
  // predicate has no equi key, so naive Spark plans it as a
  // BroadcastNestedLoopJoin (O(errors × clicks) comparisons). The
  // bucketed form is the standard fix: quantize time into bins exactly
  // one window wide, so a click's window-mates can only live in its own
  // or the next bin — each error probes 2 bins, the join becomes an
  // equi-shuffle on bin, and the exact interval check runs only on
  // bin-collision candidates. Per-bin fan-out is bounded by event rate ×
  // window, independent of corpus size.
  // ---------------------------------------------------------------------
  val qRangeJoinClicks: Q = (s, d) => {
    val W = 600000L // 10 min in ms — bin width == window length
    val ev = events(s, d)
      .withColumn("ms", unix_millis(col("ts")))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("ms").as("cms"))
      .withColumn("bin", expr(s"cms div $W"))
    val errors = ev.filter(col("event_type") === "error")
      .select(col("event_id"), col("ms"))
      .withColumn("bin",
        explode(array(expr(s"(ms div $W) - 1"), expr(s"ms div $W"))))
    // a click sits in exactly one bin and the probe bins are distinct,
    // so each qualifying click is counted exactly once; the left join
    // keeps zero-click errors (their probe rows count no hits)
    errors.join(clicks, Seq("bin"), "left")
      .groupBy("event_id")
      .agg(sum(when(col("cms").isNotNull &&
          col("cms") >= col("ms") - W && col("cms") < col("ms"),
        1L).otherwise(0L)).as("n_recent_clicks"))
      .orderBy("event_id")
  }

  val qRangeJoinClicksSql: String =
    """WITH e AS (SELECT event_id, epoch_ms(ts) AS ms
      |           FROM events WHERE event_type = 'error'),
      |c AS (SELECT epoch_ms(ts) AS cms
      |      FROM events WHERE event_type = 'click')
      |SELECT e.event_id,
      |  CAST(count(c.cms) AS BIGINT) AS n_recent_clicks
      |FROM e LEFT JOIN c
      |  ON c.cms >= e.ms - 600000 AND c.cms < e.ms
      |GROUP BY 1
      |ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------------
  // Stream-stream interval join, BATCH TWIN: multi-touch click→purchase
  // attribution. This runs EventStreams.clickAttribution itself on batch
  // frames — `EliminateEventTimeWatermark` strips the watermark nodes on
  // a batch child, so the driver-hashed query and the streaming spec
  // exercise the same join definition (same pattern as
  // q_event_session_window hash-anchoring sessionize).
  //
  // 100 TB shape: an equi-key (user_id) join with a range residual —
  // Spark hashes on the equi key, so this shuffles like any keyed join
  // (no cartesian), and in the streaming form the watermark + two-sided
  // time bound lets state be evicted (EventStreams.scala scaladoc).
  // ---------------------------------------------------------------------
  val qClickAttribution: Q = (s, d) => {
    val ev = events(s, d)
    graft.streaming.EventStreams.clickAttribution(
        clicks = ev.filter(col("event_type") === "click"),
        purchases = ev.filter(col("event_type") === "purchase"))
      .select(
        col("click_id"), col("purchase_id"), col("user_id"),
        round(col("value"), 2).as("value"))
      .orderBy("purchase_id", "click_id")
  }

  val qClickAttributionSql: String =
    """WITH c AS (SELECT event_id AS click_id, user_id, ts AS click_ts
      |           FROM events WHERE event_type = 'click'),
      |p AS (SELECT event_id AS purchase_id, user_id, ts AS purchase_ts,
      |             "value"
      |      FROM events WHERE event_type = 'purchase')
      |SELECT c.click_id, p.purchase_id, c.user_id,
      |  round("value", 2) AS "value"
      |FROM c JOIN p
      |  ON c.user_id = p.user_id
      | AND p.purchase_ts >= c.click_ts
      | AND p.purchase_ts <= c.click_ts + INTERVAL 1 HOUR
      |ORDER BY p.purchase_id, c.click_id""".stripMargin

  // ---------------------------------------------------------------------
  // Multi-touch attribution — the credit-splitting layer over the
  // attribution pair join: every qualifying click shares a purchase's
  // value equally (linear attribution, the auditable baseline marketing
  // stacks reconcile against). Same scale shape as the pair join it
  // builds on (the purchase-keyed windows add one exchange over
  // PAIR-sized data, not event-sized); credit = value / n_touches is a
  // double ÷ long — bit-identical in both engines — rounded at 4dp,
  // and touch positions tie-break on click_id so ordering is
  // engine-exact.
  // ---------------------------------------------------------------------
  val qAttributionMultitouch: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val ev = events(s, d)
    val pairs = graft.streaming.EventStreams.clickAttribution(
      clicks = ev.filter(col("event_type") === "click"),
      purchases = ev.filter(col("event_type") === "purchase"))
    val perP = Window.partitionBy("purchase_id")
    val order = Window.partitionBy("purchase_id")
      .orderBy(col("click_ts"), col("click_id"))
    pairs
      .withColumn("n_touches", count(lit(1)).over(perP))
      .withColumn("touch_pos", row_number().over(order).cast("int"))
      .withColumn("credit", round(col("value") / col("n_touches"), 4))
      .select(col("purchase_id"), col("click_id"), col("user_id"),
        col("touch_pos"), col("n_touches"), col("credit"))
      .orderBy("purchase_id", "touch_pos")
  }

  val qAttributionMultitouchSql: String =
    """WITH c AS (SELECT event_id AS click_id, user_id, ts AS click_ts
      |           FROM events WHERE event_type = 'click'),
      |p AS (SELECT event_id AS purchase_id, user_id, ts AS purchase_ts,
      |             "value"
      |      FROM events WHERE event_type = 'purchase'),
      |pairs AS (
      |  SELECT c.click_id, p.purchase_id, c.user_id, c.click_ts,
      |         p."value"
      |  FROM c JOIN p
      |    ON c.user_id = p.user_id
      |   AND p.purchase_ts >= c.click_ts
      |   AND p.purchase_ts <= c.click_ts + INTERVAL 1 HOUR)
      |SELECT purchase_id, click_id, user_id,
      |  CAST(row_number() OVER (PARTITION BY purchase_id
      |    ORDER BY click_ts, click_id) AS INT) AS touch_pos,
      |  count(*) OVER (PARTITION BY purchase_id) AS n_touches,
      |  round("value" / count(*) OVER (PARTITION BY purchase_id), 4)
      |    AS credit
      |FROM pairs
      |ORDER BY purchase_id, touch_pos""".stripMargin

  // ---------------------------------------------------------------------
  // Time-decay attribution — the recency-weighted sibling of the linear
  // split: a click's share halves for every full 10 minutes between it
  // and the purchase (k = Δ div 10min ∈ 0..6 inside the 1h window), so
  // w = 2⁻ᵏ. Weights are EXACT DYADIC rationals built by integer shift
  // (never pow(), whose last-ulp rounding is libm-specific), their
  // window sums are exact in binary, and credit = value·w/Σw is one
  // deterministic double op per row — the whole credit column is
  // bit-identical across engines before the 4dp display rounding.
  // Same pair-sized scale shape as the linear form.
  // ---------------------------------------------------------------------
  val qAttributionTimedecay: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val ev = events(s, d)
    val pairs = graft.streaming.EventStreams.clickAttribution(
      clicks = ev.filter(col("event_type") === "click"),
      purchases = ev.filter(col("event_type") === "purchase"))
    val perP = Window.partitionBy("purchase_id")
    pairs
      .withColumn("k", expr(
        "(unix_millis(purchase_ts) - unix_millis(click_ts)) div 600000")
        .cast("int"))
      .withColumn("w", expr("1.0 / cast(shiftleft(1, k) as double)"))
      .withColumn("credit",
        round(col("value") * col("w") / sum("w").over(perP), 4))
      .select(col("purchase_id"), col("click_id"), col("user_id"),
        col("k").as("decay_steps"), col("credit"))
      .orderBy("purchase_id", "click_id")
  }

  val qAttributionTimedecaySql: String =
    """WITH c AS (SELECT event_id AS click_id, user_id, ts AS click_ts
      |           FROM events WHERE event_type = 'click'),
      |p AS (SELECT event_id AS purchase_id, user_id, ts AS purchase_ts,
      |             "value"
      |      FROM events WHERE event_type = 'purchase'),
      |pairs AS (
      |  SELECT c.click_id, p.purchase_id, c.user_id,
      |    CAST((epoch_ms(p.purchase_ts) - epoch_ms(c.click_ts)) // 600000
      |      AS INT) AS k,
      |    p."value"
      |  FROM c JOIN p
      |    ON c.user_id = p.user_id
      |   AND p.purchase_ts >= c.click_ts
      |   AND p.purchase_ts <= c.click_ts + INTERVAL 1 HOUR),
      |w AS (SELECT *, 1.0 / CAST(1 << k AS DOUBLE) AS wt FROM pairs)
      |SELECT purchase_id, click_id, user_id, k AS decay_steps,
      |  round("value" * wt /
      |    sum(wt) OVER (PARTITION BY purchase_id), 4) AS credit
      |FROM w
      |ORDER BY purchase_id, click_id""".stripMargin

  // ---------------------------------------------------------------------
  // Conversion-lag distribution — "how long before a purchase was the
  // last touch?", the latency histogram every attribution dashboard
  // leads with. Last-touch lag per purchase (max preceding click inside
  // the window — one pair-sized max aggregate over the same join the
  // credit queries share), bucketed by purchase hour-of-day, summarized
  // as exact quantiles over INTEGER minutes (integer inputs make the
  // percentile interpolation arithmetic engine-exact — the q_quantiles
  // parity argument).
  // ---------------------------------------------------------------------
  val qConversionLag: Q = (s, d) => {
    val ev = events(s, d)
    val pairs = graft.streaming.EventStreams.clickAttribution(
      clicks = ev.filter(col("event_type") === "click"),
      purchases = ev.filter(col("event_type") === "purchase"))
    pairs
      .groupBy("purchase_id")
      .agg(max("click_ts").as("last_click"),
        first("purchase_ts").as("purchase_ts"))
      .withColumn("lag_min", expr(
        "(unix_millis(purchase_ts) - unix_millis(last_click)) div 60000"))
      .groupBy(hour(col("purchase_ts")).as("purchase_hour"))
      .agg(
        count(lit(1)).as("n_purchases"),
        expr("percentile(lag_min, array(0.50, 0.90))").as("ps"))
      .select(col("purchase_hour"), col("n_purchases"),
        col("ps")(0).as("p50_lag_min"), col("ps")(1).as("p90_lag_min"))
      .orderBy("purchase_hour")
  }

  val qConversionLagSql: String =
    """WITH c AS (SELECT event_id AS click_id, user_id, ts AS click_ts
      |           FROM events WHERE event_type = 'click'),
      |p AS (SELECT event_id AS purchase_id, user_id, ts AS purchase_ts
      |      FROM events WHERE event_type = 'purchase'),
      |last_touch AS (
      |  SELECT p.purchase_id, max(c.click_ts) AS last_click,
      |         any_value(p.purchase_ts) AS purchase_ts
      |  FROM c JOIN p
      |    ON c.user_id = p.user_id
      |   AND p.purchase_ts >= c.click_ts
      |   AND p.purchase_ts <= c.click_ts + INTERVAL 1 HOUR
      |  GROUP BY p.purchase_id),
      |lags AS (
      |  SELECT purchase_id,
      |    (epoch_ms(purchase_ts) - epoch_ms(last_click)) // 60000
      |      AS lag_min,
      |    CAST(hour(purchase_ts) AS INT) AS purchase_hour
      |  FROM last_touch)
      |SELECT purchase_hour, count(*) AS n_purchases,
      |  quantile_cont(lag_min, 0.50) AS p50_lag_min,
      |  quantile_cont(lag_min, 0.90) AS p90_lag_min
      |FROM lags
      |GROUP BY purchase_hour
      |ORDER BY purchase_hour""".stripMargin

  // ---------------------------------------------------------------------
  // Funnel analysis (sequential pattern over event streams): users who
  // viewed, then clicked within 24h of their FIRST view, then purchased
  // within 24h of that first qualifying click. Expressed as a chain of
  // per-stage min-aggregations joined forward — each stage is a keyed
  // agg over an ever-SHRINKING user frame, so the plan is three
  // user-keyed shuffles and zero per-user event sorting (the window/
  // collect_list formulation would materialize every user's full
  // ordered history; the min-join needs only one timestamp per user per
  // stage). At 100 TB the stage frames shrink fast enough to broadcast
  // after stage 1, and no operator ever holds a user's whole sequence.
  // ---------------------------------------------------------------------
  val qEventFunnel: Q = (s, d) => {
    val ev = events(s, d).select("user_id", "event_type", "ts")
    val v = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("ts").as("t1"))
    val c = ev.filter(col("event_type") === "click")
      .join(v, "user_id")
      .where(col("ts") > col("t1") &&
        col("ts") <= col("t1") + expr("INTERVAL 24 HOURS"))
      .groupBy("user_id").agg(min("ts").as("t2"))
    val p = ev.filter(col("event_type") === "purchase")
      .join(c, "user_id")
      .where(col("ts") > col("t2") &&
        col("ts") <= col("t2") + expr("INTERVAL 24 HOURS"))
      .groupBy("user_id").agg(min("ts").as("t3"))
    v.agg(count(lit(1)).as("n_view"))
      .crossJoin(c.agg(count(lit(1)).as("n_click_24h")))
      .crossJoin(p.agg(count(lit(1)).as("n_purchase_24h")))
  }

  val qEventFunnelSql: String =
    """WITH v AS (SELECT user_id, min(ts) AS t1 FROM events
      |           WHERE event_type = 'view' GROUP BY 1),
      |c AS (SELECT e.user_id, min(ts) AS t2
      |      FROM events e JOIN v USING (user_id)
      |      WHERE event_type = 'click' AND ts > t1
      |        AND ts <= t1 + INTERVAL 24 HOURS GROUP BY 1),
      |p AS (SELECT e.user_id, min(ts) AS t3
      |      FROM events e JOIN c USING (user_id)
      |      WHERE event_type = 'purchase' AND ts > t2
      |        AND ts <= t2 + INTERVAL 24 HOURS GROUP BY 1)
      |SELECT (SELECT CAST(count(*) AS BIGINT) FROM v) AS n_view,
      |  (SELECT CAST(count(*) AS BIGINT) FROM c) AS n_click_24h,
      |  (SELECT CAST(count(*) AS BIGINT) FROM p) AS n_purchase_24h""".stripMargin

  // ---------------------------------------------------------------------
  // Retention cohorts: users grouped by first-active day, counted on
  // each subsequent active day — the (cohort_day, day_offset) activity
  // matrix. The corpus-size reduction happens FIRST: events collapse to
  // distinct (user, day) pairs before any join (bounded by users ×
  // days, orders of magnitude under raw events at 100 TB), the cohort
  // anchor is one keyed min-agg, and the final cell count is keyed by
  // (cohort, offset) — output bounded by days², independent of corpus.
  // ---------------------------------------------------------------------
  val qRetentionCohorts: Q = (s, d) => {
    val days = events(s, d)
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .distinct()
    val cohort = days.groupBy("user_id").agg(min("day").as("cohort_day"))
    days.join(cohort, "user_id")
      .withColumn("day_offset",
        datediff(col("day"), col("cohort_day")).cast("long"))
      .groupBy("cohort_day", "day_offset")
      .agg(count_distinct(col("user_id")).as("n_active"))
      .orderBy("cohort_day", "day_offset")
  }

  val qRetentionCohortsSql: String =
    """WITH days AS (
      |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
      |cohort AS (
      |  SELECT user_id, min(day) AS cohort_day FROM days GROUP BY 1)
      |SELECT cohort_day,
      |  CAST(date_diff('day', cohort_day, day) AS BIGINT) AS day_offset,
      |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_active
      |FROM days JOIN cohort USING (user_id)
      |GROUP BY 1, 2
      |ORDER BY cohort_day, day_offset""".stripMargin

  // ---------------------------------------------------------------------
  // Heavy hitters, EXACT via a 2-pass Count-Min sketch: users with >= T
  // events. Pass 1 builds a CMS over user_id (exchange bounded at
  // depth×width rows per task — never O(distinct keys)); keys whose CMS
  // estimate clears T form a GUARANTEED candidate superset (CMS never
  // underestimates, CountMin.scala scaladoc); pass 2 recounts exactly
  // over the candidate-filtered rows only. Output = the exact
  // heavy-hitter set with exact counts — sketch parameters affect cost,
  // never the result, which is why this row is fully DuckDB-oracled
  // (plain GROUP BY/HAVING) while the plan stays sketch-shaped.
  //
  // 100 TB: the direct groupBy(user_id) shuffles every distinct key ×
  // every task; here the only keyed shuffles are the candidate distinct
  // and the recount, both over keys that plausibly clear T — bounded by
  // N/T + false candidates (E[false] <= distinct × (N/(width·T))^depth).
  // The candidate broadcast is justified the same way: |candidates| <=
  // N/T + that tail, orders of magnitude under the corpus.
  // ---------------------------------------------------------------------
  private val HeavyThreshold = 80L

  val qHeavyHitters: Q = (s, d) => {
    val keys = events(s, d).select(col("user_id"))
    val cms = graft.functions.CountMin.build(keys, "user_id")
    val candidates = keys
      .where(cms.estimate(col("user_id")) >= HeavyThreshold)
      .distinct()
    events(s, d)
      .join(broadcast(candidates), Seq("user_id"), "left_semi")
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"))
      .where(col("n_events") >= HeavyThreshold)
      .orderBy("user_id")
  }

  val qHeavyHittersSql: String =
    s"""SELECT user_id, CAST(count(*) AS BIGINT) AS n_events
      |FROM events
      |GROUP BY 1
      |HAVING count(*) >= $HeavyThreshold
      |ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------------
  // Pivot (wide aggregation): order counts per year × priority column.
  // The pivoted column set is fixed and enumerated in both engines.
  // ---------------------------------------------------------------------
  private val priorities =
    Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  val qPivot: Q = (s, d) =>
    orders(s, d)
      .groupBy(year(col("o_orderdate")).as("order_year"))
      .pivot("o_orderpriority", priorities)
      .agg(count(lit(1)))
      .na.fill(0L)
      .withColumnsRenamed(priorities.zipWithIndex.map {
        case (p, i) => p -> s"p${i + 1}"
      }.toMap)
      .orderBy("order_year")

  val qPivotSql: String =
    """SELECT CAST(year(o_orderdate) AS INTEGER) AS order_year,
      |  count(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS p1,
      |  count(*) FILTER (WHERE o_orderpriority = '2-HIGH') AS p2,
      |  count(*) FILTER (WHERE o_orderpriority = '3-MEDIUM') AS p3,
      |  count(*) FILTER (WHERE o_orderpriority = '4-NOT SPECIFIED') AS p4,
      |  count(*) FILTER (WHERE o_orderpriority = '5-LOW') AS p5
      |FROM orders
      |GROUP BY 1
      |ORDER BY order_year""".stripMargin

  // ---------------------------------------------------------------------
  // Sliding-window aggregation, batch form (§2.10) — the hash-anchored
  // twin of EventStreams.slidingRate, the same way q_event_session_window
  // anchors session_window: every event lands in window/slide
  // overlapping windows (6 here), which Spark's `window()` generator
  // fans out executor-side with no shuffle before the one windowed agg.
  // The oracle reproduces the epoch-aligned window math with an explicit
  // 0..5 hour-offset unnest. Output is (hours+5)×types-bounded.
  // ---------------------------------------------------------------------
  val qEventSliding: Q = (s, d) =>
    events(s, d)
      .groupBy(
        window(col("ts"), "6 hours", "1 hour"),
        col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total_value"))
      .select(col("window.start").as("window_start"),
        col("event_type"), col("n"), col("total_value"))
      .orderBy("window_start", "event_type")

  val qEventSlidingSql: String =
    """WITH w AS (
      |  SELECT event_type, "value",
      |    date_trunc('hour', ts) - (CAST(k AS INT) * INTERVAL 1 HOUR)
      |      AS window_start
      |  FROM events CROSS JOIN (SELECT unnest(range(0, 6)) AS k) r)
      |SELECT window_start, event_type, count(*) AS n,
      |  round(sum("value"), 2) AS total_value
      |FROM w
      |GROUP BY 1, 2
      |ORDER BY window_start, event_type""".stripMargin

  // ---------------------------------------------------------------------
  // Event-rate anomaly — the control-chart primitive of stream
  // monitoring (per-type daily volume vs that type's own mean ± σ band):
  // which days spiked or cratered relative to the series' history. The
  // per-row corpus collapses to the (type, day) aggregate FIRST — one
  // partial+final count — and everything statistical runs as windows
  // over that types×days-bounded frame, so corpus size never enters the
  // window state. z is 0 where σ=0 (a constant series has no spikes by
  // definition, and ±∞ would poison the hash compare); 4dp rounding
  // clears cross-engine variance-accumulation ulps. The |z| ≥ 2 flag
  // rides along as a column instead of a filter so the full control
  // chart stays inspectable (and the driver row stays non-vacuous even
  // on a spike-free fixture). Streaming twin: rate gate vs a FROZEN
  // stats artifact in EventStreams.
  // ---------------------------------------------------------------------
  val RateAnomalySigma = 2.0

  def rateAnomaly(ev: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("event_type")
    ev.groupBy(to_date(col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("mu", avg(col("n")).over(w))
      .withColumn("sd", stddev_pop(col("n")).over(w))
      .withColumn("z",
        when(col("sd") > 0,
          round((col("n") - col("mu")) / col("sd"), 4))
          .otherwise(lit(0.0)))
      .withColumn("spike", abs(col("z")) >= RateAnomalySigma)
      .select("event_type", "day", "n", "z", "spike")
  }

  /** The frozen per-type (mu, sd) stats artifact the STREAMING gate
    * scores against ([[graft.streaming.EventStreams.rateAnomalyGate]]):
    * built offline over the history, types-sized, broadcastable. Same
    * day-grain count base as [[rateAnomaly]].
    */
  def rateStats(ev: DataFrame): DataFrame =
    ev.groupBy(to_date(col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .groupBy("event_type")
      .agg(avg(col("n")).as("mu"), stddev_pop(col("n")).as("sd"))

  val qRateAnomaly: Q = (s, d) =>
    rateAnomaly(events(s, d)).orderBy("event_type", "day")

  val qRateAnomalySql: String =
    s"""WITH daily AS (
       |  SELECT CAST(ts AS DATE) AS day, event_type, count(*) AS n
       |  FROM events GROUP BY 1, 2),
       |st AS (SELECT event_type, day, n,
       |         avg(n) OVER (PARTITION BY event_type) AS mu,
       |         stddev_pop(n) OVER (PARTITION BY event_type) AS sd
       |       FROM daily)
       |SELECT event_type, day, n,
       |  CASE WHEN sd > 0 THEN round((n - mu) / sd, 4) ELSE 0 END AS z,
       |  (abs(CASE WHEN sd > 0 THEN round((n - mu) / sd, 4)
       |       ELSE 0 END) >= $RateAnomalySigma) AS spike
       |FROM st
       |ORDER BY event_type, day""".stripMargin

  // ---------------------------------------------------------------------
  // Full outer join (§2 set-reconciliation gap closure) — merge two
  // misaligned hourly series keeping rows unique to EITHER side: the
  // reconciliation shape (left-only = purchases without errors that
  // hour, right-only = the converse). Both inputs collapse to hour
  // grain before the join, so the shuffle is hours-bounded; the side
  // indicator is derived from pre-coalesce nullability, the part an
  // inner or one-sided join cannot express.
  // ---------------------------------------------------------------------
  val qFullOuter: Q = (s, d) => {
    val ev = events(s, d)
    def hourly(t: String) = ev
      .filter(col("event_type") === t && col("value") > 35.0)
      .groupBy(date_trunc("hour", col("ts")).as("hour"))
      .agg(count(lit(1)).as(s"n_$t"))
    hourly("purchase").join(hourly("error"), Seq("hour"), "full_outer")
      .select(col("hour"),
        when(col("n_purchase").isNotNull && col("n_error").isNotNull,
          "both")
          .when(col("n_purchase").isNotNull, "purchase_only")
          .otherwise("error_only").as("side"),
        coalesce(col("n_purchase"), lit(0L)).as("n_purchase"),
        coalesce(col("n_error"), lit(0L)).as("n_error"))
      .orderBy("hour")
  }

  val qFullOuterSql: String =
    """WITH p AS (SELECT date_trunc('hour', ts) AS hour,
      |            count(*) AS n_purchase
      |          FROM events
      |          WHERE event_type = 'purchase' AND "value" > 35
      |          GROUP BY 1),
      |e AS (SELECT date_trunc('hour', ts) AS hour, count(*) AS n_error
      |      FROM events
      |      WHERE event_type = 'error' AND "value" > 35
      |      GROUP BY 1)
      |SELECT coalesce(p.hour, e.hour) AS hour,
      |  CASE WHEN p.hour IS NOT NULL AND e.hour IS NOT NULL THEN 'both'
      |       WHEN p.hour IS NOT NULL THEN 'purchase_only'
      |       ELSE 'error_only' END AS side,
      |  coalesce(n_purchase, 0) AS n_purchase,
      |  coalesce(n_error, 0) AS n_error
      |FROM p FULL OUTER JOIN e ON p.hour = e.hour
      |ORDER BY hour""".stripMargin

  // ---------------------------------------------------------------------
  // Time-series gap fill + LOCF — the resample/forward-fill primitive
  // (sparse sensor/market series → dense daily series): build each
  // series' date spine with `sequence`, left-join observations, carry
  // the last observation forward with an ignoreNulls window. The spine
  // is per-ENTITY (event_type here), so the window partitions by entity
  // and parallelizes across series — the single-global-series window
  // would be the one-task trap the prefix-sum family already documents.
  // Spine length is (days × entities), bounded by calendar × dimension,
  // never event count; the high observation threshold makes the fixture
  // genuinely sparse (2-6 observed days of 30 per type at sf0.01).
  // ---------------------------------------------------------------------
  val GapFillThreshold = 250.0

  val qGapFill: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val obs = events(s, d)
      .filter(col("value") > GapFillThreshold)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(round(max("value"), 2).as("v"))
    val spine = obs.groupBy("event_type")
      .agg(min("day").as("lo"), max("day").as("hi"))
      .select(col("event_type"),
        explode(expr("sequence(lo, hi, interval 1 day)")).as("day"))
    val w = Window.partitionBy("event_type").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(obs, Seq("event_type", "day"), "left")
      .withColumn("filled", last("v", ignoreNulls = true).over(w))
      .withColumn("observed", col("v").isNotNull)
      .select("event_type", "day", "filled", "observed")
      .orderBy("event_type", "day")
  }

  val qGapFillSql: String =
    s"""WITH obs AS (
       |  SELECT event_type, CAST(ts AS DATE) AS day,
       |    round(max("value"), 2) AS v
       |  FROM events WHERE "value" > $GapFillThreshold
       |  GROUP BY 1, 2),
       |b AS (SELECT event_type, min(day) AS lo, max(day) AS hi
       |      FROM obs GROUP BY 1),
       |spine AS (SELECT event_type,
       |            unnest(generate_series(lo, hi, INTERVAL 1 DAY))::DATE
       |              AS day
       |          FROM b),
       |j AS (SELECT spine.event_type, spine.day, v
       |      FROM spine LEFT JOIN obs
       |        ON spine.event_type = obs.event_type
       |        AND spine.day = obs.day)
       |SELECT event_type, day,
       |  last_value(v IGNORE NULLS) OVER (PARTITION BY event_type
       |    ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |    AS filled,
       |  (v IS NOT NULL) AS observed
       |FROM j
       |ORDER BY event_type, day""".stripMargin

  // ---------------------------------------------------------------------
  // SCD Type-2 merge — the warehouse dimension-history MERGE: close the
  // current version of every changed key, open a new version at the
  // batch's effective date, insert unseen keys, pass closed history and
  // unchanged rows through untouched. This is the recurring-refresh
  // pattern the reference's cron model implies (each run re-lands the
  // dimension); SCD2 is what turns that into queryable history.
  // ---------------------------------------------------------------------

  /** Merge `batch` (key + attrs) into SCD2 `base` (key + attrs +
    * valid_from/valid_to, valid_to IS NULL = current).
    *
    * Scale shape: closed history never joins — it is filtered out and
    * unioned back, so the merge cost is one full-outer join of CURRENT
    * rows against the batch (both dimension-sized, shuffled on the key;
    * broadcast-eligible when the batch is small). Classification emits
    * 1-2 rows per key through one conditional-array explode — a single
    * pass over the join output instead of the four-branch union that
    * would rescan it. Change detection is null-safe (<=>).
    */
  /** Open-end sentinel for current SCD2 rows — the standard warehouse
    * convention (avoids nullable end-dates, keeps BETWEEN range probes
    * coalesce-free, and sidesteps engine-specific NULL-date rendering).
    */
  val Scd2OpenEnd = "9999-12-31"

  def scd2Merge(base: DataFrame, batch: DataFrame, keyCol: String,
      attrCols: Seq[String], effective: Column): DataFrame = {
    val openEnd = to_date(lit(Scd2OpenEnd))
    val outCols = (keyCol +: attrCols) :+ "valid_from" :+ "valid_to"
    val history = base.filter(col("valid_to") =!= openEnd)
    val current = base.filter(col("valid_to") === openEnd)
    val u = batch.select(
      (keyCol +: attrCols).map(c => col(c).as(s"${c}__u")): _*)
    val joined = current.join(
      u, col(keyCol) === col(s"${keyCol}__u"), "full_outer")
    val changed = attrCols
      .map(a => !(col(a) <=> col(s"${a}__u"))).reduce(_ || _)
    def row(key: Column, attrs: Seq[Column],
        from: Column, to: Column): Column =
      struct((key.as(keyCol) +:
        attrs.zip(attrCols).map { case (c, n) => c.as(n) }) ++
        Seq(from.as("valid_from"), to.cast("date").as("valid_to")): _*)
    val keep = row(col(keyCol), attrCols.map(col),
      col("valid_from"), col("valid_to"))
    val closed = row(col(keyCol), attrCols.map(col),
      col("valid_from"), effective)
    val opened = row(col(s"${keyCol}__u"),
      attrCols.map(a => col(s"${a}__u")), effective, openEnd)
    val merged = joined
      .select(explode(
        when(col(s"${keyCol}__u").isNull, array(keep))
          .when(col(keyCol).isNull, array(opened))
          .when(changed, array(closed, opened))
          .otherwise(array(keep))).as("r"))
      .select(outCols.map(c => col(s"r.$c")): _*)
    history.select(outCols.map(col): _*)
      .unionByName(merged)
      .withColumn("is_current", col("valid_to") === openEnd)
  }

  /** SCD2 over a customer-dimension fixture: base = every customer
    * current since 1995 (plus a closed 1994 version for every 13th key —
    * passthrough coverage); batch = balance updates for every 7th key,
    * no-op resends for every 7th+1, and brand-new keys from every 5th+2.
    */
  val qScd2: Q = (s, d) => {
    val attrs = Seq("c_mktsegment", "bal")
    val cust = customer(s, d)
      .select(col("c_custkey"), col("c_mktsegment"),
        round(col("c_acctbal"), 2).as("bal"))
    val base = cust
      .withColumn("valid_from", to_date(lit("1995-01-01")))
      .withColumn("valid_to", to_date(lit(Scd2OpenEnd)))
      .unionByName(cust.filter(col("c_custkey") % 13 === 4)
        .withColumn("bal", round(col("bal") - 50, 2))
        .withColumn("valid_from", to_date(lit("1994-01-01")))
        .withColumn("valid_to", to_date(lit("1995-01-01"))))
    val batch = cust.filter(col("c_custkey") % 7 === 0)
      .withColumn("bal", round(col("bal") + 100, 2))
      .unionByName(cust.filter(col("c_custkey") % 7 === 1))
      .unionByName(cust.filter(col("c_custkey") % 5 === 2)
        .withColumn("c_custkey", col("c_custkey") + 1000000L))
    scd2Merge(base, batch, "c_custkey", attrs,
      to_date(lit("1996-06-01")))
      .orderBy(col("c_custkey"), col("valid_from"))
  }

  val qScd2Sql: String =
    """WITH cust AS (
      |  SELECT c_custkey, c_mktsegment, round(c_acctbal, 2) AS bal
      |  FROM customer),
      |hist AS (
      |  SELECT c_custkey, c_mktsegment, round(bal - 50, 2) AS bal,
      |    DATE '1994-01-01' AS valid_from, DATE '1995-01-01' AS valid_to
      |  FROM cust WHERE c_custkey % 13 = 4),
      |cur AS (
      |  SELECT c_custkey, c_mktsegment, bal,
      |    DATE '1995-01-01' AS valid_from, DATE '9999-12-31' AS valid_to
      |  FROM cust),
      |batch AS (
      |  SELECT c_custkey, c_mktsegment, round(bal + 100, 2) AS bal
      |  FROM cust WHERE c_custkey % 7 = 0
      |  UNION ALL
      |  SELECT c_custkey, c_mktsegment, bal FROM cust WHERE c_custkey % 7 = 1
      |  UNION ALL
      |  SELECT c_custkey + 1000000, c_mktsegment, bal
      |  FROM cust WHERE c_custkey % 5 = 2),
      |j AS (
      |  SELECT cur.c_custkey AS k, cur.c_mktsegment AS seg, cur.bal,
      |    cur.valid_from, b.c_custkey AS k_u, b.c_mktsegment AS seg_u,
      |    b.bal AS bal_u
      |  FROM cur FULL OUTER JOIN batch b ON cur.c_custkey = b.c_custkey),
      |merged AS (
      |  SELECT k AS c_custkey, seg AS c_mktsegment, bal, valid_from,
      |    DATE '9999-12-31' AS valid_to
      |  FROM j WHERE k IS NOT NULL AND (k_u IS NULL OR
      |    (seg IS NOT DISTINCT FROM seg_u
      |     AND bal IS NOT DISTINCT FROM bal_u))
      |  UNION ALL
      |  SELECT k, seg, bal, valid_from, DATE '1996-06-01'
      |  FROM j WHERE k IS NOT NULL AND k_u IS NOT NULL
      |    AND (seg IS DISTINCT FROM seg_u OR bal IS DISTINCT FROM bal_u)
      |  UNION ALL
      |  SELECT k_u, seg_u, bal_u, DATE '1996-06-01', DATE '9999-12-31'
      |  FROM j WHERE k IS NOT NULL AND k_u IS NOT NULL
      |    AND (seg IS DISTINCT FROM seg_u OR bal IS DISTINCT FROM bal_u)
      |  UNION ALL
      |  SELECT k_u, seg_u, bal_u, DATE '1996-06-01', DATE '9999-12-31'
      |  FROM j WHERE k IS NULL)
      |SELECT c_custkey, c_mktsegment, bal, valid_from, valid_to,
      |  (valid_to = DATE '9999-12-31') AS is_current
      |FROM (SELECT * FROM hist UNION ALL SELECT * FROM merged)
      |ORDER BY c_custkey, valid_from""".stripMargin

  // ---------------------------------------------------------------------
  // Snapshot diff — derive a change feed from two table versions: the
  // inverse of the SCD2 merge. The reference's operating model re-lands
  // every output wholesale each cron run (README.md:11-13); snapshotDiff
  // is what turns consecutive re-lands into ADDED/REMOVED/CHANGED rows —
  // the CDC events a downstream consumer (or [[EventStreams.scd2Sink]])
  // actually wants, and the regression-diff tool for comparing a
  // pipeline rerun against its previous output.
  // ---------------------------------------------------------------------

  /** Rows that differ between `oldSnap` and `newSnap`, keyed by
    * `keyCol`: one row per added / removed / attribute-changed key with
    * both sides' attribute values (`old_*` / `new_*`, null on the absent
    * side). Unchanged keys are dropped — CDC output is
    * delta-sized, not table-sized.
    *
    * Scale shape: ONE full-outer join shuffled on the key (AQE handles
    * skew; either side broadcast-eligible when dimension-sized) and a
    * single null-safe comparison pass — no window, no second scan of
    * either snapshot. Change detection is null-safe (`<=>`), so
    * NULL→value and value→NULL both classify as changed.
    */
  def snapshotDiff(oldSnap: DataFrame, newSnap: DataFrame,
      keyCol: String, attrCols: Seq[String]): DataFrame = {
    val n = newSnap.select(
      (keyCol +: attrCols).map(c => col(c).as(s"${c}__n")): _*)
    val changed = attrCols
      .map(a => !(col(a) <=> col(s"${a}__n"))).reduce(_ || _)
    oldSnap.select((keyCol +: attrCols).map(col): _*)
      .join(n, col(keyCol) === col(s"${keyCol}__n"), "full_outer")
      .filter(col(keyCol).isNull || col(s"${keyCol}__n").isNull || changed)
      .select(
        coalesce(col(keyCol), col(s"${keyCol}__n")).as(keyCol) +:
          when(col(keyCol).isNull, lit("added"))
            .when(col(s"${keyCol}__n").isNull, lit("removed"))
            .otherwise(lit("changed")).as("change_type") +:
          attrCols.flatMap(a => Seq(
            col(a).as(s"old_$a"), col(s"${a}__n").as(s"new_$a"))): _*)
  }

  /** Diff two deterministic snapshots of the customer dimension: the
    * old snapshot lacks every 101st key (those read as added), the new
    * lacks every 97th (removed) and bumps the balance of every 89th
    * (changed); everything else is identical and must NOT appear.
    */
  val qSnapshotDiff: Q = (s, d) => {
    val cust = customer(s, d).select(col("c_custkey"),
      col("c_mktsegment"), round(col("c_acctbal"), 2).as("bal"))
    val oldSnap = cust.filter(col("c_custkey") % 101 =!= 0)
    val newSnap = cust.filter(col("c_custkey") % 97 =!= 0)
      .withColumn("bal", when(col("c_custkey") % 89 === 0,
        round(col("bal") + 25, 2)).otherwise(col("bal")))
    snapshotDiff(oldSnap, newSnap, "c_custkey", Seq("c_mktsegment", "bal"))
      .orderBy("c_custkey")
  }

  val qSnapshotDiffSql: String =
    """WITH cust AS (
      |  SELECT c_custkey, c_mktsegment, round(c_acctbal, 2) AS bal
      |  FROM customer),
      |o AS (SELECT * FROM cust WHERE c_custkey % 101 <> 0),
      |n AS (
      |  SELECT c_custkey, c_mktsegment,
      |    CASE WHEN c_custkey % 89 = 0 THEN round(bal + 25, 2)
      |         ELSE bal END AS bal
      |  FROM cust WHERE c_custkey % 97 <> 0)
      |SELECT coalesce(o.c_custkey, n.c_custkey) AS c_custkey,
      |  CASE WHEN o.c_custkey IS NULL THEN 'added'
      |       WHEN n.c_custkey IS NULL THEN 'removed'
      |       ELSE 'changed' END AS change_type,
      |  o.c_mktsegment AS old_c_mktsegment,
      |  n.c_mktsegment AS new_c_mktsegment,
      |  o.bal AS old_bal, n.bal AS new_bal
      |FROM o FULL OUTER JOIN n ON o.c_custkey = n.c_custkey
      |WHERE o.c_custkey IS NULL OR n.c_custkey IS NULL
      |  OR o.c_mktsegment IS DISTINCT FROM n.c_mktsegment
      |  OR o.bal IS DISTINCT FROM n.bal
      |ORDER BY c_custkey""".stripMargin

  // ---------------------------------------------------------------------
  // Rollup CDC — [[snapshotDiff]] composed over the [[graft.plans
  // .AggStore]] VERSION HISTORY: build the weekly-revenue rollup on
  // facts before a mid-week cut (lands as `v<n>`), fold the remaining
  // facts in (lands as `v<n+1>`), then diff the two newest version
  // directories. This is the payoff of versioned artifact saves: the
  // change feed between consecutive recurring runs derives from
  // history that already exists, no extra bookkeeping. The mid-week
  // cut makes the boundary week CHANGED (its counts grow) and later
  // weeks ADDED; earlier weeks drop out (CDC is delta-sized); REMOVED
  // cannot occur in an append-only rollup — asserted by the spec, not
  // just documented. Integer state (counts + cent sums) keeps the
  // diff hash-exact.
  // ---------------------------------------------------------------------
  val qRollupCdc: Q = (s, d) => {
    val id = graft.plans.AggStore.artifactId(d)
    val table = s"graft_rollup_cdc_$id"
    val path = s"${sys.props("java.io.tmpdir")}/graft_aggstore_cdc_$id"
    val ev = events(s, d).select(col("event_type"),
      date_trunc("week", col("ts")).cast("date").as("wk"),
      to_date(col("ts")).as("day"),
      round(col("value") * 100, 0).cast("long").as("cents"))
    val cut = lit("2024-01-18").cast("date") // Thursday: splits a week
    graft.plans.AggStore.build(ev.filter(col("day") < cut)
        .select("event_type", "wk", "cents"),
      Seq("event_type", "wk"), "cents", table, path)
    graft.plans.AggStore.extend(ev.filter(col("day") >= cut)
      .select("event_type", "wk", "cents"), "cents", table)
    // diff the two NEWEST versions (repeat invocations append history;
    // the latest pair is always this run's build/extend)
    val vs = graft.plans.AggStore.versionPaths(s, path)
    val withKey = (p: String) => s.read.parquet(p)
      .select(concat(col("event_type"), lit("|"),
        col("wk").cast("string")).as("k"),
        col("n_rows"), col("sum_v"))
    snapshotDiff(withKey(vs(vs.length - 2)), withKey(vs.last), "k",
      Seq("n_rows", "sum_v"))
      .orderBy("k")
  }

  val qRollupCdcSql: String =
    """WITH ev AS (
      |  SELECT event_type,
      |    CAST(date_trunc('week', ts) AS DATE) AS wk,
      |    CAST(ts AS DATE) AS day,
      |    CAST(round("value" * 100) AS BIGINT) AS cents
      |  FROM events),
      |v0 AS (
      |  SELECT event_type || '|' || CAST(wk AS VARCHAR) AS k,
      |    count(*) AS n_rows, CAST(sum(cents) AS BIGINT) AS sum_v
      |  FROM ev WHERE day < DATE '2024-01-18' GROUP BY 1),
      |v1 AS (
      |  SELECT event_type || '|' || CAST(wk AS VARCHAR) AS k,
      |    count(*) AS n_rows, CAST(sum(cents) AS BIGINT) AS sum_v
      |  FROM ev GROUP BY 1)
      |SELECT coalesce(v0.k, v1.k) AS k,
      |  CASE WHEN v0.k IS NULL THEN 'added'
      |       WHEN v1.k IS NULL THEN 'removed'
      |       ELSE 'changed' END AS change_type,
      |  v0.n_rows AS old_n_rows, v1.n_rows AS new_n_rows,
      |  v0.sum_v AS old_sum_v, v1.sum_v AS new_sum_v
      |FROM v0 FULL OUTER JOIN v1 ON v0.k = v1.k
      |WHERE v0.k IS NULL OR v1.k IS NULL
      |  OR v0.n_rows IS DISTINCT FROM v1.n_rows
      |  OR v0.sum_v IS DISTINCT FROM v1.sum_v
      |ORDER BY k""".stripMargin

  // ---------------------------------------------------------------------
  // Co-visitation mining — item-item co-occurrence over the event
  // stream (the Amazon-style "users who viewed X also viewed Y"
  // counting kernel, Linden et al. IEEE IC'03): distinct (user, page)
  // visits, self-joined per user into unordered page pairs, counted and
  // ranked. The per-user page cap is the df-cap discipline applied to
  // users: a power user with P pages fans out P²/2 pairs, so the cap
  // bounds the join's output at cap²/2 per user and drops the
  // bot-shaped tail that co-visitation counts are meaningless for
  // anyway (every pair co-occurs for a user who visits everything —
  // pure noise in an item-CF signal).
  //
  // Scale shape: distinct + per-user count are partial+final aggs; the
  // pair join shuffles on user_id (co-partitioned self-join), group key
  // is the pair. Parity: exact integer counts, total order with pair
  // tie-break, LIMIT after it.
  // ---------------------------------------------------------------------
  val CovisitMaxPagesPerUser = 50
  val CovisitMinUsers = 2
  val CovisitTopN = 50

  val qCovisitation: Q = (s, d) => {
    val up = events(s, d)
      .select(col("user_id"),
        regexp_extract(col("props"), "\"k\":\\s*(\\d+)", 1)
          .cast("long").as("page"))
      .filter(col("page").isNotNull)
      .distinct()
    val okUsers = up.groupBy("user_id")
      .agg(count(lit(1)).as("n_pages"))
      .filter(col("n_pages") <= CovisitMaxPagesPerUser)
      .select("user_id")
    val kept = up.join(okUsers, Seq("user_id"), "left_semi")
    kept.withColumnRenamed("page", "page_a")
      .join(kept.withColumnRenamed("page", "page_b"), "user_id")
      .filter(col("page_a") < col("page_b"))
      .groupBy("page_a", "page_b")
      .agg(count(lit(1)).as("n_users"))
      .filter(col("n_users") >= CovisitMinUsers)
      .orderBy(col("n_users").desc, col("page_a"), col("page_b"))
      .limit(CovisitTopN)
  }

  val qCovisitationSql: String =
    s"""WITH up AS (SELECT DISTINCT user_id,
      |    CAST(regexp_extract(props, '"k":\\s*(\\d+)', 1) AS BIGINT)
      |      AS page
      |  FROM events
      |  WHERE regexp_extract(props, '"k":\\s*(\\d+)', 1) <> ''),
      |ok AS (SELECT user_id FROM up GROUP BY 1
      |       HAVING count(*) <= $CovisitMaxPagesPerUser),
      |kept AS (SELECT up.user_id, up.page FROM up JOIN ok USING (user_id))
      |SELECT a.page AS page_a, b.page AS page_b,
      |  CAST(count(*) AS BIGINT) AS n_users
      |FROM kept a JOIN kept b
      |  ON a.user_id = b.user_id AND a.page < b.page
      |GROUP BY 1, 2 HAVING count(*) >= $CovisitMinUsers
      |ORDER BY n_users DESC, page_a, page_b
      |LIMIT $CovisitTopN""".stripMargin

  // ---------------------------------------------------------------------
  // A/B experiment readout — the uplift report every event pipeline
  // ships: users assigned to variants by content-free md5 parity (the
  // drift monitors' split discipline — deterministic, engine-neutral,
  // no RNG state, and crucially INDEPENDENT of behavior, the property a
  // valid experiment split needs), then per-variant conversion rate
  // (any 'purchase' event) and ARPU over per-user revenue.
  //
  // Scale shape: two partial+final aggs (user grain, then variant
  // grain) — the user-grain agg co-partitions with the event shuffle,
  // variant grain is 2 rows. Parity: per-user revenue rounds 2dp (sums
  // of few doubles), variant ARPU rounds 4dp over the rounded per-user
  // values; conversion is exact ints.
  // ---------------------------------------------------------------------
  /** The experiment's per-user grain — ONE definition of the variant
    * split and revenue/conversion derivation, shared by the readout
    * and the t-test so the significance row can never silently gate on
    * a different population than the point estimates it backs.
    */
  private def abPerUser(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .withColumn("variant",
        when(substring(md5(col("user_id").cast("string")), 1, 1) < "8",
          "A").otherwise("B"))
      .groupBy("user_id", "variant")
      .agg(
        max(when(col("event_type") === "purchase", 1).otherwise(0))
          .as("converted"),
        round(sum(when(col("event_type") === "purchase", col("value"))
          .otherwise(lit(0.0))), 2).as("revenue"))

  val qAbExperiment: Q = (s, d) =>
    abPerUser(s, d)
      .groupBy("variant")
      .agg(
        count(lit(1)).as("n_users"),
        sum("converted").cast("long").as("n_converted"),
        round(sum("converted").cast("double") / count(lit(1)), 4)
          .as("conv_rate"),
        round(avg("revenue"), 4).as("arpu"))
      .orderBy("variant")

  val qAbExperimentSql: String =
    """WITH per_user AS (SELECT user_id,
      |    CASE WHEN substring(md5(CAST(user_id AS VARCHAR)), 1, 1) < '8'
      |         THEN 'A' ELSE 'B' END AS variant,
      |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
      |      AS converted,
      |    round(sum(CASE WHEN event_type = 'purchase' THEN value
      |                   ELSE 0.0 END), 2) AS revenue
      |  FROM events GROUP BY 1, 2)
      |SELECT variant,
      |  CAST(count(*) AS BIGINT) AS n_users,
      |  CAST(sum(converted) AS BIGINT) AS n_converted,
      |  round(CAST(sum(converted) AS DOUBLE) / count(*), 4) AS conv_rate,
      |  round(avg(revenue), 4) AS arpu
      |FROM per_user GROUP BY variant
      |ORDER BY variant""".stripMargin

  // ---------------------------------------------------------------------
  // Welch's t on the A/B revenue split — the significance arithmetic
  // behind [[qAbExperiment]]'s point estimates: per-variant (n, mean,
  // sample variance) over per-user revenue, then t = (m_A − m_B) /
  // √(s²_A/n_A + s²_B/n_B) and the Welch–Satterthwaite dof, all as
  // closed-form expressions over ONE 2-row aggregate (the same
  // identical-arithmetic-both-engines discipline as q_regression —
  // variance from raw moment sums, never var_samp built-ins). The
  // verdict column (|t| ≥ 1.96) is what an experimentation dashboard
  // actually gates on.
  // ---------------------------------------------------------------------
  val qAbTtest: Q = (s, d) => {
    val perUser = abPerUser(s, d).select("user_id", "variant", "revenue")
    val m = perUser.groupBy("variant")
      .agg(
        count(lit(1)).cast("double").as("n"),
        sum("revenue").as("sx"),
        sum(col("revenue") * col("revenue")).as("sxx"))
      .select(col("variant"), col("n"),
        (col("sx") / col("n")).as("mean"),
        ((col("sxx") - col("sx") * col("sx") / col("n")) /
          (col("n") - 1.0)).as("s2"))
    val a = m.filter(col("variant") === "A")
      .select(col("n").as("n_a"), col("mean").as("m_a"), col("s2").as("v_a"))
    val b = m.filter(col("variant") === "B")
      .select(col("n").as("n_b"), col("mean").as("m_b"), col("s2").as("v_b"))
    a.crossJoin(broadcast(b))
      .withColumn("se2", col("v_a") / col("n_a") + col("v_b") / col("n_b"))
      .select(
        col("n_a").cast("long").as("n_a"),
        col("n_b").cast("long").as("n_b"),
        round(col("m_a"), 4).as("mean_a"),
        round(col("m_b"), 4).as("mean_b"),
        round((col("m_a") - col("m_b")) / sqrt(col("se2")), 4).as("t"),
        round(pow(col("se2"), 2) /
          (pow(col("v_a") / col("n_a"), 2) / (col("n_a") - 1.0) +
            pow(col("v_b") / col("n_b"), 2) / (col("n_b") - 1.0)), 2)
          .as("welch_dof"),
        (abs((col("m_a") - col("m_b")) / sqrt(col("se2"))) >= 1.96)
          .cast("int").as("significant_95"))
  }

  val qAbTtestSql: String =
    """WITH per_user AS (SELECT user_id,
      |    CASE WHEN substring(md5(CAST(user_id AS VARCHAR)), 1, 1) < '8'
      |         THEN 'A' ELSE 'B' END AS variant,
      |    round(sum(CASE WHEN event_type = 'purchase' THEN value
      |                   ELSE 0.0 END), 2) AS revenue
      |  FROM events GROUP BY 1, 2),
      |m AS (SELECT variant, CAST(count(*) AS DOUBLE) AS n,
      |        sum(revenue) AS sx, sum(revenue * revenue) AS sxx
      |      FROM per_user GROUP BY 1),
      |mm AS (SELECT variant, n, sx / n AS mean,
      |         (sxx - sx * sx / n) / (n - 1.0) AS s2
      |       FROM m),
      |j AS (SELECT a.n AS n_a, b.n AS n_b, a.mean AS m_a, b.mean AS m_b,
      |        a.s2 / a.n + b.s2 / b.n AS se2,
      |        a.s2 AS v_a, b.s2 AS v_b
      |      FROM (SELECT * FROM mm WHERE variant = 'A') a
      |      CROSS JOIN (SELECT * FROM mm WHERE variant = 'B') b)
      |SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
      |  round(m_a, 4) AS mean_a, round(m_b, 4) AS mean_b,
      |  round((m_a - m_b) / sqrt(se2), 4) AS t,
      |  round(pow(se2, 2) / (pow(v_a / n_a, 2) / (n_a - 1.0)
      |    + pow(v_b / n_b, 2) / (n_b - 1.0)), 2) AS welch_dof,
      |  CAST(abs((m_a - m_b) / sqrt(se2)) >= 1.96 AS INT)
      |    AS significant_95
      |FROM j""".stripMargin

  // ---------------------------------------------------------------------
  // IQR-fence value outliers (Tukey's rule) — the value-level anomaly
  // monitor beside [[qRateAnomaly]]'s rate-level control chart: per
  // event type, observations outside [p25 − 1.5·IQR, p75 + 1.5·IQR].
  // Fences come from the EXACT percentile aggregate (the q_quantiles
  // parity regime — Spark `percentile` ≡ DuckDB `quantile_cont`
  // bit-identically), so the comparisons are engine-exact without any
  // pre-comparison rounding; only the REPORTED fence columns round.
  //
  // Scale shape: one grouped percentile agg (#types rows) broadcast
  // back into a second scan — two passes, no corpus-sized shuffle
  // beyond the group-by. At 100 TB the exact percentile's value map is
  // the cost knob; approx_percentile is the documented fallback when
  // value cardinality per group explodes.
  // ---------------------------------------------------------------------
  val qValueOutliers: Q = (s, d) => {
    val ev = events(s, d)
    val fences = ev.groupBy("event_type")
      .agg(expr("percentile(value, array(0.25, 0.75))").as("ps"))
      .select(col("event_type"),
        col("ps")(0).as("p25"), col("ps")(1).as("p75"))
      .withColumn("lo",
        col("p25") - lit(1.5) * (col("p75") - col("p25")))
      .withColumn("hi",
        col("p75") + lit(1.5) * (col("p75") - col("p25")))
    ev.join(broadcast(fences), "event_type")
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n_events"),
        sum(when(col("value") < col("lo") || col("value") > col("hi"),
          1L).otherwise(0L)).as("n_outliers"),
        round(min(col("lo")), 4).as("lo"),
        round(min(col("hi")), 4).as("hi"))
      .withColumn("outlier_rate",
        round(col("n_outliers").cast("double") / col("n_events"), 4))
      .orderBy("event_type")
  }

  val qValueOutliersSql: String =
    """WITH f AS (SELECT event_type,
      |    quantile_cont(value, 0.25) AS p25,
      |    quantile_cont(value, 0.75) AS p75
      |  FROM events GROUP BY 1),
      |fx AS (SELECT event_type,
      |    p25 - 1.5*(p75 - p25) AS lo,
      |    p75 + 1.5*(p75 - p25) AS hi
      |  FROM f)
      |SELECT e.event_type,
      |  CAST(count(*) AS BIGINT) AS n_events,
      |  CAST(sum(CASE WHEN e.value < lo OR e.value > hi
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
      |  round(min(lo), 4) AS lo,
      |  round(min(hi), 4) AS hi,
      |  round(CAST(sum(CASE WHEN e.value < lo OR e.value > hi
      |    THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 4) AS outlier_rate
      |FROM events e JOIN fx USING (event_type)
      |GROUP BY e.event_type
      |ORDER BY e.event_type""".stripMargin

  val queries: Map[String, Q] = Map(
    "q_value_outliers" -> qValueOutliers,
    "q_ab_experiment" -> qAbExperiment,
    "q_ab_ttest" -> qAbTtest,
    "q_covisitation" -> qCovisitation,
    "q_full_outer" -> qFullOuter,
    "q_gap_fill" -> qGapFill,
    "q_rollup_cdc" -> qRollupCdc,
    "q_scd2" -> qScd2,
    "q_snapshot_diff" -> qSnapshotDiff,
    "q_rate_anomaly" -> qRateAnomaly,
    "q_asof_prev_click" -> qAsofPrevClick,
    "q_pivot" -> qPivot,
    "q_explode_tokens" -> qExplodeTokens,
    "q_json_extract" -> qJsonExtract,
    "q_event_daily" -> qEventDaily,
    "q_event_sessions" -> qEventSessions,
    "q_event_session_window" -> qEventSessionWindow,
    "q_event_sliding" -> qEventSliding,
    "q_range_join_clicks" -> qRangeJoinClicks,
    "q_click_attribution" -> qClickAttribution,
    "q_attribution_multitouch" -> qAttributionMultitouch,
    "q_attribution_timedecay" -> qAttributionTimedecay,
    "q_conversion_lag" -> qConversionLag,
    "q_event_funnel" -> qEventFunnel,
    "q_retention_cohorts" -> qRetentionCohorts,
    "q_heavy_hitters" -> qHeavyHitters,
    "q_rollup" -> qRollup,
    "q_rollup_incremental" -> qRollupIncremental,
    "q_cube" -> qCube,
    "q_grouping_sets" -> qGroupingSets)

  val oracles: Map[String, String] = Map(
    "q_value_outliers" -> qValueOutliersSql,
    "q_ab_experiment" -> qAbExperimentSql,
    "q_ab_ttest" -> qAbTtestSql,
    "q_covisitation" -> qCovisitationSql,
    "q_full_outer" -> qFullOuterSql,
    "q_gap_fill" -> qGapFillSql,
    "q_scd2" -> qScd2Sql,
    "q_snapshot_diff" -> qSnapshotDiffSql,
    "q_rollup_cdc" -> qRollupCdcSql,
    "q_rate_anomaly" -> qRateAnomalySql,
    "q_asof_prev_click" -> qAsofPrevClickSql,
    "q_pivot" -> qPivotSql,
    "q_explode_tokens" -> qExplodeTokensSql,
    "q_json_extract" -> qJsonExtractSql,
    "q_event_daily" -> qEventDailySql,
    "q_event_sessions" -> qEventSessionsSql,
    "q_event_session_window" -> qEventSessionWindowSql,
    "q_event_sliding" -> qEventSlidingSql,
    "q_range_join_clicks" -> qRangeJoinClicksSql,
    "q_click_attribution" -> qClickAttributionSql,
    "q_attribution_multitouch" -> qAttributionMultitouchSql,
    "q_attribution_timedecay" -> qAttributionTimedecaySql,
    "q_conversion_lag" -> qConversionLagSql,
    "q_event_funnel" -> qEventFunnelSql,
    "q_retention_cohorts" -> qRetentionCohortsSql,
    "q_heavy_hitters" -> qHeavyHittersSql,
    "q_rollup" -> qRollupSql,
    "q_cube" -> qCubeSql,
    "q_rollup_incremental" -> qRollupIncrementalSql,
    "q_grouping_sets" -> qGroupingSetsSql)
}
