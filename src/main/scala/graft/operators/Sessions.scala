package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{QueryGroup, Tables}
import graft.Tables.GraftCheckpointOps
import graft.streaming.Sessionize

/** Sessionization in batch form — two implementations of the same
  * semantics (session end = last event + gap), both held to the same
  * gaps-and-islands DuckDB oracle:
  *
  *  - q29: Spark's built-in `session_window` (declarative; Catalyst
  *    plans a single hash-partitioned aggregation — the scale path).
  *  - q30: the custom stateful `Sessionize` used by the streaming
  *    pipeline, run through its batch entry point — proving the
  *    streaming operator's logic against SQL semantics.
  *  - q60: as-of join (click → latest view at-or-before it, per user).
  *    Spark has no ASOF JOIN; the scalable form is the union+window
  *    plan — tag both sides, one shuffle by key, sort by (ts, side),
  *    carry the last view forward — never a per-pair range join. The
  *    oracle is DuckDB's native ASOF LEFT JOIN, an independent
  *    implementation of the same semantics.
  *  - q75: interval-containment join with NO equi key (each purchase
  *    counted against every 5-minute error window containing it).
  *    Written naively this is a cartesian/BNLJ — the q36/q42 disease.
  *    The scale plan is TIME-BIN BLOCKING: bin width == window width,
  *    so a window covers at most 2 bins; explode windows to their
  *    distinct covered bins, equi-join on the bin (one shuffle keyed
  *    by time bin — AQE's skew split handles hot bins), then apply
  *    the exact containment predicate. Lossless (a probe's single bin
  *    always appears among its containing window's bins, and distinct
  *    bins mean no double-match), so the oracle is the plain
  *    range-predicate LEFT JOIN.
  */
object Sessions extends QueryGroup {

  private val gapMinutes = 30
  private val gapMs = gapMinutes * 60 * 1000L
  private val windowMinutes = 5

  private val oracle: String = s"""
    WITH marked AS (
      SELECT user_id, ts::TIMESTAMP AS ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                  OR ts - lag(ts) OVER w >= INTERVAL $gapMinutes MINUTE THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), sess AS (
      SELECT user_id, ts, value,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
      FROM marked
    )
    SELECT user_id,
           min(ts) AS session_start,
           max(ts) + INTERVAL $gapMinutes MINUTE AS session_end,
           count(*) AS n_events,
           round(sum(value), 2) AS sum_value
    FROM sess
    GROUP BY user_id, sid
    ORDER BY user_id, session_start
  """.trim

  // q264's relation as DuckDB's native ASOF LEFT JOIN — an independent
  // implementation. q324 and q338 share it: only the physical strategy
  // differs, which is exactly what one shared oracle proves.
  private val asOfOracle = """
      WITH v AS (
        SELECT user_id, ts::TIMESTAMP AS view_ts, max(event_id) AS view_id
        FROM events WHERE event_type = 'view' GROUP BY 1, 2
      ),
      c AS (
        SELECT event_id AS click_id, user_id, ts::TIMESTAMP AS click_ts
        FROM events WHERE event_type = 'click'
      )
      SELECT c.click_id, c.user_id, c.click_ts, v.view_id, v.view_ts,
             CASE WHEN v.view_ts IS NOT NULL
                  THEN epoch_us(c.click_ts) - epoch_us(v.view_ts) END AS lag_us
      FROM c ASOF LEFT JOIN v ON c.user_id = v.user_id AND c.click_ts >= v.view_ts
      ORDER BY click_id
    """

  // q262's relation as a DuckDB range join. q332 and q339 share it:
  // only the physical operator differs (native interval sweep, salted
  // or not, vs equi join + range residual).
  private val rangeJoinOracle = """
      WITH i AS (SELECT event_id AS imp_id, user_id, ts::TIMESTAMP AS imp_ts
                 FROM events WHERE event_type = 'view'),
      c AS (SELECT event_id AS click_id, user_id, ts::TIMESTAMP AS click_ts
            FROM events WHERE event_type = 'click')
      SELECT i.user_id, i.imp_id, c.click_id,
             datediff('second', i.imp_ts, c.click_ts)::BIGINT AS lag_sec
      FROM i JOIN c
        ON i.user_id = c.user_id
        AND c.click_ts >= i.imp_ts
        AND c.click_ts <= i.imp_ts + INTERVAL 3600 SECOND
      ORDER BY i.user_id, i.imp_id, c.click_id
    """

  /** Each click (click_id, c_user, click_ts) as-of joined by `asOf` to
    * the latest view at or before it (v_user, view_ts, view_id; one
    * view per (user, ts), max event_id), with the click → view lag:
    * the body of q264, q324 and q338, which differ only in `asOf`.
    */
  private def clicksAsOfViews(s: SparkSession, d: String)(
      asOf: (DataFrame, DataFrame, String, String, String, String) => DataFrame): DataFrame = {
    val ev = Tables.events(s, d)
    val views = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id").as("v_user"), col("ts").as("view_ts"))
      .agg(max("event_id").as("view_id"))
      .select(col("v_user"), col("view_ts"), col("view_id"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
              col("ts").as("click_ts"))
    asOf(clicks, views, "c_user", "v_user", "click_ts", "view_ts")
      .select(col("click_id"), col("c_user").as("user_id"), col("click_ts"),
              col("view_id"), col("view_ts"))
      .withColumn("lag_us",
        when(col("view_ts").isNotNull,
             unix_micros(col("click_ts")) - unix_micros(col("view_ts"))))
      .orderBy("click_id")
  }

  /** Clicks (click_id, c_user, click_us) joined by `interval` to the
    * 1 h windows (imp_id, i_user, win_start_us, win_end_us) each view
    * opens: the input of q332, q333 and q339.
    */
  private def clicksInViewWindows(s: SparkSession, d: String)(
      interval: (DataFrame, DataFrame, String, String, String, String, String) => DataFrame): DataFrame = {
    val ev = Tables.events(s, d)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
              unix_micros(col("ts")).as("click_us"))
    val wins = ev.filter(col("event_type") === "view")
      .select(col("event_id").as("imp_id"), col("user_id").as("i_user"),
              unix_micros(col("ts")).as("win_start_us"),
              (unix_micros(col("ts")) + lit(3600L * 1000000L)).as("win_end_us"))
    interval(clicks, wins, "c_user", "i_user", "click_us", "win_start_us", "win_end_us")
  }

  /** q262's attribution rows from a [[clicksInViewWindows]] join: the
    * output of q332 and q339.
    */
  private def attributionRows(joined: DataFrame): DataFrame =
    joined
      .select(col("c_user").as("user_id"), col("imp_id"), col("click_id"),
              // datediff('second') = difference of FLOORED epoch
              // seconds (not a floored difference) — q262's parity
              (floor(col("click_us") / lit(1000000L)) -
               floor(col("win_start_us") / lit(1000000L)))
                .cast("long").as("lag_sec"))
      .orderBy("user_id", "imp_id", "click_id")

  override protected val entries: Vector[(String, (SparkSession, String) => DataFrame, Option[String])] = Vector(
    ("q29_session_window", (s, d) => {
      Tables.events(s, d)
        .groupBy(col("user_id"), session_window(col("ts"), s"$gapMinutes minutes"))
        .agg(count(lit(1)).as("n_events"), round(sum("value"), 2).as("sum_value"))
        .select(col("user_id"),
                col("session_window.start").as("session_start"),
                col("session_window.end").as("session_end"),
                col("n_events"), col("sum_value"))
        .orderBy("user_id", "session_start")
    }, Some(oracle)),
    ("q30_sessionize_stateful", (s, d) => {
      import s.implicits._
      val ev = Tables.events(s, d)
        .select(col("user_id"), col("ts"), col("value"))
        .as[Sessionize.Event]
      Sessionize.sessionsBatch(ev, gapMs).toDF()
        .withColumn("sum_value", round(col("sum_value"), 2))
        .orderBy("user_id", "session_start")
    }, Some(oracle)),
    ("q60_asof_join", (s, d) => {
      val ev = Tables.events(s, d)
      // one view per (user_id, ts): keep max event_id so ties are deterministic
      val views = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id"), col("ts")).agg(max("event_id").as("view_id"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id").as("click_id"), col("value"))
      // union+window as-of: views sort before clicks at equal ts, so a
      // same-instant view is matched ("at or before"); last(ignoreNulls)
      // carries the most recent view forward within each user.
      val u = views.select(col("user_id"), col("ts"), lit(0).as("side"),
            col("view_id"), lit(null).cast("long").as("click_id"),
            lit(null).cast("double").as("value"))
        .unionByName(clicks.select(col("user_id"), col("ts"), lit(1).as("side"),
            lit(null).cast("long").as("view_id"), col("click_id"), col("value")))
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("side"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      u.withColumn("asof_view_id", last(col("view_id"), ignoreNulls = true).over(w))
        .withColumn("asof_view_ts",
          last(when(col("view_id").isNotNull, col("ts")), ignoreNulls = true).over(w))
        .filter(col("side") === 1)
        .select(col("click_id"), col("user_id"), col("ts").as("click_ts"), col("value"),
                col("asof_view_id").as("view_id"), col("asof_view_ts").as("view_ts"))
        .orderBy("click_id")
    }, Some("""
      WITH v AS (
        SELECT user_id, ts::TIMESTAMP AS ts, max(event_id) AS view_id
        FROM events WHERE event_type = 'view' GROUP BY 1, 2
      ),
      c AS (
        SELECT user_id, ts::TIMESTAMP AS ts, event_id AS click_id, value
        FROM events WHERE event_type = 'click'
      )
      SELECT c.click_id, c.user_id, c.ts AS click_ts, c.value,
             v.view_id, v.ts AS view_ts
      FROM c ASOF LEFT JOIN v ON c.user_id = v.user_id AND c.ts >= v.ts
      ORDER BY click_id
    """)),
    ("q75_interval_join", (s, d) => {
      val binMicros = windowMinutes * 60L * 1000000L
      val ev = Tables.events(s, d)
      // each error opens a [ts, ts+5min) incident window; explode to
      // its (≤2, distinct) covered time bins — the blocking key
      val windows = ev.filter(col("event_type") === "error")
        .select(col("event_id").as("err_id"), col("ts").as("err_ts"))
        .withColumn("bin", explode(expr(
          s"array_distinct(array(unix_micros(err_ts) DIV $binMicros," +
          s" (unix_micros(err_ts) + $binMicros - 1) DIV $binMicros))")))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
        .withColumn("bin", expr(s"unix_micros(ts) DIV $binMicros"))
      purchases.join(windows,
          purchases("bin") === windows("bin") &&
          col("ts") >= col("err_ts") &&
          col("ts") < col("err_ts") + expr(s"INTERVAL $windowMinutes MINUTES"),
          "left")
        .groupBy(col("event_id"), col("user_id"), col("ts").as("purchase_ts"))
        .agg(count(col("err_id")).as("n_overlapping_errors"))
        .orderBy("event_id")
    }, Some(s"""
      WITH p AS (SELECT event_id, user_id, ts::TIMESTAMP AS ts
                 FROM events WHERE event_type = 'purchase'),
      w AS (SELECT event_id AS err_id, ts::TIMESTAMP AS ts
            FROM events WHERE event_type = 'error')
      SELECT p.event_id, p.user_id, p.ts AS purchase_ts,
             count(w.err_id) AS n_overlapping_errors
      FROM p LEFT JOIN w
        ON p.ts >= w.ts AND p.ts < w.ts + INTERVAL $windowMinutes MINUTE
      GROUP BY p.event_id, p.user_id, p.ts
      ORDER BY p.event_id
    """)),
    // ---------------------------------------------------- session-scoped funnel (round 11)
    // q84's funnel counts steps inside a FIXED time window; product
    // analytics usually wants them inside a SESSION (30-min gap, the
    // q29/q30 boundary): view → later click → later purchase, ordered
    // within one session, each step strictly after the previous by
    // (ts, event_id). Sessions come from the gaps-and-islands pass
    // (per-user window — keyed, never global); each step is a
    // session-keyed argmin + join-back, so the chain is three keyed
    // aggregates at any scale. Output is the funnel ledger with
    // step-through rates.
    ("q251_session_funnel", (s, d) => {
      val gapUs = gapMs * 1000L
      val wU = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
      val ev = Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("event_type"),
                unix_micros(col("ts")).as("us"))
        .withColumn("new_s", when(lag(col("us"), 1).over(wU).isNull ||
          col("us") - lag(col("us"), 1).over(wU) >= gapUs, 1).otherwise(0))
        .withColumn("sid", sum("new_s").over(wU.rowsBetween(Window.unboundedPreceding, 0)))
        .graftCheckpoint() // all three step passes + the session count read it
      val key = Seq("user_id", "sid")
      val v1 = ev.filter(col("event_type") === "view")
        .groupBy(key.map(col): _*)
        .agg(min(struct(col("us"), col("event_id"))).as("t1"))
      val c2 = ev.filter(col("event_type") === "click")
        .join(v1, key)
        .filter(struct(col("us"), col("event_id")) > col("t1"))
        .groupBy(key.map(col): _*)
        .agg(min(struct(col("us"), col("event_id"))).as("t2"))
      val p3 = ev.filter(col("event_type") === "purchase")
        .join(c2, key)
        .filter(struct(col("us"), col("event_id")) > col("t2"))
        .groupBy(key.map(col): _*)
        .agg(count(lit(1)).as("np"))
      val nS = ev.select(key.map(col): _*).distinct().agg(count(lit(1)).as("n_sessions"))
      val nV = v1.agg(count(lit(1)).as("n_view"))
      val nC = c2.agg(count(lit(1)).as("n_view_click"))
      val nP = p3.agg(count(lit(1)).as("n_full_funnel"))
      nS.crossJoin(nV).crossJoin(nC).crossJoin(nP)
        .select(col("n_sessions"), col("n_view"), col("n_view_click"), col("n_full_funnel"),
          Quant.quant6(col("n_view") / col("n_sessions").cast("double")).as("view_rate"),
          Quant.quant6(col("n_view_click")
            / greatest(col("n_view"), lit(1L)).cast("double")).as("click_through"),
          Quant.quant6(col("n_full_funnel")
            / greatest(col("n_view_click"), lit(1L)).cast("double")).as("purchase_through"))
    }, Some(s"""
      WITH ev AS (
        SELECT user_id, event_id, event_type, epoch_us(ts::TIMESTAMP) AS us
        FROM events),
      st AS (
        SELECT *, CASE WHEN lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) IS NULL
                       OR us - lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id)
                          >= ${gapMs * 1000L}
                  THEN 1 ELSE 0 END AS new_s
        FROM ev),
      i AS (
        SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
                                   ROWS UNBOUNDED PRECEDING) AS sid
        FROM st),
      v1 AS (
        SELECT user_id, sid, us, event_id FROM i WHERE event_type = 'view'
        QUALIFY row_number() OVER (PARTITION BY user_id, sid ORDER BY us, event_id) = 1),
      c2 AS (
        SELECT i.user_id, i.sid, i.us, i.event_id
        FROM i JOIN v1 ON i.user_id = v1.user_id AND i.sid = v1.sid
        WHERE i.event_type = 'click'
          AND (i.us > v1.us OR (i.us = v1.us AND i.event_id > v1.event_id))
        QUALIFY row_number() OVER (PARTITION BY i.user_id, i.sid ORDER BY i.us, i.event_id) = 1),
      p3 AS (
        SELECT DISTINCT i.user_id, i.sid
        FROM i JOIN c2 ON i.user_id = c2.user_id AND i.sid = c2.sid
        WHERE i.event_type = 'purchase'
          AND (i.us > c2.us OR (i.us = c2.us AND i.event_id > c2.event_id))),
      a AS (SELECT
              (SELECT count(*) FROM (SELECT DISTINCT user_id, sid FROM i)) AS n_sessions,
              (SELECT count(*) FROM v1) AS n_view,
              (SELECT count(*) FROM c2) AS n_view_click,
              (SELECT count(*) FROM p3) AS n_full_funnel)
      SELECT n_sessions::BIGINT AS n_sessions, n_view::BIGINT AS n_view,
             n_view_click::BIGINT AS n_view_click, n_full_funnel::BIGINT AS n_full_funnel,
             floor(n_view / n_sessions::DOUBLE * 1000000.0 + 0.5) / 1000000.0 AS view_rate,
             floor(n_view_click / greatest(n_view, 1)::DOUBLE * 1000000.0 + 0.5) / 1000000.0
               AS click_through,
             floor(n_full_funnel / greatest(n_view_click, 1)::DOUBLE * 1000000.0 + 0.5) / 1000000.0
               AS purchase_through
      FROM a
    """)),

    // ------------------------------------------------------------ attribution join, batch twin (round 12)
    // The SAME `streaming.Attribution.attributed` body the stream-stream
    // join runs (watermarks are a no-op on batch inputs), judged
    // against a DuckDB range-join oracle — the batch↔streaming parity
    // discipline Sessionize/CooldownDedup established, applied to the
    // two-stream operator: a click attributes to every same-user view
    // within the 1 h horizon. lag_sec is a difference of floored epoch
    // seconds on both engines. Scale: an equi-key (user) hash join
    // with a time-range residual — per-user event lists are bounded by
    // activity, never corpus-sized.
    ("q262_attribution_join", (s, d) => {
      val ev = Tables.events(s, d)
      val imps = ev.filter(col("event_type") === "view")
        .select(col("event_id").as("imp_id"), col("user_id"), col("ts").as("imp_ts"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"), col("ts").as("click_ts"))
      graft.streaming.Attribution.attributed(imps, clicks, horizonSec = 3600L, delaySec = 300L)
        .select(col("user_id"), col("imp_id"), col("click_id"), col("lag_sec"))
        .orderBy("user_id", "imp_id", "click_id")
    }, Some(rangeJoinOracle)),

    // ------------------------------------------------------------ native physical as-of join (round 12)
    // q60's semantics through the engine's OWN physical operator:
    // graft.plans.AsOfJoinExec (custom LogicalPlan + SparkStrategy +
    // SparkPlan via SparkSessionExtensions — the C15 whole-operator
    // rung). The exec co-partitions both sides on the user key, sorts
    // (key, ts), and streams a single-pass merge with O(1) state —
    // no union materialization, no window carry buffer, no per-pair
    // candidate blow-up (Spark's own RewriteAsOfJoin would materialize
    // every in-horizon pair under a min_by). Oracle: DuckDB's native
    // ASOF LEFT JOIN — a fully independent implementation. PlanSpec
    // asserts the AsOfJoin node plans (no Window/Union in the plan).
    ("q264_native_asof_join",
      (s, d) => clicksAsOfViews(s, d)(graft.plans.AsOf.leftAsOf), Some(asOfOracle)),

    // ------------------------------------------------------------ broadcast-right as-of join (round 13)
    // q264's exact semantics through the engine's SECOND as-of physical
    // strategy: graft.plans.BroadcastAsOfJoinExec. The dominant 100 TB
    // shape is a fact side as-of-joining a dimension that fits in
    // memory (feature snapshots, SCD2 stamps); the merge exec (q264) is
    // correct there but shuffles AND sorts the fact side. This plan
    // requires NOTHING of the left child — the click scan flows
    // straight into the probe with zero exchange and zero sort
    // (PlanSpec/AsOfSpec assert it) — while the view dimension is
    // collected, sorted once on the driver into an AsOfIndexMode index
    // (HashedRelationBroadcastMode pattern) and broadcast; each task
    // probes at O(log |dim|) per row. At 1000 executors this removes
    // the fact-side exchange — the single biggest cost of q264's plan.
    ("q324_broadcast_asof_join",
      (s, d) => clicksAsOfViews(s, d)(graft.plans.AsOf.leftAsOfBroadcast), Some(asOfOracle)),

    // ------------------------------------------------------------ native physical interval join (round 13)
    // q262's EXACT relation through the engine's THIRD custom physical
    // operator: graft.plans.IntervalJoinExec. Spark plans the composed
    // form as an equi join on user with the time range as a post-join
    // residual — every (click, view) pair of a user materializes before
    // the residual drops it, O(clicks_u × views_u) per user. The native
    // exec declares sort-merge-join distribution/ordering and sweeps:
    // view windows enter an active min-heap (by window end) when their
    // start passes the click ts, leave when they expire, and each click
    // emits exactly its matches — O(evictions + output) per click,
    // state = max concurrent windows, not the relation. At 100 TB the
    // shuffles are identical to the SMJ the composed form pays; the
    // pair blow-up inside heavy users is what disappears.
    ("q332_native_interval_join",
      (s, d) => attributionRows(clicksInViewWindows(s, d)(graft.plans.IntervalJoin.innerInterval)),
      Some(rangeJoinOracle)),

    // ------------------------------------------------------------ left interval join, coverage audit (round 13)
    // The native operator's LEFT OUTER mode: clicks covered by NO view
    // window survive with a null right side — "which events fall in no
    // window", the coverage-audit shape behind SLA/attribution-gap
    // reporting. Per-user covered/uncovered click counts keep the
    // output integer-only (no NULL-ordering divergence between
    // engines). Oracle: DuckDB LEFT range join — an unmatched click is
    // exactly one null-extended row in both.
    ("q333_left_interval_coverage", (s, d) => {
      clicksInViewWindows(s, d)(graft.plans.IntervalJoin.leftInterval)
        // both rollups group on (subsets extending) c_user, which the
        // sweep's output is already partitioned by — ZERO further
        // exchanges (PlanSpec pins it), unlike a countDistinct pair
        // which would plan an Expand + distinct shuffle
        .groupBy(col("c_user"), col("click_id"))
        .agg(max(when(col("imp_id").isNotNull, 1).otherwise(0)).as("covered"),
             count(lit(1)).as("n_rows"))
        .groupBy(col("c_user"))
        .agg(sum(col("covered")).as("n_covered"),
             (count(lit(1)) - sum(col("covered"))).as("n_uncovered"),
             sum(col("n_rows")).as("n_pairs"))
        .select(col("c_user").as("user_id"), col("n_covered"),
                col("n_uncovered"), col("n_pairs"))
        .orderBy("user_id")
    }, Some("""
      WITH i AS (SELECT event_id AS imp_id, user_id, ts::TIMESTAMP AS imp_ts
                 FROM events WHERE event_type = 'view'),
      c AS (SELECT event_id AS click_id, user_id, ts::TIMESTAMP AS click_ts
            FROM events WHERE event_type = 'click')
      SELECT c.user_id,
             count(DISTINCT CASE WHEN i.imp_id IS NOT NULL THEN c.click_id END)::BIGINT AS n_covered,
             count(DISTINCT CASE WHEN i.imp_id IS NULL THEN c.click_id END)::BIGINT AS n_uncovered,
             count(*)::BIGINT AS n_pairs
      FROM c LEFT JOIN i
        ON c.user_id = i.user_id
        AND c.click_ts >= i.imp_ts
        AND c.click_ts <= i.imp_ts + INTERVAL 3600 SECOND
      GROUP BY c.user_id
      ORDER BY c.user_id
    """)),

    // ------------------------------------------------------------ salted as-of join (round 14)
    // q264's EXACT relation through the skew-hardened physical path
    // (VERDICT r13 item 3): AsOfJoinExec's ClusteredDistribution is
    // invisible to AQE's OptimizeSkewedJoin (which only rewrites
    // SMJ/SHJ), so a hot user key would serialize one task. leftAsOfSalted
    // clusters on (key, salt) — the left side salted by whole-row hash,
    // the right side replicated per salt, the merge grouping widened to
    // the pair — so the hot key's probes spread across 8 tasks while
    // each still sees the key's FULL view history. Sharing q264's
    // independent DuckDB ASOF oracle proves the salted plan computes
    // the identical relation; AsOfSpec measures the bounded per-task
    // input on a 100:1 skewed fixture.
    ("q338_salted_asof_join",
      (s, d) => clicksAsOfViews(s, d)(graft.plans.AsOf.leftAsOfSalted(_, _, _, _, _, _, 8)),
      Some(asOfOracle)),

    // ------------------------------------------------------------ salted interval join (round 14)
    // q332's exact relation through innerIntervalSalted — the sweep's
    // skew fallback: points salted, windows replicated per salt, the
    // active-heap grouping widened to (key, salt). Same independent
    // DuckDB range-join oracle as q332/q262; IntervalJoinSpec measures
    // the spread on the skewed fixture.
    ("q339_salted_interval_join",
      (s, d) => attributionRows(clicksInViewWindows(s, d)(
        graft.plans.IntervalJoin.innerIntervalSalted(_, _, _, _, _, _, _, 8))),
      Some(rangeJoinOracle)))
}
