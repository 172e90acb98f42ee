package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{QueryGroup, Tables}
import graft.Tables.GraftCheckpointOps
import graft.functions.TextFunctions.tokensSql

/** Data-quality and feature-engineering operators (round 7) — the
  * validation/statistics layer a production lake runs BETWEEN ingest
  * (the reference's entire surface) and training-data export:
  *
  *  - q139 constraint validation suite: dbt-test-style checks
  *    (referential integrity, key uniqueness, null/empty rates, value
  *    ranges) over multiple tables, one row per check. Each check is
  *    the cheapest plan of its kind: anti-joins for orphans (broadcast
  *    the DISTINCT parent keys — at 100 TB the parent-key set is the
  *    small side after distinct), a single-pass conditional aggregate
  *    for every same-table predicate, a keyed count>1 aggregate for
  *    uniqueness.
  *  - q140 change-point detection: best two-segment mean split of the
  *    per-day event series per type — argmax over split points of
  *    |mean_before − mean_after| via prefix sums. The series aggregate
  *    is the only data-sized pass; the split search runs on the
  *    |days|×|types| aggregate (~150 rows) through windows.
  *  - q141 Neyman allocation: optimal stratified-sample budget split
  *    n_h ∝ N_h·σ_h across sources — the statistically-grounded
  *    version of q65's fixed rates and q90's target mixture. One
  *    scan, per-source (N, σ) aggregates, 1-row total broadcast back.
  *  - q142 weight-of-evidence bins: per value-bin
  *    ln(good%/bad%) + information value, the classic credit-scoring
  *    feature transform (here: purchase vs non-purchase events over
  *    fixed value bins, +0.5 Laplace smoothing). One scan, one
  *    (bin)-keyed aggregate, window totals over ≤10 rows.
  */
object Quality extends QueryGroup {

  // ---- shared ridge-probe machinery (q199 fit, q208 conformal) ----

  /** Doc features for the ridge probe: x1 = log char length, x2 =
    * punctuation density, x3 = type-token ratio, y = log token count.
    * One projection over the documents scan.
    */
  private def ridgeFeatures(s: SparkSession, d: String): DataFrame = {
    import graft.functions.TextFunctions.tokens
    val lower = org.apache.spark.sql.functions.lower(col("text"))
    val toks = tokens(col("text"))
    Tables.fanOut(Tables.documents(s, d))
      .filter(size(tokens(col("text"))) > 0)
      .select(col("doc_id"),
        log(lit(1.0) + length(col("text"))).as("x1"),
        (length(regexp_replace(lower, "[a-z0-9 ]", "")).cast("double") /
          length(col("text"))).as("x2"),
        (size(array_distinct(toks)).cast("double") / size(toks)).as("x3"),
        log(lit(1.0) + size(toks)).as("y"))
  }

  /** Single-row ridge fit (λ=1) of y ~ x1+x2+x3 over `feats` via
    * sufficient statistics + closed-form Cramer solve. Output columns:
    * n, s1..s3, sy, b1..b3, syy_c, beta1..beta3 (see q199's rationale —
    * this IS the scalable fixed-dimension fit: one pass, O(d²) comms).
    */
  private def ridgeFit(feats: DataFrame): DataFrame = {
    val lam = 1.0
    feats.agg(
        count(lit(1)).cast("double").as("n"),
        sum("x1").as("s1"), sum("x2").as("s2"), sum("x3").as("s3"), sum("y").as("sy"),
        sum(col("x1") * col("x1")).as("s11"), sum(col("x1") * col("x2")).as("s12"),
        sum(col("x1") * col("x3")).as("s13"), sum(col("x2") * col("x2")).as("s22"),
        sum(col("x2") * col("x3")).as("s23"), sum(col("x3") * col("x3")).as("s33"),
        sum(col("x1") * col("y")).as("s1y"), sum(col("x2") * col("y")).as("s2y"),
        sum(col("x3") * col("y")).as("s3y"), sum(col("y") * col("y")).as("syy"))
      .select(col("*"),
        (col("s11") - col("s1") * col("s1") / col("n") + lam).as("a11"),
        (col("s12") - col("s1") * col("s2") / col("n")).as("a12"),
        (col("s13") - col("s1") * col("s3") / col("n")).as("a13"),
        (col("s22") - col("s2") * col("s2") / col("n") + lam).as("a22"),
        (col("s23") - col("s2") * col("s3") / col("n")).as("a23"),
        (col("s33") - col("s3") * col("s3") / col("n") + lam).as("a33"),
        (col("s1y") - col("s1") * col("sy") / col("n")).as("b1"),
        (col("s2y") - col("s2") * col("sy") / col("n")).as("b2"),
        (col("s3y") - col("s3") * col("sy") / col("n")).as("b3"),
        (col("syy") - col("sy") * col("sy") / col("n")).as("syy_c"))
      .select(col("*"),
        (col("a11") * (col("a22") * col("a33") - col("a23") * col("a23"))
          - col("a12") * (col("a12") * col("a33") - col("a23") * col("a13"))
          + col("a13") * (col("a12") * col("a23") - col("a22") * col("a13"))).as("det"))
      .select(col("*"),
        ((col("b1") * (col("a22") * col("a33") - col("a23") * col("a23"))
          - col("a12") * (col("b2") * col("a33") - col("a23") * col("b3"))
          + col("a13") * (col("b2") * col("a23") - col("a22") * col("b3"))) / col("det")).as("beta1"),
        ((col("a11") * (col("b2") * col("a33") - col("b3") * col("a23"))
          - col("b1") * (col("a12") * col("a33") - col("a23") * col("a13"))
          + col("a13") * (col("a12") * col("b3") - col("b2") * col("a13"))) / col("det")).as("beta2"),
        ((col("a11") * (col("a22") * col("b3") - col("a23") * col("b2"))
          - col("a12") * (col("a12") * col("b3") - col("b2") * col("a13"))
          + col("b1") * (col("a12") * col("a23") - col("a22") * col("a13"))) / col("det")).as("beta3"))
      .select(col("*"),
        ((col("sy") - col("beta1") * col("s1") - col("beta2") * col("s2")
          - col("beta3") * col("s3")) / col("n")).as("intercept"))
  }

  /** DuckDB mirror of [[ridgeFeatures]] (+ doc_id) → `feats` CTE body,
    * and of [[ridgeFit]] → the sums/c/dt/beta CTE chain over a
    * `feats`-shaped relation named by `src`. Shared by q199/q208 so
    * the two oracles can never drift apart.
    */
  private val ridgeFeatsSql: String = s"""
        SELECT doc_id,
               ln(1.0 + length(text)) AS x1,
               length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g'))::DOUBLE
                 / length(text) AS x2,
               len(list_distinct($tokensSql))::DOUBLE / len($tokensSql) AS x3,
               ln(1.0 + len($tokensSql)) AS y
        FROM documents
        WHERE len($tokensSql) > 0"""

  private def ridgeFitSql(src: String): String = s"""
      sums AS (
        SELECT count(*)::DOUBLE AS n,
               sum(x1) AS s1, sum(x2) AS s2, sum(x3) AS s3, sum(y) AS sy,
               sum(x1*x1) AS s11, sum(x1*x2) AS s12, sum(x1*x3) AS s13,
               sum(x2*x2) AS s22, sum(x2*x3) AS s23, sum(x3*x3) AS s33,
               sum(x1*y) AS s1y, sum(x2*y) AS s2y, sum(x3*y) AS s3y,
               sum(y*y) AS syy
        FROM $src),
      c AS (
        SELECT *,
               s11 - s1*s1/n + 1.0 AS a11, s12 - s1*s2/n AS a12, s13 - s1*s3/n AS a13,
               s22 - s2*s2/n + 1.0 AS a22, s23 - s2*s3/n AS a23, s33 - s3*s3/n + 1.0 AS a33,
               s1y - s1*sy/n AS b1, s2y - s2*sy/n AS b2, s3y - s3*sy/n AS b3,
               syy - sy*sy/n AS syy_c
        FROM sums),
      dt AS (
        SELECT *,
               a11*(a22*a33 - a23*a23) - a12*(a12*a33 - a23*a13)
                 + a13*(a12*a23 - a22*a13) AS det
        FROM c),
      beta AS (
        SELECT *,
               (b1*(a22*a33 - a23*a23) - a12*(b2*a33 - a23*b3)
                 + a13*(b2*a23 - a22*b3)) / det AS beta1,
               (a11*(b2*a33 - b3*a23) - b1*(a12*a33 - a23*a13)
                 + a13*(a12*b3 - b2*a13)) / det AS beta2,
               (a11*(a22*b3 - a23*b2) - a12*(a12*b3 - b2*a13)
                 + b1*(a12*a23 - a22*a13)) / det AS beta3
        FROM dt),
      fit AS (
        SELECT *, (sy - beta1*s1 - beta2*s2 - beta3*s3) / n AS intercept
        FROM beta)"""

  override protected val entries: Vector[(String, (SparkSession, String) => DataFrame, Option[String])] = Vector(

    ("q139_data_quality_checks", (s, d) => {
      val orders = Tables.orders(s, d); val li = Tables.lineitem(s, d)
      val cust = Tables.customer(s, d); val docs = Tables.documents(s, d)
      val ev = Tables.events(s, d)
      def check(name: String, df: DataFrame): DataFrame =
        df.select(lit(name).as("check_name"), col("n_violations"))
      val orphanOrders = orders.join(cust.select("c_custkey").distinct(),
          orders("o_custkey") === cust("c_custkey"), "left_anti")
        .agg(count(lit(1)).as("n_violations"))
      val orphanLines = li.join(orders.select("o_orderkey").distinct(),
          li("l_orderkey") === orders("o_orderkey"), "left_anti")
        .agg(count(lit(1)).as("n_violations"))
      val dupKeys = orders.groupBy("o_orderkey").agg(count(lit(1)).as("n"))
        .filter(col("n") > 1).agg(count(lit(1)).as("n_violations"))
      val emptyDocs = docs.agg(sum(when(col("text").isNull || length(trim(col("text"))) === 0, 1L)
        .otherwise(0L)).as("n_violations"))
      val badQty = li.agg(sum(when(col("l_quantity") <= 0 || col("l_quantity") > 50, 1L)
        .otherwise(0L)).as("n_violations"))
      val badValue = ev.agg(sum(when(col("value") <= 0.0, 1L).otherwise(0L)).as("n_violations"))
      check("orders_customer_fk", orphanOrders)
        .unionByName(check("lineitem_orders_fk", orphanLines))
        .unionByName(check("orders_key_unique", dupKeys))
        .unionByName(check("documents_nonempty", emptyDocs))
        .unionByName(check("lineitem_qty_range", badQty))
        .unionByName(check("events_value_positive", badValue))
        .orderBy("check_name")
    }, Some("""
      SELECT 'orders_customer_fk' AS check_name,
             (SELECT count(*) FROM orders o WHERE NOT EXISTS
               (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)) AS n_violations
      UNION ALL SELECT 'lineitem_orders_fk',
             (SELECT count(*) FROM lineitem l WHERE NOT EXISTS
               (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
      UNION ALL SELECT 'orders_key_unique',
             (SELECT count(*) FROM (SELECT o_orderkey FROM orders
                                    GROUP BY o_orderkey HAVING count(*) > 1) t)
      UNION ALL SELECT 'documents_nonempty',
             (SELECT count(*) FILTER (text IS NULL OR length(trim(text)) = 0) FROM documents)
      UNION ALL SELECT 'lineitem_qty_range',
             (SELECT count(*) FILTER (l_quantity <= 0 OR l_quantity > 50) FROM lineitem)
      UNION ALL SELECT 'events_value_positive',
             (SELECT count(*) FILTER (value <= 0.0) FROM events)
      ORDER BY check_name
    """)),

    ("q140_changepoint", (s, d) => {
      // per-day counts → prefix sums → two-segment means per split
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
      val wCum = Window.partitionBy("event_type").orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.partitionBy("event_type")
      val wPick = Window.partitionBy("event_type").orderBy(col("diff").desc, col("day"))
      daily
        .withColumn("i", row_number().over(Window.partitionBy("event_type").orderBy("day")))
        .withColumn("cum", sum("n").over(wCum))
        .withColumn("total", sum("n").over(wAll))
        .withColumn("days", count(lit(1)).over(wAll))
        .filter(col("i") < col("days")) // split AFTER day i needs a non-empty right segment
        .withColumn("mean_before", col("cum").cast("double") / col("i"))
        .withColumn("mean_after",
          (col("total") - col("cum")).cast("double") / (col("days") - col("i")))
        .withColumn("diff", abs(col("mean_before") - col("mean_after")))
        .withColumn("rk", row_number().over(wPick))
        .filter(col("rk") === 1)
        .select(col("event_type"), col("day").as("split_day"),
          round(col("mean_before"), 6).as("mean_before"),
          round(col("mean_after"), 6).as("mean_after"),
          round(col("diff"), 6).as("diff"))
        .orderBy("event_type")
    }, Some("""
      WITH daily AS (
        SELECT event_type, ts::TIMESTAMP::DATE AS day, count(*) AS n
        FROM events GROUP BY 1, 2),
      pre AS (
        SELECT event_type, day,
               row_number() OVER (PARTITION BY event_type ORDER BY day) AS i,
               sum(n) OVER (PARTITION BY event_type ORDER BY day
                            ROWS UNBOUNDED PRECEDING) AS cum,
               sum(n) OVER (PARTITION BY event_type) AS total,
               count(*) OVER (PARTITION BY event_type) AS days
        FROM daily),
      scored AS (
        SELECT event_type, day,
               cum::DOUBLE / i AS mean_before,
               (total - cum)::DOUBLE / (days - i) AS mean_after,
               abs(cum::DOUBLE / i - (total - cum)::DOUBLE / (days - i)) AS diff
        FROM pre WHERE i < days),
      best AS (
        SELECT *, row_number() OVER (PARTITION BY event_type
                                     ORDER BY diff DESC, day) AS rk
        FROM scored)
      SELECT event_type, day AS split_day,
             round(mean_before, 6) AS mean_before,
             round(mean_after, 6) AS mean_after,
             round(diff, 6) AS diff
      FROM best WHERE rk = 1
      ORDER BY event_type
    """)),

    ("q141_neyman_allocation", (s, d) => {
      val budget = 1000L
      val strata = Tables.documents(s, d)
        .groupBy("source")
        .agg(count(lit(1)).as("n_h"), stddev_samp(col("n_chars").cast("double")).as("sigma"))
        .withColumn("weight", col("n_h") * col("sigma"))
      val tot = strata.agg(sum("weight").as("w_total"))
      strata.crossJoin(broadcast(tot))
        .select(col("source"), col("n_h"), round(col("sigma"), 6).as("sigma"),
          floor(lit(budget) * col("weight") / col("w_total")).cast("long").as("n_alloc"))
        .orderBy("source")
    }, Some("""
      WITH strata AS (
        SELECT source, count(*) AS n_h,
               stddev_samp(n_chars::DOUBLE) AS sigma,
               count(*) * stddev_samp(n_chars::DOUBLE) AS weight
        FROM documents GROUP BY source),
      tot AS (SELECT sum(weight) AS w_total FROM strata)
      SELECT source, n_h, round(sigma, 6) AS sigma,
             floor(1000 * weight / w_total)::BIGINT AS n_alloc
      FROM strata, tot
      ORDER BY source
    """)),

    ("q142_woe_bins", (s, d) => {
      val nBins = 10L; val binW = 50.0
      val wAll = Window.partitionBy(lit(1))
      Tables.events(s, d)
        .select(least(lit(nBins - 1), floor(col("value") / binW)).cast("long").as("bin"),
                (col("event_type") === "purchase").as("good"))
        .groupBy("bin")
        .agg(sum(when(col("good"), 1L).otherwise(0L)).as("n_good"),
             sum(when(!col("good"), 1L).otherwise(0L)).as("n_bad"))
        .withColumn("g_pct",
          (col("n_good") + 0.5) / (sum("n_good").over(wAll) + 0.5 * nBins))
        .withColumn("b_pct",
          (col("n_bad") + 0.5) / (sum("n_bad").over(wAll) + 0.5 * nBins))
        .withColumn("woe", round(log(col("g_pct") / col("b_pct")), 6))
        .withColumn("iv_term", round((col("g_pct") - col("b_pct")) *
          log(col("g_pct") / col("b_pct")), 6))
        .select("bin", "n_good", "n_bad", "woe", "iv_term")
        .orderBy("bin")
    }, Some("""
      WITH b AS (
        SELECT least(9, floor(value / 50))::BIGINT AS bin,
               count(*) FILTER (event_type = 'purchase') AS n_good,
               count(*) FILTER (event_type <> 'purchase') AS n_bad
        FROM events GROUP BY 1),
      p AS (
        SELECT bin, n_good, n_bad,
               (n_good + 0.5) / (sum(n_good) OVER () + 0.5 * 10) AS g_pct,
               (n_bad + 0.5) / (sum(n_bad) OVER () + 0.5 * 10) AS b_pct
        FROM b)
      SELECT bin, n_good, n_bad,
             round(ln(g_pct / b_pct), 6) AS woe,
             round((g_pct - b_pct) * ln(g_pct / b_pct), 6) AS iv_term
      FROM p
      ORDER BY bin
    """)),

    // ------------------------------------------------------------ lag-1 autocorrelation (round 7)
    // Temporal self-similarity of each event series: Pearson
    // correlation of the per-day count with its previous-day value —
    // the first ACF coefficient, the standard "is this series
    // momentum-driven or noise" diagnostic (and the statistical
    // companion to q140's change-point: q140 finds the level shift,
    // this measures persistence). The daily aggregate is the only
    // data-sized pass; lag + corr run over ≤|days| rows per type.
    ("q143_autocorrelation", (s, d) => {
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy("event_type").orderBy("day")
      daily
        .withColumn("prev", lag("n", 1).over(w))
        .filter(col("prev").isNotNull)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_days"),
             round(corr(col("n").cast("double"), col("prev").cast("double")), 4).as("acf1"))
        .orderBy("event_type")
    }, Some("""
      WITH daily AS (
        SELECT event_type, ts::TIMESTAMP::DATE AS day, count(*) AS n
        FROM events GROUP BY 1, 2),
      lagged AS (
        SELECT event_type, n,
               lag(n) OVER (PARTITION BY event_type ORDER BY day) AS prev
        FROM daily)
      SELECT event_type, count(*) AS n_days,
             round(corr(n::DOUBLE, prev::DOUBLE), 4) AS acf1
      FROM lagged WHERE prev IS NOT NULL
      GROUP BY event_type
      ORDER BY event_type
    """)),

    // ------------------------------------------------------------ seasonality matrix (round 7)
    // Day-of-week × hour-of-day activity profile with per-row share
    // and peak flag — the load-shape report behind capacity planning
    // and anomaly baselines ("is Tuesday 3am traffic normal?"). ONE
    // scan into a ≤168-row aggregate; shares and peak ranks are
    // windows over that aggregate. Dow normalized to 0=Sunday on both
    // engines (Spark dayofweek is 1-based, DuckDB 0-based).
    ("q144_seasonality", (s, d) => {
      val wDow = Window.partitionBy("dow")
      val wPeak = Window.partitionBy("dow").orderBy(col("n").desc, col("hour"))
      Tables.events(s, d)
        .select((dayofweek(col("ts")) - 1).cast("long").as("dow"),
                hour(col("ts")).cast("long").as("hour"))
        .groupBy("dow", "hour")
        .agg(count(lit(1)).as("n"))
        .withColumn("share", round(col("n").cast("double") / sum("n").over(wDow), 6))
        .withColumn("is_peak", row_number().over(wPeak) === 1)
        .orderBy("dow", "hour")
    }, Some("""
      WITH m AS (
        SELECT dayofweek(ts::TIMESTAMP)::BIGINT AS dow,
               hour(ts::TIMESTAMP)::BIGINT AS hour, count(*) AS n
        FROM events GROUP BY 1, 2)
      SELECT dow, hour, n,
             round(n::DOUBLE / sum(n) OVER (PARTITION BY dow), 6) AS share,
             row_number() OVER (PARTITION BY dow ORDER BY n DESC, hour) = 1 AS is_peak
      FROM m
      ORDER BY dow, hour
    """)),

    // ------------------------------------------------------------ session path mining (round 7)
    // Top session-opening paths: sessionize each user's timeline by a
    // 30-minute inactivity gap (lag + running flag-sum — the
    // WINDOW-expressible sessionizer, unlike q136's recurrence), take
    // each session's first ≤3 event types in order, count path
    // strings corpus-wide. The "how do journeys start" report that
    // generalizes q83's single-transition counts to k-step prefixes.
    // One user-keyed shuffle does sessionize + rank; the path
    // aggregate keys on (user, session) then path — all bounded
    // state, no per-session iteration.
    ("q146_top_paths", (s, d) => {
      val gapUs = 30L * 60L * 1000000L
      val wUser = Window.partitionBy("user_id").orderBy(unix_micros(col("ts")), col("event_id"))
      val wSess = Window.partitionBy("user_id", "sess")
        .orderBy(unix_micros(col("ts")), col("event_id"))
      Tables.events(s, d)
        .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(wUser))
        .withColumn("new_sess",
          when(col("prev_us").isNull ||
               unix_micros(col("ts")) - col("prev_us") > gapUs, 1L).otherwise(0L))
        .withColumn("sess", sum("new_sess").over(wUser))
        .withColumn("rn", row_number().over(wSess))
        .filter(col("rn") <= 3)
        .groupBy("user_id", "sess")
        .agg(array_join(
          transform(array_sort(collect_list(struct(col("rn"), col("event_type")))),
            x => x("event_type")), ">").as("path"))
        .groupBy("path")
        .agg(count(lit(1)).as("n_sessions"))
        .orderBy(col("n_sessions").desc, col("path")).limit(10)
    }, Some("""
      WITH t AS (
        SELECT user_id, event_id, event_type, epoch_us(ts::TIMESTAMP) AS us,
               lag(epoch_us(ts::TIMESTAMP)) OVER
                 (PARTITION BY user_id ORDER BY epoch_us(ts::TIMESTAMP), event_id) AS prev_us
        FROM events),
      s AS (
        SELECT user_id, event_id, event_type, us,
               sum(CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000
                        THEN 1 ELSE 0 END) OVER
                 (PARTITION BY user_id ORDER BY us, event_id
                  ROWS UNBOUNDED PRECEDING) AS sess
        FROM t),
      r AS (
        SELECT user_id, sess, event_type,
               row_number() OVER (PARTITION BY user_id, sess ORDER BY us, event_id) AS rn
        FROM s),
      paths AS (
        SELECT user_id, sess, string_agg(event_type, '>' ORDER BY rn) AS path
        FROM r WHERE rn <= 3
        GROUP BY user_id, sess)
      SELECT path, count(*) AS n_sessions
      FROM paths
      GROUP BY path
      ORDER BY n_sessions DESC, path
      LIMIT 10
    """)),

    // ------------------------------------------------------------ winsorization (round 7)
    // Percentile clipping — the robust-preprocessing twin of q128's
    // outlier REPORT: clamp each value into [p01, p99] of its group
    // and emit before/after moments plus the clipped count, the
    // feature-scaling step that keeps a fat tail from dominating a
    // mean/σ-normalized model input. Exact percentile needs its own
    // sorted pass; the 5-row fence relation then BROADCASTS back onto
    // one clipping scan (never a shuffle of events by a stats key —
    // the q128 discipline). At 100 TB: approx_percentile fences, one
    // pass, same broadcast shape.
    ("q148_winsorize", (s, d) => {
      val ev = Tables.events(s, d).select("event_type", "value")
      val fences = ev.groupBy("event_type")
        .agg(expr("percentile(value, 0.01)").as("p01"),
             expr("percentile(value, 0.99)").as("p99"))
      ev.join(broadcast(fences), "event_type")
        .select(col("event_type"), col("value"), col("p01"), col("p99"),
          least(greatest(col("value"), col("p01")), col("p99")).as("clipped"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
             sum(when(col("value") < col("p01") || col("value") > col("p99"), 1L)
               .otherwise(0L)).as("n_clipped"),
             round(avg("value"), 6).as("mean_raw"),
             round(avg("clipped"), 6).as("mean_winsor"),
             round(stddev_samp(col("value")), 6).as("sd_raw"),
             round(stddev_samp(col("clipped")), 6).as("sd_winsor"))
        .orderBy("event_type")
    }, Some("""
      WITH fences AS (
        SELECT event_type, quantile_cont(value, 0.01) AS p01,
               quantile_cont(value, 0.99) AS p99
        FROM events GROUP BY event_type)
      SELECT e.event_type, count(*) AS n,
             count(*) FILTER (value < p01 OR value > p99) AS n_clipped,
             round(avg(value), 6) AS mean_raw,
             round(avg(least(greatest(value, p01), p99)), 6) AS mean_winsor,
             round(stddev_samp(value), 6) AS sd_raw,
             round(stddev_samp(least(greatest(value, p01), p99)), 6) AS sd_winsor
      FROM events e JOIN fences f USING (event_type)
      GROUP BY e.event_type
      ORDER BY e.event_type
    """)),

    // ------------------------------------------------------------ boilerplate prefix detection (round 7)
    // Per-source dominant document OPENING: the most common first-8-
    // token prefix and its share of the source's documents — the
    // boilerplate detector (crawled sources that template their pages
    // share an opening; a high top-prefix share says "strip headers
    // before training"). One tokenize scan into a (source, prefix)
    // aggregate; the argmax is a rank-1 window over the aggregate.
    // The flag threshold (share ≥ 5%) is the judged demo policy.
    ("q149_boilerplate_prefix", (s, d) => {
      import graft.functions.TextFunctions.tokens
      val wSrc = Window.partitionBy("source")
      val wTop = Window.partitionBy("source").orderBy(col("n").desc, col("prefix"))
      Tables.fanOut(Tables.documents(s, d))
        .select(col("source"),
          array_join(slice(tokens(col("text")), 1, 8), " ").as("prefix"))
        .groupBy("source", "prefix")
        .agg(count(lit(1)).as("n"))
        .withColumn("n_docs", sum("n").over(wSrc))
        .withColumn("rk", row_number().over(wTop))
        .filter(col("rk") === 1)
        .select(col("source"), col("prefix"), col("n").as("n_with_prefix"), col("n_docs"),
          round(col("n").cast("double") / col("n_docs"), 6).as("share"),
          (col("n").cast("double") / col("n_docs") >= 0.05).as("boilerplate_flag"))
        .orderBy("source")
    }, Some("""
      WITH p AS (
        SELECT source,
               array_to_string(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                                           t -> t <> '')[1:8], ' ') AS prefix
        FROM documents),
      agg AS (
        SELECT source, prefix, count(*) AS n,
               sum(count(*)) OVER (PARTITION BY source) AS n_docs
        FROM p GROUP BY source, prefix),
      top AS (
        SELECT *, row_number() OVER (PARTITION BY source ORDER BY n DESC, prefix) AS rk
        FROM agg)
      SELECT source, prefix, n AS n_with_prefix, n_docs::BIGINT AS n_docs,
             round(n::DOUBLE / n_docs, 6) AS share,
             n::DOUBLE / n_docs >= 0.05 AS boilerplate_flag
      FROM top WHERE rk = 1
      ORDER BY source
    """)),

    // ------------------------------------------------------------ cross-domain enrichment (round 7)
    // The one query that joins the EVENT world to the STAR-SCHEMA
    // world: events.user_id resolves against customer.c_custkey
    // (broadcast dim — the q07 discipline), rolled up per market
    // segment: activity, distinct actors, purchase revenue, and
    // purchaser share. The "customer 360" shape every warehouse
    // runs — behavioral facts enriched by a dimension, proving the
    // engine's relational and event operators compose. Distinct
    // users per segment uses the q86 trick (collect once per user
    // via a user-keyed pre-aggregate) — no count-distinct Expand on
    // the big side.
    ("q150_segment_engagement", (s, d) => {
      val cust = Tables.customer(s, d).select(col("c_custkey"), col("c_mktsegment"))
      val perUser = Tables.events(s, d)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
             sum(when(col("event_type") === "purchase", col("value"))).as("purchase_value"),
             max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("is_purchaser"))
      perUser.join(broadcast(cust), perUser("user_id") === cust("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(sum("n_events").as("n_events"),
             count(lit(1)).as("n_users"),
             sum("is_purchaser").as("n_purchasers"),
             round(sum(coalesce(col("purchase_value"), lit(0.0))), 2).as("revenue"))
        .withColumn("purchaser_share",
          round(col("n_purchasers").cast("double") / col("n_users"), 6))
        .orderBy("c_mktsegment")
    }, Some("""
      WITH per_user AS (
        SELECT user_id, count(*) AS n_events,
               sum(value) FILTER (event_type = 'purchase') AS purchase_value,
               max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS is_purchaser
        FROM events GROUP BY user_id)
      SELECT c.c_mktsegment, sum(u.n_events)::BIGINT AS n_events,
             count(*) AS n_users,
             sum(u.is_purchaser)::BIGINT AS n_purchasers,
             round(sum(coalesce(u.purchase_value, 0.0)), 2) AS revenue,
             round(sum(u.is_purchaser)::DOUBLE / count(*), 6) AS purchaser_share
      FROM per_user u JOIN customer c ON u.user_id = c.c_custkey
      GROUP BY c.c_mktsegment
      ORDER BY c.c_mktsegment
    """)),

    // ------------------------------------------------------------ Poisson bootstrap CI (round 7)
    // Distributed bootstrap confidence interval for the per-type mean
    // value — the Poisson bootstrap (each row independently drawn
    // Poisson(1) times per resample) is THE distributed form: unlike
    // classic resampling it needs no global n-draw, so each of the
    // B=100 resample means is a plain weighted aggregate computed
    // map-side in one pass over the exploded (row × b) relation.
    // Weights are deterministic — a two-round multiplicative integer
    // hash of (event_id, b) mapped through the Poisson(1) CDF:
    // P(0)=.368, P(1)=.368, P(2)=.184, P(3)=.061, P(4)=.019 — so both
    // engines draw IDENTICAL resamples and the CI hash-matches.
    // Integer mixing, NOT the md5 portable hash: the hash runs B×|rows|
    // times (10M at sf0.1) and md5-of-string there measured 8.3 s vs
    // ~1 s for two multiply-mods; every intermediate stays < 2^53 so
    // long arithmetic is exact on both engines. Cost is B× the scan —
    // at 100 TB you bootstrap a stratified sample or cut B; the plan
    // shape (explode → map-side partial agg, no shuffle wider than
    // |types|·B rows) is the part that scales.
    ("q151_bootstrap_ci", (s, d) => {
      val B = 100
      val ev = Tables.events(s, d).select("event_id", "event_type", "value")
      val draws = ev
        .select(col("event_type"), col("value"), col("event_id"),
          explode(sequence(lit(0), lit(B - 1))).as("b"))
        .withColumn("h",
          expr("(((event_id * 2654435761) % 4294967296 + b) * 40503) % 4294967296 DIV 1024 % 1000"))
        .withColumn("k",
          when(col("h") < 368, 0L).when(col("h") < 736, 1L)
            .when(col("h") < 920, 2L).when(col("h") < 981, 3L).otherwise(4L))
      val means = draws.groupBy("event_type", "b")
        .agg((sum(col("k") * col("value")) / sum("k")).as("mean_b"))
      val point = ev.groupBy("event_type")
        .agg(count(lit(1)).as("n"), round(avg("value"), 6).as("mean"))
      means.groupBy("event_type")
        .agg(count(lit(1)).as("n_resamples"),
             round(expr("percentile(mean_b, 0.025)"), 6).as("ci_lo"),
             round(expr("percentile(mean_b, 0.975)"), 6).as("ci_hi"))
        .join(broadcast(point), "event_type")
        .select("event_type", "n", "mean", "n_resamples", "ci_lo", "ci_hi")
        .orderBy("event_type")
    }, Some("""
      WITH draws AS (
        SELECT event_type, value, b,
               (((event_id * 2654435761) % 4294967296 + b) * 40503) % 4294967296 // 1024 % 1000 AS h
        FROM events, (SELECT unnest(range(0, 100)) AS b)),
      weighted AS (
        SELECT event_type, b,
               CASE WHEN h < 368 THEN 0 WHEN h < 736 THEN 1 WHEN h < 920 THEN 2
                    WHEN h < 981 THEN 3 ELSE 4 END AS k, value
        FROM draws),
      means AS (
        SELECT event_type, b, sum(k * value) / sum(k) AS mean_b
        FROM weighted GROUP BY event_type, b),
      point AS (
        SELECT event_type, count(*) AS n, round(avg(value), 6) AS mean
        FROM events GROUP BY event_type)
      SELECT m.event_type, p.n, p.mean, count(*) AS n_resamples,
             round(quantile_cont(m.mean_b, 0.025), 6) AS ci_lo,
             round(quantile_cont(m.mean_b, 0.975), 6) AS ci_hi
      FROM means m JOIN point p USING (event_type)
      GROUP BY m.event_type, p.n, p.mean
      ORDER BY m.event_type
    """)),

    // ------------------------------------------------------------ RFM segmentation (round 7)
    // Recency/Frequency/Monetary quintile scoring of purchasers — the
    // classic CRM segmentation (and a second consumer of q150's
    // event→dimension bridge): days since last purchase, purchase
    // count, purchase value, each ntile(5)-scored (1 = best) with
    // deterministic tie-breaks, concatenated into the familiar "111"
    // … "555" segment codes. The unpartitioned ntile windows are a
    // global sort of the PER-USER aggregate (not the events) — at
    // 100 TB the same scores come from approx_percentile quintile
    // fences (one pass, no sort); ntile is judged here because the
    // oracle replays it exactly. Monetary rounded to cents BEFORE
    // ranking so cross-engine float summation order can't flip
    // near-tied quintile boundaries.
    ("q152_rfm_segmentation", (s, d) => {
      val maxDay = Tables.events(s, d).agg(max(to_date(col("ts"))).as("max_day"))
      val rfm = Tables.events(s, d)
        .filter(col("event_type") === "purchase")
        .groupBy("user_id")
        .agg(max(to_date(col("ts"))).as("last_day"),
             count(lit(1)).as("frequency"),
             round(sum("value"), 2).as("monetary"))
        .crossJoin(broadcast(maxDay))
        .withColumn("recency_days", datediff(col("max_day"), col("last_day")).cast("long"))
      rfm
        .withColumn("r", ntile(5).over(Window.orderBy(col("recency_days"), col("user_id"))).cast("long"))
        .withColumn("f", ntile(5).over(Window.orderBy(col("frequency").desc, col("user_id"))).cast("long"))
        .withColumn("m", ntile(5).over(Window.orderBy(col("monetary").desc, col("user_id"))).cast("long"))
        .select(col("user_id"), col("recency_days"), col("frequency"), col("monetary"),
          col("r"), col("f"), col("m"),
          concat(col("r"), col("f"), col("m")).as("segment"))
        .orderBy("user_id")
    }, Some("""
      WITH maxd AS (SELECT max(ts::TIMESTAMP::DATE) AS max_day FROM events),
      rfm AS (
        SELECT user_id, max(ts::TIMESTAMP::DATE) AS last_day,
               count(*) AS frequency, round(sum(value), 2) AS monetary
        FROM events WHERE event_type = 'purchase'
        GROUP BY user_id),
      scored AS (
        SELECT user_id,
               datediff('day', last_day, max_day)::BIGINT AS recency_days,
               frequency, monetary,
               ntile(5) OVER (ORDER BY datediff('day', last_day, max_day), user_id)::BIGINT AS r,
               ntile(5) OVER (ORDER BY frequency DESC, user_id)::BIGINT AS f,
               ntile(5) OVER (ORDER BY monetary DESC, user_id)::BIGINT AS m
        FROM rfm, maxd)
      SELECT user_id, recency_days, frequency, monetary, r, f, m,
             r::VARCHAR || f::VARCHAR || m::VARCHAR AS segment
      FROM scored
      ORDER BY user_id
    """)),

    // ------------------------------------------------------------ time-bound funnel (round 7)
    // q84's funnel with REAL conversion windows: a purchase counts
    // only if preceded by a click within 24 h, and that click only if
    // preceded by a view within 1 h — the attribution-grade funnel
    // (q84's strict v<c<p ordering has no time bounds, so a January
    // view "converts" a December purchase). Two IGNORE-NULLS
    // last_value passes over the SAME user-ordered window (one
    // shuffle, one sort): pass 1 stamps each click with its last
    // view; pass 2 stamps each purchase with its last QUALIFIED
    // click. The windowed recurrence stays one-directional, so no
    // self-joins and no per-stage re-scans.
    ("q154_windowed_funnel", (s, d) => {
      val w = Window.partitionBy("user_id")
        .orderBy(unix_micros(col("ts")), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val hourUs = 3600L * 1000000L; val dayUs = 24L * hourUs
      Tables.events(s, d)
        .withColumn("us", unix_micros(col("ts")))
        .withColumn("last_view_us",
          last(when(col("event_type") === "view", unix_micros(col("ts"))), ignoreNulls = true).over(w))
        .withColumn("qual_click_us",
          when(col("event_type") === "click" &&
               col("us") - col("last_view_us") <= hourUs, col("us")))
        .withColumn("last_qc_us", last(col("qual_click_us"), ignoreNulls = true).over(w))
        .filter(col("event_type") === "purchase")
        .agg(count(lit(1)).as("n_purchases"),
             sum(when(col("last_qc_us").isNotNull &&
                      col("us") - col("last_qc_us") <= dayUs, 1L).otherwise(0L))
               .as("full_chain_conversions"))
        .withColumn("conversion_rate",
          round(col("full_chain_conversions").cast("double") / col("n_purchases"), 6))
    }, Some("""
      WITH t AS (
        SELECT user_id, event_id, event_type, epoch_us(ts::TIMESTAMP) AS us,
               last_value(CASE WHEN event_type = 'view'
                               THEN epoch_us(ts::TIMESTAMP) END IGNORE NULLS)
                 OVER (PARTITION BY user_id ORDER BY epoch_us(ts::TIMESTAMP), event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_view_us
        FROM events),
      q AS (
        SELECT *, CASE WHEN event_type = 'click' AND us - last_view_us <= 3600000000
                       THEN us END AS qual_click_us
        FROM t),
      f AS (
        SELECT *, last_value(qual_click_us IGNORE NULLS)
                 OVER (PARTITION BY user_id ORDER BY us, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_qc_us
        FROM q)
      SELECT count(*) AS n_purchases,
             count(*) FILTER (last_qc_us IS NOT NULL AND us - last_qc_us <= 86400000000)
               AS full_chain_conversions,
             round(count(*) FILTER (last_qc_us IS NOT NULL AND us - last_qc_us <= 86400000000)::DOUBLE
                   / count(*), 6) AS conversion_rate
      FROM f WHERE event_type = 'purchase'
    """)),

    // ------------------------------------------------------------ Welch's t-test (round 7)
    // Two-sample hypothesis test (unequal variances) between purchase
    // and error event values: t = (m₁−m₂)/√(s₁²/n₁+s₂²/n₂) with the
    // Welch–Satterthwaite df — the experiment-analysis primitive
    // behind every A/B readout, computed entirely from ONE pass of
    // per-group moments (n, mean, var are mergeable — map-side
    // partials, a 2-row aggregate, arithmetic on the driver-free
    // 1-row join). The statistic is reported, not a p-value (the t
    // CDF is a special function; production readouts compare |t|
    // against the 1.96/2.58 thresholds, which is a plain filter).
    ("q156_welch_ttest", (s, d) => {
      val g = Tables.events(s, d)
        .filter(col("event_type").isin("purchase", "error"))
        .groupBy("event_type")
        .agg(count(lit(1)).cast("double").as("n"),
             avg("value").as("m"), var_samp(col("value")).as("s2"))
      val a = g.filter(col("event_type") === "purchase")
        .select(col("n").as("n1"), col("m").as("m1"), col("s2").as("s21"))
      val b = g.filter(col("event_type") === "error")
        .select(col("n").as("n2"), col("m").as("m2"), col("s2").as("s22"))
      a.crossJoin(broadcast(b))
        .withColumn("se2", col("s21") / col("n1") + col("s22") / col("n2"))
        .select(
          col("n1").cast("long").as("n_purchase"), col("n2").cast("long").as("n_error"),
          round(col("m1"), 6).as("mean_purchase"), round(col("m2"), 6).as("mean_error"),
          round((col("m1") - col("m2")) / sqrt(col("se2")), 4).as("t_stat"),
          round(pow(col("se2"), 2) /
            (pow(col("s21") / col("n1"), 2) / (col("n1") - 1) +
             pow(col("s22") / col("n2"), 2) / (col("n2") - 1)), 2).as("welch_df"),
          (abs((col("m1") - col("m2")) / sqrt(col("se2"))) > 1.96).as("significant_05"))
    }, Some("""
      WITH g AS (
        SELECT event_type, count(*)::DOUBLE AS n, avg(value) AS m, var_samp(value) AS s2
        FROM events WHERE event_type IN ('purchase', 'error')
        GROUP BY event_type),
      a AS (SELECT n AS n1, m AS m1, s2 AS s21 FROM g WHERE event_type = 'purchase'),
      b AS (SELECT n AS n2, m AS m2, s2 AS s22 FROM g WHERE event_type = 'error'),
      j AS (SELECT *, s21 / n1 + s22 / n2 AS se2 FROM a, b)
      SELECT n1::BIGINT AS n_purchase, n2::BIGINT AS n_error,
             round(m1, 6) AS mean_purchase, round(m2, 6) AS mean_error,
             round((m1 - m2) / sqrt(se2), 4) AS t_stat,
             round(pow(se2, 2) / (pow(s21 / n1, 2) / (n1 - 1) + pow(s22 / n2, 2) / (n2 - 1)), 2) AS welch_df,
             abs((m1 - m2) / sqrt(se2)) > 1.96 AS significant_05
      FROM j
    """)),

    // ------------------------------------------------------------ Kolmogorov–Smirnov statistic (round 7)
    // Two-sample KS between the purchase and click value
    // distributions: D = max over the observed support of
    // |F̂₁(x) − F̂₂(x)| — the nonparametric "are these the same
    // distribution" test PSI (q126) approximates with bins; KS is
    // bin-free. Plan: ONE scan into per-distinct-value counts, a
    // running-sum window over the |support| relation turns counts
    // into ECDFs, one more pass takes the argmax (diff DESC, value
    // tie-break). The unpartitioned window is a single sort of the
    // DISTINCT support — the honest cost of the exact statistic; at
    // 100 TB you bucket the support (the PSI regime) or sample, and
    // the ECDF diffs are exact integer ratios so both engines agree
    // bit-for-bit before the final rounding.
    ("q157_ks_statistic", (s, d) => {
      val byVal = Tables.events(s, d)
        .filter(col("event_type").isin("purchase", "click"))
        .groupBy("value")
        .agg(sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("ca"),
             sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("cb"))
      val wCum = Window.orderBy("value").rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.partitionBy(lit(1))
      byVal
        .withColumn("fa", sum("ca").over(wCum).cast("double") / sum("ca").over(wAll))
        .withColumn("fb", sum("cb").over(wCum).cast("double") / sum("cb").over(wAll))
        .withColumn("diff", abs(col("fa") - col("fb")))
        .withColumn("rk", row_number().over(Window.orderBy(col("diff").desc, col("value"))))
        .filter(col("rk") === 1)
        .select(round(col("diff"), 6).as("ks_stat"), col("value").as("at_value"),
          round(col("fa"), 6).as("ecdf_purchase"), round(col("fb"), 6).as("ecdf_click"))
    }, Some("""
      WITH byval AS (
        SELECT value,
               count(*) FILTER (event_type = 'purchase') AS ca,
               count(*) FILTER (event_type = 'click') AS cb
        FROM events WHERE event_type IN ('purchase', 'click')
        GROUP BY value),
      ecdf AS (
        SELECT value,
               sum(ca) OVER (ORDER BY value ROWS UNBOUNDED PRECEDING)::DOUBLE
                 / sum(ca) OVER () AS fa,
               sum(cb) OVER (ORDER BY value ROWS UNBOUNDED PRECEDING)::DOUBLE
                 / sum(cb) OVER () AS fb
        FROM byval),
      best AS (
        SELECT *, abs(fa - fb) AS diff,
               row_number() OVER (ORDER BY abs(fa - fb) DESC, value) AS rk
        FROM ecdf)
      SELECT round(diff, 6) AS ks_stat, value AS at_value,
             round(fa, 6) AS ecdf_purchase, round(fb, 6) AS ecdf_click
      FROM best WHERE rk = 1
    """)),

    // ------------------------------------------------------------ fuzzy name matching (round 7)
    // Record linkage with the custom codegen'd [[graft.expressions.JaroWinkler]]
    // expression (Spark ships levenshtein only; JW is the
    // record-linkage standard because it rewards shared prefixes and
    // forgives transpositions — and DuckDB has it built in, so the
    // oracle hash-checks the expression value-for-value). Scale
    // discipline: similarity runs on the DISTINCT-name relation —
    // bounded by the name VOCABULARY (64 here, at every sf), not the
    // row count — blocked by the head noun (equi-join, never
    // all-pairs), and any row-level consumer would join the matched
    // name pairs back by name. The "cold anvil"/"old anvil" pairs it
    // surfaces are exactly the typo-variant class ER pipelines chase.
    ("q159_fuzzy_names", (s, d) => {
      import org.apache.spark.sql.GraftSqlBridge
      import graft.expressions.JaroWinkler
      val names = Tables.part(s, d).select(col("p_name")).distinct()
        .withColumn("noun", element_at(split(col("p_name"), " "), 2))
      val a = names.select(col("p_name").as("name_a"), col("noun"))
      val b = names.select(col("p_name").as("name_b"), col("noun").as("noun_b"))
      val jw = GraftSqlBridge.column(JaroWinkler(
        GraftSqlBridge.expression(col("name_a")), GraftSqlBridge.expression(col("name_b"))))
      a.join(b, col("noun") === col("noun_b") && col("name_a") < col("name_b"))
        .select(col("name_a"), col("name_b"), round(jw, 4).as("jw"))
        .filter(col("jw") >= 0.9)
        .orderBy(col("jw").desc, col("name_a"), col("name_b"))
    }, Some("""
      WITH n AS (
        SELECT DISTINCT p_name, split_part(p_name, ' ', 2) AS noun FROM part)
      SELECT a.p_name AS name_a, b.p_name AS name_b,
             round(jaro_winkler_similarity(a.p_name, b.p_name), 4) AS jw
      FROM n a JOIN n b ON a.noun = b.noun AND a.p_name < b.p_name
      WHERE round(jaro_winkler_similarity(a.p_name, b.p_name), 4) >= 0.9
      ORDER BY jw DESC, name_a, name_b
    """)),

    // ------------------------------------------------------------ time-to-convert (round 7)
    // Latency from last view to purchase — the "how long do users
    // deliberate" distribution marketing reads next to q154's
    // conversion counts. The q130 IGNORE-NULLS window stamps each
    // purchase with its latest preceding view (one user shuffle);
    // exact percentiles summarize the deltas. Reported in minutes
    // (integer division of exact µs — portable).
    ("q160_time_to_convert", (s, d) => {
      val w = Window.partitionBy("user_id")
        .orderBy(unix_micros(col("ts")), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      Tables.events(s, d)
        .withColumn("last_view_us",
          last(when(col("event_type") === "view", unix_micros(col("ts"))), ignoreNulls = true).over(w))
        .filter(col("event_type") === "purchase" && col("last_view_us").isNotNull)
        // DIV, not `/`: Column./ on longs is double division; the
        // oracle's `//` (and the "whole minutes" contract) is integer
        .withColumn("mins", expr("(unix_micros(ts) - last_view_us) DIV 60000000"))
        .agg(count(lit(1)).as("n_converted"),
             round(expr("percentile(mins, 0.5)"), 2).as("p50_minutes"),
             round(expr("percentile(mins, 0.9)"), 2).as("p90_minutes"),
             round(avg("mins"), 2).as("mean_minutes"))
    }, Some("""
      WITH t AS (
        SELECT event_type, epoch_us(ts::TIMESTAMP) AS us,
               last_value(CASE WHEN event_type = 'view'
                               THEN epoch_us(ts::TIMESTAMP) END IGNORE NULLS)
                 OVER (PARTITION BY user_id ORDER BY epoch_us(ts::TIMESTAMP), event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_view_us
        FROM events),
      d AS (
        SELECT (us - last_view_us) // 60000000 AS mins
        FROM t WHERE event_type = 'purchase' AND last_view_us IS NOT NULL)
      SELECT count(*) AS n_converted,
             round(quantile_cont(mins, 0.5), 2) AS p50_minutes,
             round(quantile_cont(mins, 0.9), 2) AS p90_minutes,
             round(avg(mins), 2) AS mean_minutes
      FROM d
    """)),

    // ------------------------------------------------------------ null imputation (round 7)
    // Median imputation with a fill report — the missing-data step of
    // feature preparation. The corpus has no nulls by construction,
    // so missingness is INJECTED deterministically (portable hash of
    // event_id, 10% rate — both engines nullify identical rows; the
    // q65 sampling discipline applied to damage instead of
    // selection), then repaired: per-type median of the surviving
    // values, broadcast back (q128 shape), plus the
    // before(skip-null)/after means that show what imputation does
    // to the distribution.
    ("q161_imputation", (s, d) => {
      import graft.functions.TextFunctions.portableHash
      val damaged = Tables.events(s, d)
        .select(col("event_type"),
          when(portableHash(col("event_id").cast("string")) % 10 === 0, lit(null))
            .otherwise(col("value")).as("v"))
      val meds = damaged.filter(col("v").isNotNull)
        .groupBy("event_type")
        .agg(expr("percentile(v, 0.5)").as("med"))
      damaged.join(broadcast(meds), "event_type")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
             sum(when(col("v").isNull, 1L).otherwise(0L)).as("n_missing"),
             round(first("med"), 6).as("imputed_value"),
             round(avg("v"), 6).as("mean_skipna"),
             round(avg(coalesce(col("v"), col("med"))), 6).as("mean_imputed"))
        .orderBy("event_type")
    }, Some("""
      WITH damaged AS (
        SELECT event_type,
               CASE WHEN ('0x'||substring(md5(event_id::VARCHAR),1,15))::BIGINT % 10 = 0
                    THEN NULL ELSE value END AS v
        FROM events),
      meds AS (
        SELECT event_type, quantile_cont(v, 0.5) AS med
        FROM damaged WHERE v IS NOT NULL GROUP BY event_type)
      SELECT d.event_type, count(*) AS n,
             count(*) FILTER (v IS NULL) AS n_missing,
             round(any_value(med), 6) AS imputed_value,
             round(avg(v), 6) AS mean_skipna,
             round(avg(coalesce(v, med)), 6) AS mean_imputed
      FROM damaged d JOIN meds USING (event_type)
      GROUP BY d.event_type
      ORDER BY d.event_type
    """)),

    // ------------------------------------------------------------ hourly spike detection (round 7)
    // Volume-anomaly scoring of the event firehose: each (type, hour)
    // bucket gets a z-score against that type's own hourly
    // distribution, spike = z ≥ 3 — the alert line an on-call
    // dashboard draws (and q140's short-timescale complement: q140
    // finds the one persistent level shift, this flags transient
    // bursts). ONE scan into the ≤|types|·|hours| aggregate; the
    // per-type mean/σ are windows over that aggregate, so the scoring
    // costs nothing at any data scale. Emits ALL buckets with their
    // scores (a spike-only report goes empty on calm data and tells
    // the operator nothing about headroom).
    ("q163_spike_scores", (s, d) => {
      val wType = Window.partitionBy("event_type")
      Tables.events(s, d)
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hour_ts"))
        .agg(count(lit(1)).as("n"))
        .withColumn("mu", avg(col("n").cast("double")).over(wType))
        .withColumn("sigma", stddev_samp(col("n").cast("double")).over(wType))
        .select(col("event_type"), col("hour_ts"), col("n"),
          round((col("n") - col("mu")) / col("sigma"), 4).as("z"),
          ((col("n") - col("mu")) / col("sigma") >= 3.0).as("is_spike"))
        .orderBy("event_type", "hour_ts")
    }, Some("""
      WITH hourly AS (
        SELECT event_type, date_trunc('hour', ts::TIMESTAMP) AS hour_ts, count(*) AS n
        FROM events GROUP BY 1, 2),
      scored AS (
        SELECT event_type, hour_ts, n,
               avg(n::DOUBLE) OVER (PARTITION BY event_type) AS mu,
               stddev_samp(n::DOUBLE) OVER (PARTITION BY event_type) AS sigma
        FROM hourly)
      SELECT event_type, hour_ts, n,
             round((n - mu) / sigma, 4) AS z,
             (n - mu) / sigma >= 3.0 AS is_spike
      FROM scored
      ORDER BY event_type, hour_ts
    """)),

    // ------------------------------------------------------------ rolling active users (round 8)
    // DAU / rolling-7-day WAU / stickiness per day — the product-
    // analytics daily readout, and relationally the interesting one:
    // a DISTINCT count over a MOVING window, which no RANGE frame can
    // express (count(DISTINCT) isn't frame-decomposable). The scalable
    // plan inverts the window: reduce events to distinct (user, day)
    // pairs FIRST (the only corpus-sized shuffle — everything after is
    // bounded by users×days), then explode each pair into the ≤7
    // window-END days it serves (a fixed ×7 blowup of the already-
    // reduced relation, never of raw events), and count distinct users
    // per end day. A self-join of days × user-days on a BETWEEN range
    // would plan the same logical result but shuffle user-days |days|
    // times; the explode form ships each pair exactly 7 times with
    // plain equi-partitioning — at 100 TB of events the distinct-pair
    // reduction is the whole game (events >> users×days). Days with no
    // events carry no DAU row and are excluded (inner join), matching
    // the oracle's grouping over observed days.
    ("q183_rolling_actives", (s, d) => {
      val ud = Tables.events(s, d)
        .select(to_date(col("ts")).as("day"), col("user_id")).distinct()
      val dau = ud.groupBy("day").agg(count(lit(1)).as("dau"))
      val wau = ud
        .select(explode(expr("sequence(day, date_add(day, 6), interval 1 day)")).as("day"),
                col("user_id"))
        .groupBy("day").agg(countDistinct(col("user_id")).as("wau"))
      dau.join(wau, "day")
        .select(col("day"), col("dau"), col("wau"),
                round(col("dau").cast("double") / col("wau"), 6).as("stickiness"))
        .orderBy("day")
    }, Some("""
      WITH ud AS (SELECT DISTINCT ts::DATE AS day, user_id FROM events),
      dau AS (SELECT day, count(*)::BIGINT AS dau FROM ud GROUP BY day),
      wau AS (
        SELECT w.day, count(DISTINCT u.user_id)::BIGINT AS wau
        FROM (SELECT day, user_id, unnest(generate_series(day, day + 6, INTERVAL 1 DAY))::DATE AS wday
              FROM ud) u
        JOIN dau w ON w.day = u.wday
        GROUP BY w.day)
      SELECT day, dau, wau, round(dau::DOUBLE / wau, 6) AS stickiness
      FROM dau JOIN wau USING (day)
      ORDER BY day
    """)),

    // ------------------------------------------------------------ chi-squared independence (round 8)
    // Pearson chi² test of event_type × day-of-week independence — the
    // "is traffic mix stable across the week" gate that decides whether
    // a per-dow stratified sample (q141) is even necessary. Everything
    // runs on the ≤|types|×7 contingency relation: ONE scan aggregates
    // the cells, windows over the tiny relation supply both marginals
    // and N (no second scan, no checkpoint), and the per-cell term uses
    // the all-integer identity (O−E)²/E = (O·N − row·col)² / (row·col·N)
    // — the difference O·N − row·col is computed in exact int64
    // (|O·N| ≤ N² ≈ 10¹² at sf0.1; at trillions of events switch the
    // products to double, exact to 2⁵³) so both engines square and
    // divide the SAME integer, leaving only the ≤70-term double sum to
    // the 4-dp rounding. Cramér's V normalizes chi² to [0,1] effect
    // size — the number that survives N-fold growth.
    ("q194_chi2_independence", (s, d) => {
      val cells = Tables.events(s, d)
        .groupBy(col("event_type"), (dayofweek(col("ts")) - 1).as("dow"))
        .agg(count(lit(1)).as("o"))
      val wRow = Window.partitionBy("event_type")
      val wCol = Window.partitionBy("dow")
      val wAll = Window.partitionBy(lit(1))
      cells
        .withColumn("row_tot", sum("o").over(wRow))
        .withColumn("col_tot", sum("o").over(wCol))
        .withColumn("n", sum("o").over(wAll))
        .withColumn("term",
          pow((col("o") * col("n") - col("row_tot") * col("col_tot")).cast("double"), 2) /
            (col("row_tot").cast("double") * col("col_tot") * col("n")))
        .agg(max("n").as("n_events"),
             countDistinct("event_type").as("n_types"),
             countDistinct("dow").as("n_dows"),
             sum("term").as("chi2"))
        .select(col("n_events"), col("n_types"), col("n_dows"),
          ((col("n_types") - 1) * (col("n_dows") - 1)).as("df"),
          round(col("chi2"), 4).as("chi2"),
          round(sqrt(col("chi2") /
            (col("n_events") * least(col("n_types") - 1, col("n_dows") - 1))), 6)
            .as("cramers_v"))
    }, Some("""
      WITH cells AS (
        SELECT event_type, dayofweek(ts::TIMESTAMP) AS dow, count(*)::BIGINT AS o
        FROM events GROUP BY 1, 2),
      m AS (
        SELECT o,
               sum(o) OVER (PARTITION BY event_type) AS row_tot,
               sum(o) OVER (PARTITION BY dow) AS col_tot,
               sum(o) OVER () AS n,
               event_type, dow
        FROM cells),
      t AS (
        SELECT pow((o * n - row_tot * col_tot)::DOUBLE, 2)
                 / (row_tot::DOUBLE * col_tot * n) AS term,
               n, event_type, dow
        FROM m)
      SELECT max(n)::BIGINT AS n_events,
             count(DISTINCT event_type)::BIGINT AS n_types,
             count(DISTINCT dow)::BIGINT AS n_dows,
             (count(DISTINCT event_type) - 1) * (count(DISTINCT dow) - 1) AS df,
             round(sum(term), 4) AS chi2,
             round(sqrt(sum(term) / (max(n) * least(count(DISTINCT event_type) - 1,
                                                    count(DISTINCT dow) - 1))), 6) AS cramers_v
      FROM t
    """)),

    // ------------------------------------------------------------ Benford first-digit audit (round 8)
    // First-significant-digit distribution of order totals vs Benford's
    // law — the classic fabricated-or-truncated-data screen an
    // ingestion pipeline runs on any money/measurement column (synthetic
    // uniform-ish generators fail it loudly; that failure signature is
    // itself the fixture's expected shape). Digit extraction is pure
    // string arithmetic on the INTEGER part — no float log10 on data
    // values, whose ulp behavior at exact powers of ten differs across
    // engines; log10 appears only in the Benford constant log10(1+1/d)
    // where a 1-ulp libm difference dies in the 6-dp rounding. One scan,
    // one ≤9-row aggregate, shares from a window over it.
    ("q195_benford_digits", (s, d) => {
      val g = Tables.orders(s, d)
        .filter(col("o_totalprice") >= 1.0)
        .groupBy(substring(floor(col("o_totalprice")).cast("long").cast("string"), 1, 1)
          .cast("int").as("digit"))
        .agg(count(lit(1)).as("n_orders"))
      val wAll = Window.partitionBy(lit(1))
      g.withColumn("total", sum("n_orders").over(wAll))
        .select(col("digit"), col("n_orders"),
          round(col("n_orders").cast("double") / col("total"), 6).as("observed_share"),
          round(log10(lit(1.0) + lit(1.0) / col("digit")), 6).as("benford_share"),
          round(col("n_orders").cast("double") / col("total") -
                log10(lit(1.0) + lit(1.0) / col("digit")), 6).as("deviation"),
          (abs(col("n_orders").cast("double") / col("total") -
               log10(lit(1.0) + lit(1.0) / col("digit"))) > 0.02).as("flag_02"))
        .orderBy("digit")
    }, Some("""
      WITH g AS (
        SELECT substr((floor(o_totalprice)::BIGINT)::VARCHAR, 1, 1)::INT AS digit,
               count(*)::BIGINT AS n_orders
        FROM orders WHERE o_totalprice >= 1.0
        GROUP BY 1),
      w AS (SELECT digit, n_orders, sum(n_orders) OVER () AS total FROM g)
      SELECT digit, n_orders,
             round(n_orders::DOUBLE / total, 6) AS observed_share,
             round(log10(1.0 + 1.0 / digit), 6) AS benford_share,
             round(n_orders::DOUBLE / total - log10(1.0 + 1.0 / digit), 6) AS deviation,
             abs(n_orders::DOUBLE / total - log10(1.0 + 1.0 / digit)) > 0.02 AS flag_02
      FROM w ORDER BY digit
    """)),

    // ------------------------------------------------------------ Mann–Kendall trend test (round 8)
    // Nonparametric monotonic-trend test per event series — the
    // rank-based sibling of q140's mean-shift search (q140 finds WHERE
    // a level changed; this says whether the series drifts at all,
    // immune to outliers because only sign(x_j − x_i) enters). The
    // q140 discipline: the O(days²) pair sweep runs on the per-day
    // AGGREGATE (≤ |types|·90 rows — a broadcast self-equi-join on
    // event_type), never on raw events. S and the tie-corrected
    // variance numerator n(n−1)(2n+5) − Σ t(t−1)(2t+5) are exact
    // integers; doubles appear only in the final z = (S∓1)/√var
    // continuity-corrected division.
    ("q196_mann_kendall", (s, d) => {
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
      val sS = daily.as("a")
        .join(daily.as("b"),
          col("a.event_type") === col("b.event_type") && col("a.day") < col("b.day"))
        .groupBy(col("a.event_type").as("event_type"))
        .agg(sum(when(col("b.n") > col("a.n"), 1L)
          .when(col("b.n") < col("a.n"), -1L).otherwise(0L)).as("s_stat"))
      val ties = daily.groupBy("event_type", "n").agg(count(lit(1)).as("t"))
        .groupBy("event_type")
        .agg(sum(col("t") * (col("t") - 1) * (col("t") * 2 + 5)).as("tie_corr"),
             sum(col("t")).as("n_days"))
      sS.join(ties, "event_type")
        .withColumn("var_s",
          ((col("n_days") * (col("n_days") - 1) * (col("n_days") * 2 + 5) -
            col("tie_corr")).cast("double") / 18.0))
        .withColumn("z",
          when(col("s_stat") > 0, (col("s_stat") - 1).cast("double") / sqrt(col("var_s")))
            .when(col("s_stat") < 0, (col("s_stat") + 1).cast("double") / sqrt(col("var_s")))
            .otherwise(lit(0.0)))
        .select(col("event_type"), col("n_days"), col("s_stat"),
          round(col("var_s"), 6).as("var_s"), round(col("z"), 4).as("z"),
          when(col("z") > 1.96, "increasing").when(col("z") < -1.96, "decreasing")
            .otherwise("none").as("trend"))
        .orderBy("event_type")
    }, Some("""
      WITH daily AS (
        SELECT event_type, ts::TIMESTAMP::DATE AS day, count(*)::BIGINT AS n
        FROM events GROUP BY 1, 2),
      s AS (
        SELECT a.event_type,
               sum(CASE WHEN b.n > a.n THEN 1 WHEN b.n < a.n THEN -1 ELSE 0 END)::BIGINT AS s_stat
        FROM daily a JOIN daily b
          ON a.event_type = b.event_type AND a.day < b.day
        GROUP BY 1),
      ties AS (
        SELECT event_type,
               sum(t * (t - 1) * (t * 2 + 5))::BIGINT AS tie_corr,
               sum(t)::BIGINT AS n_days
        FROM (SELECT event_type, n, count(*)::BIGINT AS t FROM daily GROUP BY 1, 2)
        GROUP BY 1),
      j AS (
        SELECT s.event_type, n_days, s_stat,
               (n_days * (n_days - 1) * (n_days * 2 + 5) - tie_corr)::DOUBLE / 18.0 AS var_s
        FROM s JOIN ties USING (event_type)),
      z AS (
        SELECT *, CASE WHEN s_stat > 0 THEN (s_stat - 1)::DOUBLE / sqrt(var_s)
                       WHEN s_stat < 0 THEN (s_stat + 1)::DOUBLE / sqrt(var_s)
                       ELSE 0.0 END AS z
        FROM j)
      SELECT event_type, n_days, s_stat, round(var_s, 6) AS var_s, round(z, 4) AS z,
             CASE WHEN z > 1.96 THEN 'increasing'
                  WHEN z < -1.96 THEN 'decreasing' ELSE 'none' END AS trend
      FROM z ORDER BY event_type
    """)),

    // ------------------------------------------------------------ Kaplan–Meier retention (round 8)
    // Product-limit survival curve over user lifetimes (first→last
    // event, day granularity) with right-censoring: a user whose last
    // event falls within 7 days of the corpus end may still be active,
    // so they leave the risk set without counting as churn — the
    // correction naive "avg lifetime" retention numbers get wrong.
    // ONE scan → per-user (first, last) aggregate; the curve itself
    // lives on the ≤|distinct lifetimes| relation (risk set via
    // cumulative window, survival via exp∘Σln — the distributed
    // cumulative-product idiom; Spark has no product aggregate and
    // exp/ln keeps both engines' op sequence identical, window order
    // makes the double sum order-deterministic). A drop-to-zero day
    // (everyone at risk churns) is carried as a cumulative zero-factor
    // count, not ln(0).
    ("q197_kaplan_meier", (s, d) => {
      val perUser = Tables.events(s, d)
        .groupBy("user_id")
        .agg(to_date(min(col("ts"))).as("first_day"), to_date(max(col("ts"))).as("last_day"))
      val end = perUser.agg(max(col("last_day")).as("corpus_end"))
      val byLife = perUser.crossJoin(broadcast(end))
        .select(datediff(col("last_day"), col("first_day")).cast("long").as("lifetime_days"),
          (datediff(col("corpus_end"), col("last_day")) < 7).as("censored"))
        .groupBy("lifetime_days")
        .agg(sum(when(col("censored"), 0L).otherwise(1L)).as("n_events"),
             sum(when(col("censored"), 1L).otherwise(0L)).as("n_censored"))
      val wPrev = Window.orderBy("lifetime_days").rowsBetween(Window.unboundedPreceding, -1)
      val wCum = Window.orderBy("lifetime_days").rowsBetween(Window.unboundedPreceding, 0)
      val wAll = Window.partitionBy(lit(1))
      byLife
        .withColumn("n_risk",
          sum(col("n_events") + col("n_censored")).over(wAll) -
            coalesce(sum(col("n_events") + col("n_censored")).over(wPrev), lit(0L)))
        .withColumn("factor",
          (col("n_risk") - col("n_events")).cast("double") / col("n_risk"))
        .withColumn("lnf", when(col("factor") > 0, log(col("factor"))).otherwise(lit(0.0)))
        .withColumn("zeros", sum(when(col("factor") === 0, 1L).otherwise(0L)).over(wCum))
        .select(col("lifetime_days"), col("n_risk"), col("n_events"), col("n_censored"),
          when(col("zeros") > 0, lit(0.0))
            .otherwise(round(exp(sum(col("lnf")).over(wCum)), 6)).as("survival"))
        .orderBy("lifetime_days")
    }, Some("""
      WITH pu AS (
        SELECT user_id, min(ts::TIMESTAMP)::DATE AS first_day,
               max(ts::TIMESTAMP)::DATE AS last_day
        FROM events GROUP BY user_id),
      mx AS (SELECT max(last_day) AS corpus_end FROM pu),
      bylife AS (
        SELECT date_diff('day', first_day, last_day)::BIGINT AS lifetime_days,
               sum(CASE WHEN date_diff('day', last_day, corpus_end) < 7 THEN 0 ELSE 1 END)::BIGINT AS n_events,
               sum(CASE WHEN date_diff('day', last_day, corpus_end) < 7 THEN 1 ELSE 0 END)::BIGINT AS n_censored
        FROM pu, mx GROUP BY 1),
      r AS (
        SELECT *,
               (sum(n_events + n_censored) OVER ()
                 - coalesce(sum(n_events + n_censored) OVER (ORDER BY lifetime_days
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0))::BIGINT AS n_risk
        FROM bylife),
      f AS (
        SELECT *, (n_risk - n_events)::DOUBLE / n_risk AS factor FROM r),
      c AS (
        SELECT *,
               CASE WHEN factor > 0 THEN ln(factor) ELSE 0.0 END AS lnf,
               sum(CASE WHEN factor = 0 THEN 1 ELSE 0 END) OVER (ORDER BY lifetime_days
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS zeros
        FROM f),
      surv AS (
        SELECT lifetime_days, n_risk, n_events, n_censored,
               CASE WHEN zeros > 0 THEN 0.0
                    ELSE round(exp(sum(lnf) OVER (ORDER BY lifetime_days
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), 6) END AS survival
        FROM c)
      SELECT * FROM surv ORDER BY lifetime_days
    """)),

    // ------------------------------------------------------------ ridge linear probe (round 9)
    // Multivariate ridge regression fitted from ONE corpus pass of
    // sufficient statistics — the canonical way to fit any
    // fixed-dimension linear model at 100 TB: the scan reduces to 15
    // running sums (n, Σxᵢ, Σxᵢxⱼ, Σxᵢy, Σy, Σy²), the 3×3 normal
    // equations (Xᵀ X + λI)β = Xᵀy are then solved in CLOSED FORM by
    // Cramer's rule on that single row — no iteration, no driver
    // collect of anything data-sized, communication O(d²) regardless
    // of corpus size. Probe: predict a doc's log token count from
    // log char length, punctuation density, and type-token ratio
    // (the classic "are these quality features linearly informative"
    // check run before spending GPU time on a learned scorer).
    // λ = 1 keeps the system well-conditioned → Cramer is stable.
    ("q199_ridge_probe", (s, d) => {
      ridgeFit(ridgeFeatures(s, d))
        .select(
          col("n").cast("long").as("n_docs"),
          round(col("beta1"), 6).as("beta_loglen"),
          round(col("beta2"), 6).as("beta_punct"),
          round(col("beta3"), 6).as("beta_ttr"),
          round(col("intercept"), 6).as("intercept"),
          round((col("beta1") * col("b1") + col("beta2") * col("b2")
            + col("beta3") * col("b3")) / col("syy_c"), 6).as("r2"))
    }, Some(s"""
      WITH feats AS ($ridgeFeatsSql),
      ${ridgeFitSql("feats")}
      SELECT n::BIGINT AS n_docs,
             round(beta1, 6) AS beta_loglen,
             round(beta2, 6) AS beta_punct,
             round(beta3, 6) AS beta_ttr,
             round(intercept, 6) AS intercept,
             round((beta1*b1 + beta2*b2 + beta3*b3) / syy_c, 6) AS r2
      FROM fit
    """)),

    // ------------------------------------------------------------ split-conformal interval (round 9)
    // Distribution-free UNCERTAINTY for the q199 probe: fit on the
    // train third, take q̂ = the ⌈0.9(n+1)⌉-th smallest absolute
    // calibration residual, and report empirical coverage of
    // ŷ ± q̂ on the untouched test third — the finite-sample ≥90%
    // guarantee needing zero distributional assumptions. The split key
    // doc_id%3 is coprime to the fixture's source=doc_id%20. q̂ is the
    // EXACT order statistic, fetched scalably by flipping to the
    // (n−k+1)-th LARGEST: that tail is ~10% of calibration, so a
    // TakeOrdered top-k' + min — never a global single-partition sort
    // of the calibration set (the value is tie-break-invariant:
    // k-th smallest ≡ min of the n−k+1 largest). Only n_cal (one
    // scalar) and k' (its arithmetic) cross the driver. At 100 TB the
    // same code holds; the conformal literature's approx-quantile
    // variant just widens the guarantee by the sketch error.
    ("q208_conformal_interval", (s, d) => {
      val feats = ridgeFeatures(s, d).graftCheckpoint()
      val fit = ridgeFit(feats.filter(col("doc_id") % 3 === 0))
        .select("beta1", "beta2", "beta3", "intercept")
      def resid(f: DataFrame): DataFrame = f.crossJoin(broadcast(fit))
        .select(col("doc_id"),
          abs(col("y") - (col("intercept") + col("beta1") * col("x1")
            + col("beta2") * col("x2") + col("beta3") * col("x3"))).as("r"))
      val calib = resid(feats.filter(col("doc_id") % 3 === 1))
      val nTrain = feats.filter(col("doc_id") % 3 === 0).count()
      val nCal = calib.count()
      val k = math.ceil(0.9 * (nCal + 1)).toLong
      val kFromTop: Long = nCal - k + 1
      // Empty calibration split: the oracle's CROSS JOIN against an
      // empty kth CTE emits ZERO rows; mirror that instead of emitting
      // a NULL-qhat row (ADVICE r9). The top-k' fetch stays Long until
      // the range check so a huge calibration count can't silently
      // truncate through .toInt.
      if (nCal == 0) {
        s.range(0).select(
          lit(0L).as("n_train"), lit(0L).as("n_cal"), lit(0L).as("n_test"),
          lit(0.0).as("qhat"), lit(0L).as("n_covered"), lit(0.0).as("coverage"))
      } else {
      require(kFromTop >= 1 && kFromTop <= Int.MaxValue,
        s"conformal top-k' fetch out of range: n_cal=$nCal k=$k k'=$kFromTop")
      val qhat = calib.orderBy(col("r").desc, col("doc_id")).limit(kFromTop.toInt)
        .agg(min("r").as("qhat"))
      resid(feats.filter(col("doc_id") % 3 === 2))
        .crossJoin(broadcast(qhat))
        .agg(count(lit(1)).as("n_test"),
             sum(when(col("r") <= col("qhat"), 1L).otherwise(0L)).as("n_covered"),
             round(max("qhat"), 6).as("qhat"))
        .select(lit(nTrain).as("n_train"), lit(nCal).as("n_cal"), col("n_test"),
          col("qhat"), col("n_covered"),
          round(col("n_covered").cast("double") / col("n_test"), 6).as("coverage"))
      }
    }, Some(s"""
      WITH feats AS ($ridgeFeatsSql),
      train AS (SELECT * FROM feats WHERE doc_id % 3 = 0),
      ${ridgeFitSql("train")},
      calib AS (
        SELECT f.doc_id,
               abs(f.y - (t.intercept + t.beta1*f.x1 + t.beta2*f.x2 + t.beta3*f.x3)) AS r
        FROM feats f CROSS JOIN fit t
        WHERE f.doc_id % 3 = 1),
      kth AS (
        SELECT r AS qhat FROM (
          SELECT r, row_number() OVER (ORDER BY r, doc_id) AS rn FROM calib)
        WHERE rn = (SELECT CAST(ceil(0.9 * (count(*) + 1)) AS BIGINT) FROM calib)),
      test AS (
        SELECT f.doc_id,
               abs(f.y - (t.intercept + t.beta1*f.x1 + t.beta2*f.x2 + t.beta3*f.x3)) AS r
        FROM feats f CROSS JOIN fit t
        WHERE f.doc_id % 3 = 2)
      SELECT (SELECT count(*) FROM train)::BIGINT AS n_train,
             (SELECT count(*) FROM calib)::BIGINT AS n_cal,
             count(*)::BIGINT AS n_test,
             round(max(k.qhat), 6) AS qhat,
             sum(CASE WHEN test.r <= k.qhat THEN 1 ELSE 0 END)::BIGINT AS n_covered,
             round(sum(CASE WHEN test.r <= k.qhat THEN 1 ELSE 0 END)::DOUBLE
                   / count(*), 6) AS coverage
      FROM test CROSS JOIN kth k
    """)),

    // ------------------------------------------------------------ CUPED variance reduction (round 9)
    // The experiment-analysis companion to q156's Welch t: adjust each
    // user's experiment-period metric by their PRE-period baseline
    // (y' = y − θ(x − x̄), θ = cov(x,y)/var(x)) and report how much
    // metric variance the adjustment removes per arm — the standard
    // trick that makes small A/B effects detectable without more
    // traffic. Units are USERS (per-user aggregate first — never
    // event-level CUPED, which would correlate residuals); arms are
    // the deterministic user_id%2 pseudo-assignment; the period split
    // is the fixture's calendar midpoint. θ and x̄ come from ONE
    // global sufficient-stats row broadcast back onto the per-user
    // relation; at 100 TB nothing but that 1-row reduction crosses
    // stages. Users with no pre-period events keep x=0 (they
    // contribute their own mean — the practical convention when the
    // covariate is missing).
    ("q207_cuped_variance", (s, d) => {
      val cut = lit("2024-01-16 00:00:00").cast("timestamp")
      val perUser = Tables.events(s, d)
        .groupBy(col("user_id"))
        .agg(avg(when(col("ts") < cut, col("value"))).as("x0"),
             avg(when(col("ts") >= cut, col("value"))).as("y0"))
        .filter(col("y0").isNotNull)
        .select(col("user_id"), (col("user_id") % 2).as("arm"),
                coalesce(col("x0"), lit(0.0)).as("x"), col("y0").as("y"))
        // checkpointed: both the θ sufficient-stats row and the final
        // per-arm pass read the per-user relation — one events scan,
        // not two
        .graftCheckpoint()
      val stats = perUser.agg(
        count(lit(1)).cast("double").as("n"),
        sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("x")).as("sxx"), sum(col("x") * col("y")).as("sxy"))
      val withTheta = stats.select(col("*"),
        ((col("sxy") - col("sx") * col("sy") / col("n")) /
         (col("sxx") - col("sx") * col("sx") / col("n"))).as("theta"),
        (col("sx") / col("n")).as("xbar"))
      perUser.crossJoin(broadcast(withTheta))
        .select(col("arm"), col("y"),
          (col("y") - col("theta") * (col("x") - col("xbar"))).as("y_adj"),
          col("theta"))
        .groupBy("arm")
        .agg(count(lit(1)).as("n_users"),
             round(avg("y"), 6).as("mean_y"),
             round(var_samp(col("y")), 6).as("var_y"),
             round(avg("y_adj"), 6).as("mean_y_adj"),
             round(var_samp(col("y_adj")), 6).as("var_y_adj"),
             round(max("theta"), 6).as("theta"),
             round((lit(1.0) - var_samp(col("y_adj")) / var_samp(col("y"))) * 100, 2)
               .as("var_reduction_pct"))
        .orderBy("arm")
    }, Some("""
      WITH per_user AS (
        SELECT user_id, user_id % 2 AS arm,
               COALESCE(avg(CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
                                 THEN value END), 0.0) AS x,
               avg(CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00'
                        THEN value END) AS y
        FROM events
        GROUP BY user_id
        HAVING avg(CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00' THEN value END)
               IS NOT NULL),
      stats AS (
        SELECT count(*)::DOUBLE AS n, sum(x) AS sx, sum(y) AS sy,
               sum(x*x) AS sxx, sum(x*y) AS sxy
        FROM per_user),
      t AS (
        SELECT (sxy - sx*sy/n) / (sxx - sx*sx/n) AS theta, sx/n AS xbar
        FROM stats)
      SELECT arm, count(*)::BIGINT AS n_users,
             round(avg(y), 6) AS mean_y,
             round(var_samp(y), 6) AS var_y,
             round(avg(y - theta * (x - xbar)), 6) AS mean_y_adj,
             round(var_samp(y - theta * (x - xbar)), 6) AS var_y_adj,
             round(max(theta), 6) AS theta,
             round((1.0 - var_samp(y - theta * (x - xbar)) / var_samp(y)) * 100, 2)
               AS var_reduction_pct
      FROM per_user CROSS JOIN t
      GROUP BY arm
      ORDER BY arm
    """)),

    // ------------------------------------------------------------ difference-in-differences (round 9)
    // The panel-data uplift estimate that survives a level shift
    // between arms: each user's own pre→post delta is the unit of
    // analysis (canceling the user fixed effect), DiD is the arm
    // difference of mean deltas, and the Welch-style SE over per-user
    // deltas gives the t statistic — the q156/q207 family completed
    // with the estimator practitioners reach for when arms weren't
    // randomized at the same baseline. Users need BOTH periods to
    // contribute (the inner filter); one events scan → per-user
    // pivot → per-arm moment aggregate → one 2-row reduction.
    ("q213_diff_in_diff", (s, d) => {
      val cut = lit("2024-01-16 00:00:00").cast("timestamp")
      val perUser = Tables.events(s, d)
        .groupBy(col("user_id"))
        .agg(avg(when(col("ts") < cut, col("value"))).as("pre"),
             avg(when(col("ts") >= cut, col("value"))).as("post"))
        .filter(col("pre").isNotNull && col("post").isNotNull)
        .select((col("user_id") % 2).as("arm"), (col("post") - col("pre")).as("delta"))
      val byArm = perUser.groupBy("arm")
        .agg(count(lit(1)).cast("double").as("n"),
             avg("delta").as("mean_delta"),
             var_samp(col("delta")).as("var_delta"))
      byArm.filter(col("arm") === 0)
        .select(col("n").as("n0"), col("mean_delta").as("m0"), col("var_delta").as("v0"))
        .crossJoin(byArm.filter(col("arm") === 1)
          .select(col("n").as("n1"), col("mean_delta").as("m1"), col("var_delta").as("v1")))
        .select(
          col("n0").cast("long").as("n_control"),
          col("n1").cast("long").as("n_treat"),
          round(col("m0"), 6).as("mean_delta_control"),
          round(col("m1"), 6).as("mean_delta_treat"),
          round(col("m1") - col("m0"), 6).as("did"),
          round(sqrt(col("v1") / col("n1") + col("v0") / col("n0")), 6).as("se"),
          round((col("m1") - col("m0"))
            / sqrt(col("v1") / col("n1") + col("v0") / col("n0")), 4).as("t_stat"))
    }, Some("""
      WITH per_user AS (
        SELECT user_id % 2 AS arm,
               avg(CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00' THEN value END)
                 - avg(CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00' THEN value END)
                 AS delta
        FROM events
        GROUP BY user_id
        HAVING avg(CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00' THEN value END)
                 IS NOT NULL
           AND avg(CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00' THEN value END)
                 IS NOT NULL),
      by_arm AS (
        SELECT arm, count(*)::DOUBLE AS n, avg(delta) AS mean_delta,
               var_samp(delta) AS var_delta
        FROM per_user GROUP BY arm)
      SELECT a0.n::BIGINT AS n_control, a1.n::BIGINT AS n_treat,
             round(a0.mean_delta, 6) AS mean_delta_control,
             round(a1.mean_delta, 6) AS mean_delta_treat,
             round(a1.mean_delta - a0.mean_delta, 6) AS did,
             round(sqrt(a1.var_delta / a1.n + a0.var_delta / a0.n), 6) AS se,
             round((a1.mean_delta - a0.mean_delta)
                   / sqrt(a1.var_delta / a1.n + a0.var_delta / a0.n), 4) AS t_stat
      FROM (SELECT * FROM by_arm WHERE arm = 0) a0
      CROSS JOIN (SELECT * FROM by_arm WHERE arm = 1) a1
    """)),

    // ------------------------------------------------------------ right-to-be-forgotten cascade audit (round 9)
    // The deletion-compliance workflow: given a subject list (here
    // c_custkey % 37 = 0 stands in for the GDPR request queue),
    // tombstone the subjects and CASCADE through the FK chain
    // (customer → orders → lineitem), then AUDIT the surviving rows
    // for residual references — n_orphans_after must be zero at every
    // hop, and the lineitem hop is the real test because its subject
    // linkage is two joins away. Tombstone membership travels as
    // semi/anti joins on the FK keys (shuffle- and broadcast-safe at
    // any subject-list size — never a collected IN-list), and each
    // table contributes one ledger row: before / tombstoned / after /
    // orphans. This is the audit a data-platform team runs after
    // every deletion batch; a nonzero orphan count is a compliance
    // incident, not a statistic.
    // ------------------------------------------------------------ user behavior entropy (round 10)
    // Behavioral predictability per user: Shannon entropy of each
    // user's event-type mix, reported as a population histogram
    // (0.02-nat buckets) — the bot/scripted-traffic screen (near-zero
    // entropy = single-action repetition; the diversity sibling of
    // q89's doc repetition and SlidingDistinct's streaming breadth).
    // Identity H = ln(N) − (Σ c·ln c)/N over the per-(user, type)
    // counts; H is quant6-quantized BEFORE bucketing on both engines,
    // so a last-ulp sum divergence cannot flip a bucket edge. One
    // events scan → (user, type) counts → per-user reduce (≤|types|
    // terms) → vocabulary-bounded histogram.
    ("q232_user_behavior_entropy", (s, d) => {
      val perType = Tables.events(s, d)
        .groupBy("user_id", "event_type").agg(count(lit(1)).as("c"))
      val perUser = perType.groupBy("user_id")
        .agg(sum("c").as("n"), sum(col("c") * log(col("c"))).as("clnc"))
        .select(col("user_id"),
          Quant.quant6(log(col("n")) - col("clnc") / col("n")).as("h"))
      perUser
        .withColumn("bucket", floor(col("h") / 0.02).cast("long"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_users"),
             round(min("h"), 6).as("min_h"),
             round(max("h"), 6).as("max_h"))
        .orderBy("bucket")
    }, Some("""
      WITH pt AS (
        SELECT user_id, event_type, count(*)::BIGINT AS c
        FROM events GROUP BY 1, 2),
      pu AS (
        SELECT user_id,
               floor((ln(sum(c)) - sum(c * ln(c)) / sum(c)) * 1000000.0 + 0.5) / 1000000.0 AS h
        FROM pt GROUP BY user_id)
      SELECT floor(h / 0.02)::BIGINT AS bucket,
             count(*)::BIGINT AS n_users,
             round(min(h), 6) AS min_h,
             round(max(h), 6) AS max_h
      FROM pu
      GROUP BY 1
      ORDER BY bucket
    """)),

    // ------------------------------------------------------------ inter-arrival regularity (round 10)
    // The CADENCE bot screen that pairs with q232's type-diversity
    // screen: per user, the coefficient of variation of inter-event
    // gaps — scripted traffic fires on a clock (CV → 0), humans are
    // bursty (CV ≈ 1+). Gaps are truncated to integer SECONDS, so the
    // per-user moment sums (n, Σg, Σg²) are exact integers on both
    // engines; sample variance comes from the single-division identity
    // (n·Σg² − (Σg)²)/(n(n−1)), CV = √var / mean is quant6-quantized
    // BEFORE the 0.1-wide histogram bucketing — bucket edges cannot
    // flip across engines. One user-keyed window pass + two
    // aggregate-sized group-bys.
    ("q238_interarrival_regularity", (s, d) => {
      val wLag = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val gaps = Tables.events(s, d)
        .withColumn("prev_ts", lag("ts", 1).over(wLag))
        .filter(col("prev_ts").isNotNull)
        .select(col("user_id"),
          ((unix_micros(col("ts")) - unix_micros(col("prev_ts"))) / 1000000L)
            .cast("long").as("g"))
      val perUser = gaps.groupBy("user_id")
        .agg(count(lit(1)).as("n"), sum("g").as("sg"),
             sum(col("g") * col("g")).as("sg2"))
        .filter(col("n") >= 2 && col("sg") > 0)
        .select(col("user_id"),
          Quant.quant6(
            sqrt((col("n") * col("sg2") - col("sg") * col("sg"))
                   / (col("n") * (col("n") - 1)).cast("double"))
              / (col("sg") / col("n").cast("double"))).as("cv"))
      perUser.withColumn("bucket", floor(col("cv") / 0.1).cast("long"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_users"),
             round(min("cv"), 6).as("min_cv"),
             round(max("cv"), 6).as("max_cv"))
        .orderBy("bucket")
    }, Some("""
      WITH g AS (
        SELECT user_id,
               (epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id
                  ORDER BY ts, event_id))) // 1000000 AS g
        FROM events),
      pu AS (
        SELECT user_id, count(*)::BIGINT AS n, sum(g)::BIGINT AS sg,
               sum(g * g)::BIGINT AS sg2
        FROM g WHERE g IS NOT NULL GROUP BY user_id),
      cvq AS (
        SELECT user_id,
               floor((sqrt((n * sg2 - sg * sg) / (n * (n - 1))::DOUBLE)
                      / (sg / n::DOUBLE)) * 1000000.0 + 0.5) / 1000000.0 AS cv
        FROM pu WHERE n >= 2 AND sg > 0)
      SELECT floor(cv / 0.1)::BIGINT AS bucket,
             count(*)::BIGINT AS n_users,
             round(min(cv), 6) AS min_cv,
             round(max(cv), 6) AS max_cv
      FROM cvq
      GROUP BY 1
      ORDER BY bucket
    """)),

    ("q215_forget_audit", (s, d) => {
      val subjects = Tables.customer(s, d).filter(col("c_custkey") % 37 === 0)
        .select(col("c_custkey").as("k"))
      val cust = Tables.customer(s, d)
      val orders = Tables.orders(s, d)
      val li = Tables.lineitem(s, d)
      val tombOrders = orders.join(subjects, col("o_custkey") === col("k"), "left_semi")
        .select("o_orderkey").graftCheckpoint() // read by lineitem hop twice (tomb + orphan)
      def row(name: String, before: DataFrame, tomb: DataFrame, orphansAfter: DataFrame) = {
        val b = before.agg(count(lit(1)).as("n_before"))
        val t = tomb.agg(count(lit(1)).as("n_tombstoned"))
        val o = orphansAfter.agg(count(lit(1)).as("n_orphans_after"))
        b.crossJoin(t).crossJoin(o)
          .select(lit(name).as("table_name"), col("n_before"), col("n_tombstoned"),
            (col("n_before") - col("n_tombstoned")).as("n_after"), col("n_orphans_after"))
      }
      val custAfter = cust.join(subjects, col("c_custkey") === col("k"), "left_anti")
      val ordersAfter = orders.join(subjects, col("o_custkey") === col("k"), "left_anti")
      val liAfter = li.join(tombOrders, col("l_orderkey") === col("o_orderkey"), "left_anti")
      row("customer",
          cust,
          cust.join(subjects, col("c_custkey") === col("k"), "left_semi"),
          custAfter.join(subjects, col("c_custkey") === col("k"), "left_semi"))
        .unionByName(row("orders",
          orders,
          orders.join(subjects, col("o_custkey") === col("k"), "left_semi"),
          ordersAfter.join(subjects, col("o_custkey") === col("k"), "left_semi")))
        .unionByName(row("lineitem",
          li,
          li.join(tombOrders, col("l_orderkey") === col("o_orderkey"), "left_semi"),
          // the 2-hop residual check: surviving lineitems whose order
          // belongs to a deleted customer
          liAfter.join(ordersAfter.join(subjects, col("o_custkey") === col("k"), "left_semi")
            .select("o_orderkey"), col("l_orderkey") === col("o_orderkey"), "left_semi")))
        .orderBy("table_name")
    }, Some("""
      WITH subjects AS (
        SELECT c_custkey AS k FROM customer WHERE c_custkey % 37 = 0),
      tomb_orders AS (
        SELECT o_orderkey FROM orders WHERE o_custkey IN (SELECT k FROM subjects)),
      cust_row AS (
        SELECT 'customer' AS table_name,
               (SELECT count(*) FROM customer)::BIGINT AS n_before,
               (SELECT count(*) FROM customer WHERE c_custkey IN (SELECT k FROM subjects))::BIGINT AS n_tombstoned,
               (SELECT count(*) FROM customer WHERE c_custkey NOT IN (SELECT k FROM subjects)
                  AND c_custkey IN (SELECT k FROM subjects))::BIGINT AS n_orphans_after),
      orders_row AS (
        SELECT 'orders' AS table_name,
               (SELECT count(*) FROM orders)::BIGINT AS n_before,
               (SELECT count(*) FROM orders WHERE o_custkey IN (SELECT k FROM subjects))::BIGINT AS n_tombstoned,
               (SELECT count(*) FROM orders WHERE o_custkey NOT IN (SELECT k FROM subjects)
                  AND o_custkey IN (SELECT k FROM subjects))::BIGINT AS n_orphans_after),
      li_row AS (
        SELECT 'lineitem' AS table_name,
               (SELECT count(*) FROM lineitem)::BIGINT AS n_before,
               (SELECT count(*) FROM lineitem
                  WHERE l_orderkey IN (SELECT o_orderkey FROM tomb_orders))::BIGINT AS n_tombstoned,
               (SELECT count(*) FROM lineitem
                  WHERE l_orderkey NOT IN (SELECT o_orderkey FROM tomb_orders)
                    AND l_orderkey IN (
                      SELECT o_orderkey FROM orders
                      WHERE o_orderkey NOT IN (SELECT o_orderkey FROM tomb_orders)
                        AND o_custkey IN (SELECT k FROM subjects)))::BIGINT AS n_orphans_after)
      SELECT table_name, n_before, n_tombstoned,
             n_before - n_tombstoned AS n_after, n_orphans_after
      FROM (SELECT * FROM cust_row
            UNION ALL SELECT * FROM orders_row
            UNION ALL SELECT * FROM li_row)
      ORDER BY table_name
    """)),

    // ------------------------------------------------------------ sample-ratio-mismatch audit (round 11)
    // The first thing an experimentation platform checks before
    // reading ANY metric: did the 50/50 hash assignment actually land
    // 50/50? A skewed split (SRM) invalidates the experiment no matter
    // what the metrics say. Users are assigned by the engine's
    // portable hash (deterministic, oracle-reproducible), observed
    // bucket counts are tested against the intended split with a
    // 1-dof chi² (flag at the 0.05 critical value 3.841). Exact
    // integer counts; the statistic is the only float.
    ("q248_srm_audit", (s, d) => {
      import graft.functions.TextFunctions.portableHash
      val counts = Tables.events(s, d).select(col("user_id")).distinct()
        .withColumn("bucket", (portableHash(col("user_id").cast("string")) % 2).cast("int"))
        .groupBy("bucket").agg(count(lit(1)).as("n_users"))
        .graftCheckpoint() // total + chi2 + output all read it
      val tot = counts.agg(sum("n_users").as("n_total"))
      // squared by multiplication, not pow(): Math.pow and DuckDB's pow
      // may differ in the last ulp; x*x is one IEEE multiply on both
      val dev = col("n_users").cast("double") - col("n_total") / 2.0
      val chi = counts.crossJoin(broadcast(tot))
        .select((dev * dev / (col("n_total") / 2.0)).as("part"))
        .agg(sum("part").as("chi2"))
      counts.crossJoin(broadcast(tot)).crossJoin(broadcast(chi))
        .select(col("bucket"), col("n_users"),
          Quant.quant6(col("n_total") / 2.0).as("expected"),
          Quant.quant6(col("chi2")).as("chi2"),
          (col("chi2") > 3.841).as("srm_detected"))
        .orderBy("bucket")
    }, Some("""
      WITH u AS (SELECT DISTINCT user_id FROM events),
      a AS (SELECT ('0x'||substring(md5(user_id::VARCHAR),1,15))::BIGINT % 2 AS bucket
            FROM u),
      c AS (SELECT bucket::INT AS bucket, count(*)::BIGINT AS n_users
            FROM a GROUP BY 1),
      t AS (SELECT sum(n_users) AS n_total FROM c),
      x AS (SELECT sum((n_users - n_total / 2.0) * (n_users - n_total / 2.0)
                       / (n_total / 2.0)) AS chi2
            FROM c, t)
      SELECT c.bucket, c.n_users,
             floor(t.n_total / 2.0 * 1000000.0 + 0.5) / 1000000.0 AS expected,
             floor(x.chi2 * 1000000.0 + 0.5) / 1000000.0 AS chi2,
             x.chi2 > 3.841 AS srm_detected
      FROM c, t, x
      ORDER BY bucket
    """)),

    // ------------------------------------------------------------ contingency residual matrix (round 11)
    // q151 answers "are source and language independent" with one
    // global chi²; a curator needs the CELL-level answer — WHICH
    // (source, language) combinations over/under-index. Full dense
    // grid (distinct sources × distinct langs, zero-filled — absence
    // is signal), expected counts from the exact integer margins, and
    // the standardized Pearson residual (obs − exp)/√exp per cell,
    // flagged at |r| > 2. Bounded-dimension grid throughout: one
    // corpus scan for the counts, margins are tiny aggregates
    // broadcast back.
    ("q249_contingency_residuals", (s, d) => {
      val counts = Tables.documents(s, d)
        .groupBy("source", "lang").agg(count(lit(1)).as("n"))
        .graftCheckpoint() // margins + grid join-back all read it
      val rows = counts.groupBy("source").agg(sum("n").as("row_n"))
      val cols = counts.groupBy("lang").agg(sum("n").as("col_n"))
      val tot = counts.agg(sum("n").as("total"))
      rows.crossJoin(cols).crossJoin(broadcast(tot))
        .join(counts, Seq("source", "lang"), "left")
        .withColumn("n_docs", coalesce(col("n"), lit(0L)))
        .withColumn("expected",
          col("row_n").cast("double") * col("col_n") / col("total"))
        .select(col("source"), col("lang"), col("n_docs"),
          Quant.quant6(col("expected")).as("expected"),
          Quant.quant6((col("n_docs") - col("expected")) / sqrt(col("expected")))
            .as("std_residual"),
          (abs((col("n_docs") - col("expected")) / sqrt(col("expected"))) > 2.0)
            .as("flagged"))
        .orderBy("source", "lang")
    }, Some("""
      WITH c AS (SELECT source, lang, count(*)::BIGINT AS n
                 FROM documents GROUP BY 1, 2),
      r AS (SELECT source, sum(n) AS row_n FROM c GROUP BY source),
      l AS (SELECT lang, sum(n) AS col_n FROM c GROUP BY lang),
      t AS (SELECT sum(n) AS total FROM c),
      grid AS (
        SELECT r.source, l.lang, r.row_n, l.col_n, t.total,
               COALESCE(c.n, 0)::BIGINT AS n_docs
        FROM r CROSS JOIN l CROSS JOIN t
        LEFT JOIN c ON c.source = r.source AND c.lang = l.lang),
      e AS (SELECT *, row_n::DOUBLE * col_n / total AS expected FROM grid)
      SELECT source, lang, n_docs,
             floor(expected * 1000000.0 + 0.5) / 1000000.0 AS expected,
             floor((n_docs - expected) / sqrt(expected) * 1000000.0 + 0.5) / 1000000.0
               AS std_residual,
             abs((n_docs - expected) / sqrt(expected)) > 2.0 AS flagged
      FROM e
      ORDER BY source, lang
    """)),

    // ------------------------------------------------------------ sequential pattern support (round 12)
    // "A then later B" mining over raw event streams — q83 counts only
    // ADJACENT transitions and q84 walks one fixed funnel; this is the
    // general gapped form (a user supports A→B iff SOME A event
    // strictly precedes SOME B event), the first rung of sequence
    // mining (PrefixSpan's length-2 support + confidence). The whole
    // computation runs on the (user, type) envelope: exists(a<b) ⟺
    // min_ts(A) < max_ts(B), so the corpus collapses to ≤|types| rows
    // per user in ONE keyed aggregate, and the per-user type-pair
    // expansion is a self-join on user_id of that bounded envelope —
    // both sides share the partitioning (Spark reuses the exchange),
    // and the fanout is |types|² per user, independent of how many
    // events a heavy user has. Antecedent totals for confidence come
    // from the same envelope, broadcast back (|types| rows).
    ("q270_sequential_support", (s, d) => {
      val ut = Tables.fanOut(Tables.events(s, d))
        .groupBy("user_id", "event_type")
        .agg(min(unix_micros(col("ts"))).as("t0"),
             max(unix_micros(col("ts"))).as("t1"))
        .graftCheckpoint() // read three times: both join sides + antecedent totals
      val a = ut.select(col("user_id"), col("event_type").as("type_a"), col("t0"))
      val b = ut.select(col("user_id"), col("event_type").as("type_b"), col("t1"))
      val na = ut.groupBy(col("event_type").as("type_a")).agg(count(lit(1)).as("n_a"))
      a.join(b, Seq("user_id"))
        .filter(col("type_a") =!= col("type_b") && col("t0") < col("t1"))
        .groupBy("type_a", "type_b")
        .agg(count(lit(1)).as("n_users"))
        .join(broadcast(na), Seq("type_a"))
        .select(col("type_a"), col("type_b"), col("n_users"), col("n_a"),
          Quant.quant6(col("n_users").cast("double") / col("n_a")).as("confidence"))
        .orderBy("type_a", "type_b")
    }, Some(s"""
      WITH ut AS (
        SELECT user_id, event_type,
               min(epoch_us(ts))::BIGINT AS t0, max(epoch_us(ts))::BIGINT AS t1
        FROM events GROUP BY 1, 2),
      pairs AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b, count(*)::BIGINT AS n_users
        FROM ut a JOIN ut b
          ON a.user_id = b.user_id AND a.event_type <> b.event_type AND a.t0 < b.t1
        GROUP BY 1, 2),
      na AS (SELECT event_type AS type_a, count(*)::BIGINT AS n_a FROM ut GROUP BY 1)
      SELECT type_a, type_b, n_users, n_a,
             ${Quant.quant6Sql("n_users::DOUBLE / n_a")} AS confidence
      FROM pairs JOIN na USING (type_a)
      ORDER BY type_a, type_b
    """)),

    // ------------------------------------------------------------ Fellegi–Sunter linkage weights (round 12)
    // Probabilistic record linkage — q159 scores ONE string with
    // Jaro–Winkler; Fellegi–Sunter scores the whole multi-field
    // agreement PATTERN with log-likelihood weights, the standard
    // model (Fellegi & Sunter 1969) behind every dedupe/linkage
    // system. u-probabilities (chance agreement among non-matches)
    // are ESTIMATED FROM THE DATA as Σ f_v² over each field's value
    // distribution — the classic frequency-based estimator — and the
    // m-probability is the documented 0.95 prior. Weight per pattern =
    // log2 Π_f (agree ? m/u_f : (1−m)/(1−u_f)), computed once per
    // PATTERN (≤2⁴ rows), never per pair. Scale shape: candidate
    // pairs come from the q159 noun block (pair generation bounded
    // per block, AQE splits hot blocks); the four u's are 1-row
    // aggregates cross-joined (broadcast) onto the 16-row pattern
    // census — the corpus is never rescanned per field.
    ("q272_linkage_weights", (s, d) => {
      // fanOut BEFORE the checkpoint: part is a single-row-group file
      // locally, so the checkpointed relation otherwise has ONE
      // partition and the noun-blocked pair census below (the heavy
      // stage — blocks × block² comparisons) streams through a single
      // task (r17 profile: 4.4 s CPU on 1 task of 16 output rows). At
      // scale the scan has many splits and fanOut is a no-op.
      val p = Tables.fanOut(Tables.part(s, d))
        .select(col("p_partkey"), element_at(split(col("p_name"), " "), 2).as("noun"),
                col("p_brand"), col("p_type").as("p_tclass"),
                element_at(split(col("p_name"), " "), 1).as("p_tmat"), col("p_size"))
        .graftCheckpoint() // read six times: pair sides + four u-estimates
      def uOf(c: String, as: String): DataFrame =
        p.groupBy(col(c)).agg(count(lit(1)).as("cnt"))
          .agg((sum(col("cnt") * col("cnt")).cast("double")
            / (sum("cnt") * sum("cnt")).cast("double")).as(as))
      val u = uOf("p_brand", "ub").crossJoin(uOf("p_tclass", "um"))
        .crossJoin(uOf("p_tmat", "uc")).crossJoin(uOf("p_size", "us"))
      val a = p.select(col("p_partkey").as("ka"), col("noun"), col("p_brand").as("ba"),
        col("p_tclass").as("ma"), col("p_tmat").as("ca"), col("p_size").as("sa"))
      val b = p.select(col("p_partkey").as("kb"), col("noun").as("noun_b"),
        col("p_brand").as("bb"), col("p_tclass").as("mb"), col("p_tmat").as("cb"),
        col("p_size").as("sb"))
      def lr(eq: Column, uu: Column): Column =
        when(eq === 1, lit(0.95) / uu).otherwise(lit(0.05) / (lit(1.0) - uu))
      a.join(b, col("noun") === col("noun_b") && col("ka") < col("kb"))
        .select(when(col("ba") === col("bb"), 1L).otherwise(0L).as("brand_eq"),
                when(col("ma") === col("mb"), 1L).otherwise(0L).as("type_eq"),
                when(col("ca") === col("cb"), 1L).otherwise(0L).as("adj_eq"),
                when(col("sa") === col("sb"), 1L).otherwise(0L).as("size_eq"))
        .groupBy("brand_eq", "type_eq", "adj_eq", "size_eq")
        .agg(count(lit(1)).as("n_pairs"))
        .crossJoin(broadcast(u))
        .select(col("brand_eq"), col("type_eq"), col("adj_eq"), col("size_eq"),
          col("n_pairs"),
          Quant.quant6(log2(
            lr(col("brand_eq"), col("ub")) * lr(col("type_eq"), col("um"))
              * lr(col("adj_eq"), col("uc")) * lr(col("size_eq"), col("us"))))
            .as("fs_weight"))
        .orderBy("brand_eq", "type_eq", "adj_eq", "size_eq")
    }, Some(s"""
      WITH p AS (
        SELECT p_partkey, split_part(p_name, ' ', 2) AS noun,
               p_brand, p_type AS p_tclass,
               split_part(p_name, ' ', 1) AS p_tmat, p_size
        FROM part),
      u AS (
        SELECT
          (SELECT sum(c*c)::DOUBLE / (sum(c)::DOUBLE * sum(c))
           FROM (SELECT count(*)::BIGINT AS c FROM p GROUP BY p_brand)) AS ub,
          (SELECT sum(c*c)::DOUBLE / (sum(c)::DOUBLE * sum(c))
           FROM (SELECT count(*)::BIGINT AS c FROM p GROUP BY p_tclass)) AS um,
          (SELECT sum(c*c)::DOUBLE / (sum(c)::DOUBLE * sum(c))
           FROM (SELECT count(*)::BIGINT AS c FROM p GROUP BY p_tmat)) AS uc,
          (SELECT sum(c*c)::DOUBLE / (sum(c)::DOUBLE * sum(c))
           FROM (SELECT count(*)::BIGINT AS c FROM p GROUP BY p_size)) AS us),
      pairs AS (
        SELECT CASE WHEN a.p_brand = b.p_brand THEN 1 ELSE 0 END AS brand_eq,
               CASE WHEN a.p_tclass = b.p_tclass THEN 1 ELSE 0 END AS type_eq,
               CASE WHEN a.p_tmat = b.p_tmat THEN 1 ELSE 0 END AS adj_eq,
               CASE WHEN a.p_size = b.p_size THEN 1 ELSE 0 END AS size_eq
        FROM p a JOIN p b ON a.noun = b.noun AND a.p_partkey < b.p_partkey),
      agg AS (
        SELECT brand_eq::BIGINT AS brand_eq, type_eq::BIGINT AS type_eq,
               adj_eq::BIGINT AS adj_eq, size_eq::BIGINT AS size_eq,
               count(*)::BIGINT AS n_pairs
        FROM pairs GROUP BY 1, 2, 3, 4)
      SELECT brand_eq, type_eq, adj_eq, size_eq, n_pairs,
             ${Quant.quant6Sql(
               """log2((CASE WHEN brand_eq = 1 THEN 0.95 / ub ELSE 0.05 / (1.0 - ub) END)
                     * (CASE WHEN type_eq = 1 THEN 0.95 / um ELSE 0.05 / (1.0 - um) END)
                     * (CASE WHEN adj_eq = 1 THEN 0.95 / uc ELSE 0.05 / (1.0 - uc) END)
                     * (CASE WHEN size_eq = 1 THEN 0.95 / us ELSE 0.05 / (1.0 - us) END))""")}
               AS fs_weight
      FROM agg, u
      ORDER BY brand_eq, type_eq, adj_eq, size_eq
    """)),

    // ------------------------------------------------------------ isotonic calibration / PAV (round 12)
    // q188 reports raw per-bin calibration; production calibrators
    // FIT the monotone curve — isotonic regression. Pool-Adjacent-
    // Violators is inherently sequential, but its SOLUTION has the
    // closed minimax form  iso_i = max_{j≤i} min_{k≥i} mean(y[j..k])
    // (Robertson–Wright–Dykstra), which IS expressible as bounded
    // joins: the corpus collapses to ≤11 discount-level bins in ONE
    // aggregate, and the (j,k,i) grid over those bins is O(B³) on an
    // 11-row checkpointed relation — never touches the corpus again.
    // Segment means are exact-integer ratios (prefix sums of n and
    // Σy), so the max/min run over bit-identical doubles in both
    // engines; quant6 only at output. On this corpus the return rate
    // is nearly flat across discounts — exactly the case where PAV's
    // pooling collapses noise into a few monotone levels, which the
    // oracle verifies level-for-level.
    ("q273_isotonic_calibration", (s, d) => {
      val wc = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
      // prefix window BEFORE the checkpoint so the bounding Aggregate
      // stays visible beneath the unpartitioned window (engine-wide
      // PlanSpec gate); the checkpoint then serves every grid reader.
      val pre = Tables.fanOut(Tables.lineitem(s, d))
        .select(floor(col("l_discount") * 100 + 0.5).cast("long").as("bin"),
                when(col("l_returnflag") === "R", 1L).otherwise(0L).as("y"))
        .groupBy("bin")
        .agg(count(lit(1)).as("n"), sum("y").as("sy"))
        .withColumn("cn", sum("n").over(wc))
        .withColumn("cs", sum("sy").over(wc))
        .graftCheckpoint() // ≤11 rows; read by both grid sides + final output
      val bins = pre.select(col("bin"), col("n"), col("sy"))
      val jSide = pre.select(col("bin").as("jb"), col("n").as("jn"), col("sy").as("js"),
        col("cn").as("jcn"), col("cs").as("jcs"))
      val kSide = pre.select(col("bin").as("kb"), col("cn").as("kcn"), col("cs").as("kcs"))
      val seg = jSide.crossJoin(kSide).filter(col("jb") <= col("kb"))
        .select(col("jb"), col("kb"),
          ((col("kcs") - col("jcs") + col("js")).cast("double")
            / (col("kcn") - col("jcn") + col("jn")).cast("double")).as("m"))
      val iso = seg
        .join(broadcast(bins.select(col("bin").as("ib"))),
          col("jb") <= col("ib") && col("kb") >= col("ib"))
        .groupBy("ib", "jb").agg(min("m").as("mn"))
        .groupBy("ib").agg(max("mn").as("iso"))
      bins.join(iso, col("bin") === col("ib"))
        .select(col("bin"), col("n"),
          Quant.quant6(col("sy").cast("double") / col("n")).as("raw_rate"),
          Quant.quant6(col("iso")).as("iso_rate"))
        .orderBy("bin")
    }, Some(s"""
      WITH bins AS (
        SELECT floor(l_discount * 100 + 0.5)::BIGINT AS bin,
               count(*)::BIGINT AS n,
               sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)::BIGINT AS sy
        FROM lineitem GROUP BY 1),
      pre AS (
        SELECT bin, n, sy,
               sum(n) OVER w::BIGINT AS cn, sum(sy) OVER w::BIGINT AS cs
        FROM bins
        WINDOW w AS (ORDER BY bin ROWS UNBOUNDED PRECEDING)),
      seg AS (
        SELECT j.bin AS jb, k.bin AS kb,
               (k.cs - j.cs + j.sy)::DOUBLE / (k.cn - j.cn + j.n)::DOUBLE AS m
        FROM pre j JOIN pre k ON j.bin <= k.bin),
      iso AS (
        SELECT ib, max(mn) AS iso FROM (
          SELECT i.bin AS ib, s.jb, min(s.m) AS mn
          FROM seg s JOIN bins i ON s.jb <= i.bin AND s.kb >= i.bin
          GROUP BY 1, 2)
        GROUP BY 1)
      SELECT b.bin, b.n,
             ${Quant.quant6Sql("b.sy::DOUBLE / b.n")} AS raw_rate,
             ${Quant.quant6Sql("o.iso")} AS iso_rate
      FROM bins b JOIN iso o ON o.ib = b.bin
      ORDER BY b.bin
    """)),

    // ------------------------------------------------------------ K-fold target encoding (round 12)
    // The leakage-safe categorical encoder every tabular/feature
    // pipeline ships: replace a category with the mean of the target
    // computed on the OTHER folds — a row must never see its own
    // label. Out-of-fold mean for (category c, fold f) =
    // (Σc − Σcf)/(Nc − Ncf), so the corpus needs ONE keyed join
    // (orders→customer on custkey) and ONE (category,fold) aggregate;
    // the per-category totals come from a window over that ≤25-row
    // aggregate, not a second scan. Sums are exact integer cents;
    // the only float is the final ratio, quant6'd. Complements q67
    // (row-level leakage-safe splits) at the feature level.
    ("q274_target_encoding", (s, d) => {
      val j = Tables.orders(s, d)
        .select(col("o_custkey"), (col("o_orderkey") % 5).as("fold"),
                floor(col("o_totalprice") * 100 + 0.5).cast("long").as("cents"))
        .join(Tables.customer(s, d).select(col("c_custkey"), col("c_mktsegment")),
              col("o_custkey") === col("c_custkey"))
      val cf = j.groupBy(col("c_mktsegment").as("category"), col("fold"))
        .agg(count(lit(1)).as("n_fold"), sum("cents").as("cents_fold"))
      val wc = Window.partitionBy("category")
      cf.withColumn("n_tot", sum("n_fold").over(wc))
        .withColumn("cents_tot", sum("cents_fold").over(wc))
        .select(col("category"), col("fold"), col("n_fold"),
          Quant.quant6((col("cents_tot") - col("cents_fold")).cast("double")
            / ((col("n_tot") - col("n_fold")) * lit(100.0))).as("oof_mean_price"))
        .orderBy("category", "fold")
    }, Some(s"""
      WITH j AS (
        SELECT c.c_mktsegment AS category, o.o_orderkey % 5 AS fold,
               floor(o.o_totalprice * 100 + 0.5)::BIGINT AS cents
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
      cf AS (
        SELECT category, fold, count(*)::BIGINT AS n_fold, sum(cents)::BIGINT AS cents_fold
        FROM j GROUP BY 1, 2),
      t AS (
        SELECT *, sum(n_fold) OVER w::BIGINT AS n_tot,
               sum(cents_fold) OVER w::BIGINT AS cents_tot
        FROM cf WINDOW w AS (PARTITION BY category))
      SELECT category, fold, n_fold,
             ${Quant.quant6Sql(
               "(cents_tot - cents_fold)::DOUBLE / ((n_tot - n_fold) * 100.0)")}
               AS oof_mean_price
      FROM t
      ORDER BY category, fold
    """)),

    // ------------------------------------------------------------ transition dwell times (round 12)
    // q83 counts type→type transitions; operations needs HOW LONG each
    // transition takes — the dwell-time distribution per (from, to)
    // edge of the behavior graph (median and tail, in whole minutes).
    // One user-keyed window (lead) computes every consecutive dwell in
    // a single pass — the corpus is never self-joined — then a
    // |types|²-bounded rollup takes exact integer-minute percentiles.
    ("q275_transition_dwell", (s, d) => {
      val w = Window.partitionBy("user_id")
        .orderBy(unix_micros(col("ts")), col("event_id"))
      Tables.fanOut(Tables.events(s, d))
        .withColumn("to_type", lead("event_type", 1).over(w))
        .withColumn("next_us", lead(unix_micros(col("ts")), 1).over(w))
        .filter(col("to_type").isNotNull)
        .withColumn("dwell_min", expr("(next_us - unix_micros(ts)) DIV 60000000"))
        .groupBy(col("event_type").as("from_type"), col("to_type"))
        .agg(count(lit(1)).as("n"),
             round(expr("percentile(dwell_min, 0.5)"), 4).as("p50_min"),
             round(expr("percentile(dwell_min, 0.9)"), 4).as("p90_min"),
             max("dwell_min").as("max_min"))
        .orderBy("from_type", "to_type")
    }, Some("""
      WITH hop AS (
        SELECT event_type AS from_type,
               lead(event_type) OVER w AS to_type,
               (lead(epoch_us(ts)) OVER w - epoch_us(ts)) // 60000000 AS dwell_min
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id))
      SELECT from_type, to_type, count(*)::BIGINT AS n,
             round(quantile_cont(dwell_min, 0.5), 4) AS p50_min,
             round(quantile_cont(dwell_min, 0.9), 4) AS p90_min,
             max(dwell_min)::BIGINT AS max_min
      FROM hop
      WHERE to_type IS NOT NULL
      GROUP BY 1, 2
      ORDER BY from_type, to_type
    """)),

    // ------------------------------------------------------------ IPW treatment effect (round 12)
    // Completes the causal family (q207 CUPED, q213 DiD) with the
    // observational-data workhorse: inverse-propensity weighting.
    // Treatment = urgent/high order priority; confounder cells =
    // (segment, nation). Because propensity is estimated AT CELL GRAIN
    // (p̂ = nT/n), the per-row IPW sums collapse algebraically onto the
    // cell aggregates — Σ_{i∈T} y_i/p̂ = Σ_cells syT·n/nT — so the
    // corpus is touched ONCE (keyed join + cell aggregate, all exact
    // integer cents) and every float op runs on the ≤|seg|×|nation|
    // bounded relation. Cells without positivity overlap (nT ∈ {0,n})
    // are trimmed, as any production IPW must. Hajek normalization:
    // Σ_T 1/p̂ = Σ_cells n, so the denominator is just the kept-row
    // count. naive_diff is reported next to ate_ipw so the reader sees
    // the confounding the reweighting removed.
    ("q276_ipw_effect", (s, d) => {
      val cells = Tables.orders(s, d)
        .select(col("o_custkey"),
          when(substring(col("o_orderpriority"), 1, 1).isin("1", "2"), 1L)
            .otherwise(0L).as("t"),
          floor(col("o_totalprice") * 100 + 0.5).cast("long").as("cents"))
        .join(Tables.customer(s, d)
                .select(col("c_custkey"), col("c_mktsegment"), col("c_nationkey")),
              col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment").as("segment"), col("c_nationkey"))
        .agg(count(lit(1)).as("n"), sum("t").as("nt"),
             sum(when(col("t") === 1, col("cents")).otherwise(0L)).as("syt"),
             sum(when(col("t") === 0, col("cents")).otherwise(0L)).as("syc"))
        .filter(col("nt") > 0 && col("nt") < col("n"))
      cells.groupBy("segment")
        .agg(count(lit(1)).as("n_cells"), sum("n").as("n_rows"),
             sum("nt").as("snt"), sum(col("n") - col("nt")).as("snc"),
             sum("syt").as("ssyt"), sum("syc").as("ssyc"),
             sum(col("syt").cast("double") * col("n") / col("nt")).as("wt"),
             sum(col("syc").cast("double") * col("n") / (col("n") - col("nt"))).as("wc"))
        .select(col("segment"), col("n_cells"), col("n_rows"),
          Quant.quant6((col("ssyt").cast("double") / col("snt")
            - col("ssyc").cast("double") / col("snc")) / 100.0).as("naive_diff"),
          Quant.quant6((col("wt") - col("wc"))
            / (col("n_rows").cast("double") * 100.0)).as("ate_ipw"))
        .orderBy("segment")
    }, Some(s"""
      WITH cells AS (
        SELECT c.c_mktsegment AS segment, c.c_nationkey,
               count(*)::BIGINT AS n,
               sum(CASE WHEN substr(o.o_orderpriority, 1, 1) IN ('1','2')
                        THEN 1 ELSE 0 END)::BIGINT AS nt,
               sum(CASE WHEN substr(o.o_orderpriority, 1, 1) IN ('1','2')
                        THEN floor(o.o_totalprice * 100 + 0.5)::BIGINT
                        ELSE 0 END)::BIGINT AS syt,
               sum(CASE WHEN substr(o.o_orderpriority, 1, 1) IN ('1','2')
                        THEN 0
                        ELSE floor(o.o_totalprice * 100 + 0.5)::BIGINT END)::BIGINT AS syc
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY 1, 2
        HAVING nt > 0 AND nt < n),
      seg AS (
        SELECT segment, count(*)::BIGINT AS n_cells, sum(n)::BIGINT AS n_rows,
               sum(nt)::BIGINT AS snt, sum(n - nt)::BIGINT AS snc,
               sum(syt)::BIGINT AS ssyt, sum(syc)::BIGINT AS ssyc,
               sum(syt::DOUBLE * n / nt) AS wt,
               sum(syc::DOUBLE * n / (n - nt)) AS wc
        FROM cells GROUP BY 1)
      SELECT segment, n_cells, n_rows,
             ${Quant.quant6Sql("(ssyt::DOUBLE / snt - ssyc::DOUBLE / snc) / 100.0")}
               AS naive_diff,
             ${Quant.quant6Sql("(wt - wc) / (n_rows::DOUBLE * 100.0)")} AS ate_ipw
      FROM seg
      ORDER BY segment
    """)),

    // ------------------------------------------------------------ adaptive-gap sessionization (round 12)
    // q29/q30 sessionize with one global gap; real user bases mix
    // tick-speed bots with once-a-day humans, so production pipelines
    // set the gap PER USER — here max(5 min, 2× the user's own median
    // interarrival). ALL per-user steps (lag, median-as-window-
    // aggregate, boundary cumsum) run on ONE user hash partitioning
    // over ONE scan — no threshold join at all, so there is no
    // user-dimension relation to broadcast (the q240 trap) and the
    // user dimension can grow without bound.
    ("q277_adaptive_sessions", (s, d) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("us"), col("event_id"))
      val wu = Window.partitionBy("user_id")
      Tables.fanOut(Tables.events(s, d))
        .select(col("user_id"), unix_micros(col("ts")).as("us"), col("event_id"))
        .withColumn("gap", col("us") - lag("us", 1).over(w))
        .withColumn("med_gap", expr("percentile(gap, 0.5)").over(wu))
        // explicit null branch (single-event users have no gaps):
        // greatest() skips nulls in Spark but not in DuckDB.
        .withColumn("thr_us",
          when(col("med_gap").isNull, lit(300000000.0))
            .otherwise(greatest(lit(300000000.0), col("med_gap") * 2.0)))
        .withColumn("brk",
          when(col("gap").isNull || col("gap").cast("double") > col("thr_us"), 1L)
            .otherwise(0L))
        .withColumn("sess", sum("brk").over(w))
        .groupBy(col("user_id"), col("sess"))
        .agg(count(lit(1)).as("sess_events"), max("thr_us").as("thr_us"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_sessions"), sum("sess_events").as("n_events"),
             max("sess_events").as("max_session_events"),
             Quant.quant6(max("thr_us") / 60000000.0).as("thr_min"))
        .orderBy("user_id")
    }, Some(s"""
      WITH ev AS (
        SELECT user_id, epoch_us(ts) AS us, event_id,
               epoch_us(ts) - lag(epoch_us(ts)) OVER w AS gap
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)),
      th AS (
        SELECT user_id, us, event_id, gap,
               quantile_cont(gap, 0.5) OVER (PARTITION BY user_id) AS med_gap
        FROM ev),
      br AS (
        SELECT user_id, us, event_id,
               CASE WHEN med_gap IS NULL THEN 300000000.0
                    ELSE greatest(300000000.0, 2.0 * med_gap) END AS thr_us,
               CASE WHEN gap IS NULL OR gap::DOUBLE > (
                      CASE WHEN med_gap IS NULL THEN 300000000.0
                           ELSE greatest(300000000.0, 2.0 * med_gap) END)
                    THEN 1 ELSE 0 END AS brk
        FROM th),
      se AS (
        SELECT user_id, thr_us,
               sum(brk) OVER (PARTITION BY user_id ORDER BY us, event_id
                 ROWS UNBOUNDED PRECEDING) AS sess
        FROM br),
      per AS (
        SELECT user_id, sess, count(*)::BIGINT AS sess_events,
               max(thr_us) AS thr_us
        FROM se GROUP BY 1, 2)
      SELECT user_id, count(*)::BIGINT AS n_sessions,
             sum(sess_events)::BIGINT AS n_events,
             max(sess_events)::BIGINT AS max_session_events,
             ${Quant.quant6Sql("max(thr_us) / 60000000.0")} AS thr_min
      FROM per GROUP BY 1
      ORDER BY user_id
    """)),

    // ------------------------------------------------------------ bounded edit-distance pairs (round 12)
    // q159's blocked record linkage with the other classic distance:
    // Levenshtein, using Spark's THRESHOLD variant — banded O(k·n) DP
    // with early exit instead of the full O(n·m) matrix, the form that
    // matters when the blocked candidate set is still millions of
    // pairs. Same noun-block equi-join keeps candidates bounded
    // (never all-pairs); the -1 sentinel from the banded form becomes
    // the ≤k filter.
    ("q278_bounded_edit_pairs", (s, d) => {
      val names = Tables.part(s, d).select(col("p_name")).distinct()
        .withColumn("noun", element_at(split(col("p_name"), " "), 2))
      val a = names.select(col("p_name").as("name_a"), col("noun"))
      val b = names.select(col("p_name").as("name_b"), col("noun").as("noun_b"))
      a.join(b, col("noun") === col("noun_b") && col("name_a") < col("name_b"))
        .select(col("name_a"), col("name_b"),
          levenshtein(col("name_a"), col("name_b"), 4).as("dist"))
        .filter(col("dist") >= 0)
        .orderBy(col("dist"), col("name_a"), col("name_b"))
    }, Some("""
      WITH n AS (
        SELECT DISTINCT p_name, split_part(p_name, ' ', 2) AS noun FROM part)
      SELECT a.p_name AS name_a, b.p_name AS name_b,
             levenshtein(a.p_name, b.p_name)::INT AS dist
      FROM n a JOIN n b ON a.noun = b.noun AND a.p_name < b.p_name
      WHERE levenshtein(a.p_name, b.p_name) <= 4
      ORDER BY dist, name_a, name_b
    """)),

    // ------------------------------------------------------------ decision-stump split scoring (round 12)
    // The tree-learner primitive: information gain of every candidate
    // (feature, threshold) split against a binary label, from ONE
    // corpus pass. Features are unpivoted with a single stack() Expand
    // (never three self-scans), counts per (feature, value) are exact
    // integers, and the threshold curve comes from a prefix window
    // over the ≤|values|-bounded aggregate — so every ln() runs on a
    // ~70-row relation. The full IG curve is emitted rather than an
    // argmax: near-flat curves (label ≈ independent of feature, as
    // here) make argmax ulp-fragile across engines, while the curve
    // itself is stable under quant6.
    ("q279_best_split", (s, d) => {
      val fv = Tables.fanOut(Tables.lineitem(s, d))
        .select(when(col("l_returnflag") === "R", 1L).otherwise(0L).as("y"),
          expr("""stack(3,
            'quantity',     CAST(l_quantity AS BIGINT),
            'discount_pct', CAST(floor(l_discount * 100 + 0.5) AS BIGINT),
            'tax_pct',      CAST(floor(l_tax * 100 + 0.5) AS BIGINT)) AS (feature, v)"""))
        .groupBy("feature", "v")
        .agg(count(lit(1)).as("n"), sum("y").as("np"))
      val wf = Window.partitionBy("feature").orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
      val wt = Window.partitionBy("feature")
      // H(p) with 0·ln 0 = 0, on exact integer ratios
      def ent(p: Column): Column =
        -(when(p > 0, p * log(p)).otherwise(0.0)
          + when(p < 1, (lit(1.0) - p) * log(lit(1.0) - p)).otherwise(0.0))
      fv.withColumn("cn", sum("n").over(wf)).withColumn("cp", sum("np").over(wf))
        .withColumn("tn", sum("n").over(wt)).withColumn("tp", sum("np").over(wt))
        .filter(col("cn") < col("tn")) // top value splits nothing off
        .select(col("feature"), col("v").as("threshold"),
          col("cn").as("n_left"), (col("tn") - col("cn")).as("n_right"),
          Quant.quant6(
            ent(col("tp").cast("double") / col("tn"))
              - col("cn").cast("double") / col("tn")
                * ent(col("cp").cast("double") / col("cn"))
              - (col("tn") - col("cn")).cast("double") / col("tn")
                * ent((col("tp") - col("cp")).cast("double") / (col("tn") - col("cn"))))
            .as("info_gain"))
        .orderBy("feature", "threshold")
    }, Some(s"""
      WITH fv AS (
        SELECT feature, v, count(*)::BIGINT AS n,
               sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)::BIGINT AS np
        FROM (
          SELECT l_returnflag, f.feature, f.v
          FROM lineitem,
               LATERAL (VALUES ('quantity',     l_quantity::BIGINT),
                               ('discount_pct', floor(l_discount * 100 + 0.5)::BIGINT),
                               ('tax_pct',      floor(l_tax * 100 + 0.5)::BIGINT))
                 AS f(feature, v))
        GROUP BY 1, 2),
      cum AS (
        SELECT feature, v, n, np,
               sum(n) OVER wf::BIGINT AS cn, sum(np) OVER wf::BIGINT AS cp,
               sum(n) OVER wt::BIGINT AS tn, sum(np) OVER wt::BIGINT AS tp
        FROM fv
        WINDOW wf AS (PARTITION BY feature ORDER BY v ROWS UNBOUNDED PRECEDING),
               wt AS (PARTITION BY feature)),
      ig AS (
        SELECT feature, v AS threshold, cn AS n_left, tn - cn AS n_right,
               -(CASE WHEN tp > 0 THEN tp::DOUBLE/tn * ln(tp::DOUBLE/tn) ELSE 0 END
                 + CASE WHEN tp < tn THEN (1.0 - tp::DOUBLE/tn) * ln(1.0 - tp::DOUBLE/tn) ELSE 0 END)
               - cn::DOUBLE/tn *
                 (-(CASE WHEN cp > 0 THEN cp::DOUBLE/cn * ln(cp::DOUBLE/cn) ELSE 0 END
                    + CASE WHEN cp < cn THEN (1.0 - cp::DOUBLE/cn) * ln(1.0 - cp::DOUBLE/cn) ELSE 0 END))
               - (tn - cn)::DOUBLE/tn *
                 (-(CASE WHEN tp - cp > 0 THEN (tp-cp)::DOUBLE/(tn-cn) * ln((tp-cp)::DOUBLE/(tn-cn)) ELSE 0 END
                    + CASE WHEN tp - cp < tn - cn THEN (1.0 - (tp-cp)::DOUBLE/(tn-cn)) * ln(1.0 - (tp-cp)::DOUBLE/(tn-cn)) ELSE 0 END))
                 AS gain
        FROM cum WHERE cn < tn)
      SELECT feature, threshold, n_left, n_right,
             ${Quant.quant6Sql("gain")} AS info_gain
      FROM ig
      ORDER BY feature, threshold
    """)),

    // ------------------------------------------------------------ interval-union coverage audit (round 12)
    // Interval algebra the relational way: error events become
    // incident windows [ts, ts + max(1, ⌊value⌋) min); per user the
    // audit reports how much wall-clock the union covers vs the summed
    // lengths (the difference IS the overlap — double-counted alert
    // time). Islands are detected with the running-max-end trick (a
    // start beyond every previous end opens a new island) — one
    // user-keyed window pass, no self-join, exact integer µs
    // throughout. Complements q172 (instantaneous peak concurrency)
    // with the integral view.
    ("q280_interval_coverage", (s, d) => {
      val w = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
      val iv = Tables.fanOut(Tables.events(s, d))
        .filter(col("event_type") === "error")
        .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"),
          (greatest(lit(1L), floor(col("value")).cast("long")) * 60000000L).as("dur_us"))
        .withColumn("end_us", col("us") + col("dur_us"))
        .withColumn("prev_max_end",
          max("end_us").over(w.rowsBetween(Window.unboundedPreceding, -1)))
        .withColumn("brk",
          when(col("prev_max_end").isNull || col("us") > col("prev_max_end"), 1L)
            .otherwise(0L))
        .withColumn("island", sum("brk").over(w))
      iv.groupBy(col("user_id"), col("island"))
        .agg(count(lit(1)).as("n_inc"), sum("dur_us").as("len_us"),
             min("us").as("start_us"), max("end_us").as("iend_us"))
        .groupBy("user_id")
        .agg(sum("n_inc").as("n_incidents"), count(lit(1)).as("n_islands"),
             sum(col("iend_us") - col("start_us")).as("cov_us"),
             sum("len_us").as("tot_us"),
             max(col("iend_us") - col("start_us")).as("max_us"))
        // DIV, not `/`: Column./ on longs is double division
        .select(col("user_id"), col("n_incidents"), col("n_islands"),
          expr("cov_us DIV 60000000").as("covered_min"),
          expr("(tot_us - cov_us) DIV 60000000").as("overlap_min"),
          expr("max_us DIV 60000000").as("max_island_min"))
        .orderBy("user_id")
    }, Some("""
      WITH iv AS (
        SELECT user_id, event_id, epoch_us(ts) AS us,
               greatest(1, floor(value)::BIGINT) * 60000000 AS dur_us,
               epoch_us(ts) + greatest(1, floor(value)::BIGINT) * 60000000 AS end_us
        FROM events WHERE event_type = 'error'),
      mk AS (
        SELECT *, max(end_us) OVER (PARTITION BY user_id ORDER BY us, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max_end
        FROM iv),
      il AS (
        SELECT *, sum(CASE WHEN prev_max_end IS NULL OR us > prev_max_end
                           THEN 1 ELSE 0 END)
                 OVER (PARTITION BY user_id ORDER BY us, event_id
                   ROWS UNBOUNDED PRECEDING) AS island
        FROM mk),
      isl AS (
        SELECT user_id, island, count(*)::BIGINT AS n_inc,
               sum(dur_us)::BIGINT AS len_us,
               min(us) AS start_us, max(end_us) AS iend_us
        FROM il GROUP BY 1, 2)
      SELECT user_id, sum(n_inc)::BIGINT AS n_incidents,
             count(*)::BIGINT AS n_islands,
             (sum(iend_us - start_us) // 60000000)::BIGINT AS covered_min,
             ((sum(len_us) - sum(iend_us - start_us)) // 60000000)::BIGINT AS overlap_min,
             (max(iend_us - start_us) // 60000000)::BIGINT AS max_island_min
      FROM isl GROUP BY 1
      ORDER BY user_id
    """)),

    // ------------------------------------------------------------ time-weighted average (round 12)
    // TWAP — the finance/ops aggregate a plain avg() gets wrong when
    // samples are irregular: each observation holds until the next, so
    // its weight is its dwell. One user-keyed lead window computes the
    // dwell weights (exact integer µs), then one aggregate forms
    // Σ v·w / Σ w next to the unweighted mean so the irregularity bias
    // is visible. Users need ≥2 events to have any dwell.
    ("q281_twap", (s, d) => {
      val w = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
      Tables.fanOut(Tables.events(s, d))
        .select(col("user_id"), col("event_id"), col("value"),
          unix_micros(col("ts")).as("us"))
        .withColumn("w_us", lead("us", 1).over(w) - col("us"))
        .filter(col("w_us").isNotNull)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_spans"),
             Quant.quant6(sum(col("value") * col("w_us")) / sum("w_us")).as("twap"),
             Quant.quant6(avg("value")).as("plain_mean"))
        .orderBy("user_id")
    }, Some(s"""
      WITH sp AS (
        SELECT user_id, value,
               lead(epoch_us(ts)) OVER w - epoch_us(ts) AS w_us
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id))
      SELECT user_id, count(*)::BIGINT AS n_spans,
             ${Quant.quant6Sql("sum(value * w_us) / sum(w_us)")} AS twap,
             ${Quant.quant6Sql("avg(value)")} AS plain_mean
      FROM sp WHERE w_us IS NOT NULL
      GROUP BY 1
      ORDER BY user_id
    """)),

    // ------------------------------------------------------------ Simpson's-paradox audit (round 12)
    // The confounding detector: the discount→quantity slope pooled
    // over everything vs within each nation stratum. Slopes are exact
    // integer-sum ratios (n·Σxy − ΣxΣy)/(n·Σx² − (Σx)²), so their
    // SIGNS — and therefore the reversal count, the audit's headline —
    // are bit-deterministic across engines; only the quant6'd
    // magnitudes are floats. Corpus path: lineitem⋈orders keyed
    // shuffle, customer dim join, one stratum aggregate; every
    // division happens on the ≤|nation| relation, pooled sums roll up
    // from the stratum sums (no second scan).
    ("q282_simpson_audit", (s, d) => {
      val strata = Tables.fanOut(Tables.lineitem(s, d))
        .select(col("l_orderkey"),
          floor(col("l_discount") * 100 + 0.5).cast("long").as("x"),
          col("l_quantity").cast("long").as("y"))
        .join(Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey")),
              col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, d).select(col("c_custkey"), col("c_nationkey")),
              col("o_custkey") === col("c_custkey"))
        .groupBy("c_nationkey")
        .agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
             sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
        .withColumn("slope",
          (col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
            / (col("n") * col("sxx") - col("sx") * col("sx")))
      strata
        .agg(sum("n").as("n"), sum("sx").as("sx"), sum("sy").as("sy"),
             sum("sxy").as("sxy"), sum("sxx").as("sxx"),
             count(lit(1)).as("n_strata"),
             Quant.quant6(min("slope")).as("min_stratum_slope"),
             Quant.quant6(max("slope")).as("max_stratum_slope"),
             sum(when(col("slope") < 0, 1L).otherwise(0L)).as("n_negative"))
        .select(col("n_strata"), col("n_negative"),
          Quant.quant6((col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
            / (col("n") * col("sxx") - col("sx") * col("sx"))).as("pooled_slope"),
          col("min_stratum_slope"), col("max_stratum_slope"),
          (col("n_negative") > 0 &&
            (col("n") * col("sxy") - col("sx") * col("sy")) > 0
            || (col("n_strata") - col("n_negative")) > 0 &&
               (col("n") * col("sxy") - col("sx") * col("sy")) < 0)
            .as("sign_reversal_present"))
    }, Some(s"""
      WITH strata AS (
        SELECT c.c_nationkey, count(*)::BIGINT AS n,
               sum(floor(l.l_discount * 100 + 0.5)::BIGINT)::BIGINT AS sx,
               sum(l.l_quantity::BIGINT)::BIGINT AS sy,
               sum(floor(l.l_discount * 100 + 0.5)::BIGINT * l.l_quantity::BIGINT)::BIGINT AS sxy,
               sum(floor(l.l_discount * 100 + 0.5)::BIGINT
                   * floor(l.l_discount * 100 + 0.5)::BIGINT)::BIGINT AS sxx
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY 1),
      sl AS (
        SELECT *, (n * sxy - sx * sy)::DOUBLE / (n * sxx - sx * sx) AS slope
        FROM strata)
      SELECT count(*)::BIGINT AS n_strata,
             sum(CASE WHEN slope < 0 THEN 1 ELSE 0 END)::BIGINT AS n_negative,
             ${Quant.quant6Sql(
               "(sum(n) * sum(sxy) - sum(sx) * sum(sy))::DOUBLE / (sum(n) * sum(sxx) - sum(sx) * sum(sx))")}
               AS pooled_slope,
             ${Quant.quant6Sql("min(slope)")} AS min_stratum_slope,
             ${Quant.quant6Sql("max(slope)")} AS max_stratum_slope,
             (sum(CASE WHEN slope < 0 THEN 1 ELSE 0 END) > 0
                AND (sum(n) * sum(sxy) - sum(sx) * sum(sy)) > 0)
             OR (sum(CASE WHEN slope >= 0 THEN 1 ELSE 0 END) > 0
                AND (sum(n) * sum(sxy) - sum(sx) * sum(sy)) < 0)
               AS sign_reversal_present
      FROM sl
    """)),

    // ------------------------------------------------------------ Qini uplift curve (round 12)
    // The targeting question behind every campaign: if we can only
    // treat the top-k% by model score, how much INCREMENTAL response
    // do we capture? Units are users, treatment is the q213 hash
    // split, outcome is any post-cut purchase, and the ranking score
    // is pre-cut click count (the "model"). Qini(k) = Rt(k) −
    // Rc(k)·Nt(k)/Nc(k) over cumulative deciles — exact integer
    // counts; the only floats are the per-decile uplift and qini
    // ratios. Scale shape: the global score ranking uses the two-pass
    // PrefixSum (never a single-partition row_number over users);
    // decile assignment is integer arithmetic against a 1-row total;
    // cumulative windows run on the 10-row decile relation.
    ("q289_qini_uplift", (s, d) => {
      val cut = lit("2024-01-24 00:00:00").cast("timestamp")
      val perUser = Tables.fanOut(Tables.events(s, d))
        .groupBy("user_id")
        .agg(sum(when(col("event_type") === "click" && col("ts") < cut, 1L)
               .otherwise(0L)).as("score"),
             max(when(col("event_type") === "purchase" && col("ts") >= cut, 1L)
               .otherwise(0L)).as("y"))
        .withColumn("t", (col("user_id") % 2).cast("long"))
        .graftCheckpoint() // rank pass + total both read it
      val n = perUser.agg(count(lit(1)).as("n"))
      val ranked = PrefixSum.cumSum(perUser,
        Seq(col("score").desc, col("user_id")), lit(1L), "rk")
      val dec = ranked.crossJoin(broadcast(n))
        .withColumn("decile", expr("((rk - 1) * 10) DIV n") + 1)
        .groupBy("decile")
        .agg(sum("t").as("n_t"), sum(lit(1L) - col("t")).as("n_c"),
             sum(col("t") * col("y")).as("r_t"),
             sum((lit(1L) - col("t")) * col("y")).as("r_c"))
      val wc = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
      dec
        .withColumn("cnt", sum("n_t").over(wc)).withColumn("cnc", sum("n_c").over(wc))
        .withColumn("crt", sum("r_t").over(wc)).withColumn("crc", sum("r_c").over(wc))
        .select(col("decile"), col("n_t"), col("n_c"), col("r_t"), col("r_c"),
          // nullif-guard: a decile prefix with no treated (or control)
          // users yet has no defined uplift — NULL on both engines,
          // never a div-by-zero (tiny-SF top deciles can be one-sided)
          Quant.quant6(col("crt").cast("double") / nullif(col("cnt"), lit(0L))
            - col("crc").cast("double") / nullif(col("cnc"), lit(0L))).as("uplift_at_k"),
          Quant.quant6(col("crt")
            - col("crc").cast("double") * col("cnt")
              / nullif(col("cnc"), lit(0L))).as("qini"))
        .orderBy("decile")
    }, Some(s"""
      WITH pu AS (
        SELECT user_id,
               sum(CASE WHEN event_type = 'click'
                         AND ts < TIMESTAMP '2024-01-24 00:00:00'
                        THEN 1 ELSE 0 END)::BIGINT AS score,
               max(CASE WHEN event_type = 'purchase'
                         AND ts >= TIMESTAMP '2024-01-24 00:00:00'
                        THEN 1 ELSE 0 END)::BIGINT AS y,
               (user_id % 2)::BIGINT AS t
        FROM events GROUP BY 1),
      rk AS (
        SELECT *, row_number() OVER (ORDER BY score DESC, user_id) AS rk,
               count(*) OVER () AS n
        FROM pu),
      dec AS (
        SELECT ((rk - 1) * 10) // n + 1 AS decile,
               sum(t)::BIGINT AS n_t, sum(1 - t)::BIGINT AS n_c,
               sum(t * y)::BIGINT AS r_t, sum((1 - t) * y)::BIGINT AS r_c
        FROM rk GROUP BY 1),
      cm AS (
        SELECT *, sum(n_t) OVER w::BIGINT AS cnt, sum(n_c) OVER w::BIGINT AS cnc,
               sum(r_t) OVER w::BIGINT AS crt, sum(r_c) OVER w::BIGINT AS crc
        FROM dec
        WINDOW w AS (ORDER BY decile ROWS UNBOUNDED PRECEDING))
      SELECT decile, n_t, n_c, r_t, r_c,
             ${Quant.quant6Sql(
               "crt::DOUBLE / nullif(cnt, 0) - crc::DOUBLE / nullif(cnc, 0)")}
               AS uplift_at_k,
             ${Quant.quant6Sql("crt - crc::DOUBLE * cnt / nullif(cnc, 0)")} AS qini
      FROM cm
      ORDER BY decile
    """))
  )
}
