package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{QueryGroup, Tables}
import graft.Tables.GraftCheckpointOps
import graft.functions.TextFunctions.tokensSql

/** Remaining SURVEY §2.2 taxonomy rows not covered by the core
  * relational corpus: sketch aggregation (HLL approx-distinct), a
  * custom typed Aggregator (UDAF), map expressions, RANGE window
  * frames, and custom Catalyst expressions registered for SQL use.
  */
object Advanced extends QueryGroup {

  /** Dense per-type daily count series (q265/q266): a calendar gap day
    * is a ZERO-count observation, not a missing row — lag alignment
    * (ACF) and cumulative deviation (CUSUM) are both wrong on a sparse
    * series. The spine is calendar-bounded (span days × |event types|),
    * so every downstream window/join is over a bounded relation no
    * matter the corpus size; checkpointed because ACF reads it from
    * two sides of a self-join.
    */
  private def dailyFilled(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.fanOut(Tables.events(s, d))
      .groupBy(col("event_type"),
        datediff(col("ts").cast("date"), lit("2024-01-01").cast("date")).as("day"))
      .agg(count(lit(1)).as("cnt"))
    val span = daily.groupBy("event_type").agg(min("day").as("d0"), max("day").as("d1"))
    span.select(col("event_type"), explode(sequence(col("d0"), col("d1"))).as("day"))
      .join(daily, Seq("event_type", "day"), "left")
      .select(col("event_type"), col("day"),
              coalesce(col("cnt"), lit(0L)).as("x"))
      .graftCheckpoint()
  }

  /** DuckDB mirror of [[dailyFilled]]. */
  private val dailyFilledSql = """
      daily AS (
        SELECT event_type, datediff('day', DATE '2024-01-01', ts::DATE) AS day,
               count(*)::BIGINT AS cnt
        FROM events GROUP BY 1, 2),
      span AS (SELECT event_type, min(day) AS d0, max(day) AS d1 FROM daily GROUP BY 1),
      filled AS (
        SELECT f.event_type, f.day, coalesce(d.cnt, 0)::BIGINT AS x
        FROM (SELECT event_type, unnest(generate_series(d0, d1)) AS day FROM span) f
        LEFT JOIN daily d USING (event_type, day))"""

  override protected val entries: Vector[(String, (SparkSession, String) => DataFrame, Option[String])] = Vector(

    // ------------------------------------------------------------ HLL sketch aggregation
    // approx_count_distinct is HLL++; DuckDB's approx_distinct is a
    // different sketch, so no hash oracle — AdvancedSpec bounds the
    // relative error against the exact count instead.
    // Mixing countDistinct with non-distinct aggs forces Catalyst's
    // Expand-based distinct rewrite (every input row duplicated per
    // aggregate group through the shuffle). Splitting the exact count
    // into its own two-level aggregation keeps both pipelines on the
    // cheap partial+final path, joined on the 3-row group key.
    ("q48_approx_distinct", (s, d) => {
      val exact = Tables.lineitem(s, d)
        .select("l_returnflag", "l_partkey").distinct()
        .groupBy("l_returnflag").agg(count(lit(1)).as("exact_parts"))
      val approx = Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(approx_count_distinct(col("l_partkey"), 0.02).as("approx_parts"),
             approx_count_distinct(col("l_suppkey"), 0.02).as("approx_supps"))
      exact.join(approx, "l_returnflag")
        .select("l_returnflag", "exact_parts", "approx_parts", "approx_supps")
        .orderBy("l_returnflag")
    }, None),

    // ------------------------------------------------------------ approximate percentiles (GK sketch)
    // The mergeable-sketch companion to exact q57 — what you'd actually
    // run at 100 TB (percentile() sorts per group; approx_percentile is
    // a bounded-memory mergeable summary). Sketch outputs differ across
    // engines, so no hash oracle; AdvancedSpec bounds the error against
    // the exact q57 values instead.
    ("q59_approx_percentiles", (s, d) => {
      Tables.orders(s, d)
        .groupBy("o_orderstatus")
        .agg(expr("approx_percentile(o_totalprice, array(0.5, 0.9, 0.99), 1000)").as("p"))
        .select(col("o_orderstatus"),
                element_at(col("p"), 1).as("p50"),
                element_at(col("p"), 2).as("p90"),
                element_at(col("p"), 3).as("p99"))
        .orderBy("o_orderstatus")
    }, None),

    // ------------------------------------------------------------ count-min heavy hitters (round 4)
    // Completes the mergeable-sketch family (bloom q73, HLL q48/q88,
    // GK q59): estimate term frequencies from ONE distributed
    // count-min aggregate instead of a corpus-wide groupBy — the
    // 100 TB heavy-hitters pattern. Only sketch bytes (~1 MB at
    // eps=1e-3) cross the driver, the q73 rule; candidates come from
    // an exact pass over the 1% doc sample, and the driver probes the
    // sketch locally for just those. Deterministic (fixed seed;
    // counter updates commute), so the output is stable — but DuckDB
    // has no CMS, so the check is AdvancedSpec's guarantee asserts
    // (est ≥ exact always; bounded overestimate) rather than an oracle.
    // The candidate terms STAY a DataFrame end to end: the sketch
    // bytes are broadcast and probed executor-side (one deserialize
    // per partition), so the only thing that ever crosses the driver
    // is the ~1 MB sketch — at 100× corpus the candidate vocabulary
    // scales with the data but never funnels through the driver.
    ("q97_cms_heavy_hitters", (s, d) => {
      import graft.functions.TextFunctions.tokens
      val bytes = Tables.fanOut(Tables.documents(s, d))
        .select(explode(tokens(col("text"))).as("term"))
        .agg(expr("count_min_sketch(term, 0.001d, 0.99d, 42)"))
        .head.getAs[Array[Byte]](0)
      val bcSketch = s.sparkContext.broadcast(bytes)
      import s.implicits._
      Tables.documents(s, d).filter(col("doc_id") % 100 === 0)
        .select(explode(tokens(col("text"))).as("term")).distinct()
        .as[String]
        .mapPartitions { terms =>
          val cms = org.apache.spark.util.sketch.CountMinSketch
            .readFrom(new java.io.ByteArrayInputStream(bcSketch.value))
          terms.map(t => (t, cms.estimateCount(t)))
        }
        .toDF("term", "est_count")
        .orderBy(col("est_count").desc, col("term"))
    }, None),

    // ------------------------------------------------------------ mergeable HLL rollup (round 4)
    // The incremental-distinct pattern: sketch each day ONCE, answer
    // any coarser rollup by merging sketches — at 100 TB you never
    // recount history, you union yesterday's sketch. DataSketches HLL
    // register maxima commute, so per-day sketches and their union are
    // deterministic regardless of partitioning. No oracle (DuckDB's
    // approx sketch differs); AdvancedSpec bounds each estimate
    // against the exact distinct count.
    ("q98_hll_incremental", (s, d) => {
      val daily = Tables.events(s, d)
        .select(to_date(col("ts")).as("day"), col("user_id"))
        .groupBy("day").agg(expr("hll_sketch_agg(user_id, 12)").as("sk"))
      val perDay = daily.select(col("day").cast("string").as("period"),
        expr("hll_sketch_estimate(sk)").as("est_users"))
      val total = daily
        .agg(expr("hll_sketch_estimate(hll_union_agg(sk, false))").as("est_users"))
        .select(lit("total").as("period"), col("est_users"))
      perDay.unionByName(total).orderBy("period")
    }, None),

    // ------------------------------------------------------------ CDC upsert merge (round 4)
    // Last-write-wins MERGE — the incremental-snapshot maintenance op
    // (Delta/Iceberg MERGE INTO, expressed Spark-native): union the
    // snapshot (version 0) with a CDC batch (version 1, here a
    // deterministic 1-in-97-keys update slice), keep the max-version
    // row per key via one key-partitioned window. ONE key shuffle — at
    // 100 TB the snapshot is bucketed by key (q96) and the CDC batch is
    // tiny, so the window runs bucket-local with no snapshot shuffle at
    // all. Output is a post-merge status rollup in integer cents
    // (order-free long sums) proving updated AND untouched rows landed.
    ("q100_upsert_merge", (s, d) => {
      val snap = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
                lit(0).as("version"))
      val cdc = Tables.orders(s, d)
        .filter(col("o_orderkey") % 97 === 0)
        .select(col("o_orderkey"), lit("X").as("o_orderstatus"),
                (col("o_totalprice") + 10.0).as("o_totalprice"), lit(1).as("version"))
      val wk = Window.partitionBy("o_orderkey").orderBy(col("version").desc)
      snap.unionByName(cdc)
        .withColumn("rn", row_number().over(wk))
        .filter(col("rn") === 1)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_orders"),
             sum(floor(col("o_totalprice") * 100 + 0.5).cast("long")).as("price_cents"))
        .orderBy("o_orderstatus")
    }, Some("""
      WITH cdc AS (
        SELECT o_orderkey, 'X' AS o_orderstatus, o_totalprice + 10.0 AS o_totalprice, 1 AS version
        FROM orders WHERE o_orderkey % 97 = 0
      ),
      unioned AS (
        SELECT o_orderkey, o_orderstatus, o_totalprice, 0 AS version FROM orders
        UNION ALL SELECT * FROM cdc
      ),
      merged AS (
        SELECT * FROM unioned
        QUALIFY row_number() OVER (PARTITION BY o_orderkey ORDER BY version DESC) = 1
      )
      SELECT o_orderstatus, count(*) AS n_orders,
             sum(floor(o_totalprice * 100 + 0.5))::BIGINT AS price_cents
      FROM merged GROUP BY o_orderstatus ORDER BY o_orderstatus
    """)),

    // ------------------------------------------------------------ ordered CDC apply (round 12)
    // q100's missing half: applying an ORDERED multi-op changelog with
    // DELETE tombstones (Debezium/binlog replay), not a single
    // last-write-wins batch. Each lineitem row is an op on its order —
    // upsert, or a tombstone when returned ('R') — sequenced by
    // (ship date, line number); the final state is whatever the LAST
    // op per key says, deletes erasing the key. Output is the live /
    // deleted census by final-op month with live value in exact
    // integer cents. Scale shape: ONE key-partitioned window picks
    // each key's final op (bucket-local under q96 layout — no shuffle
    // at all on a bucketed snapshot), then a month-bounded rollup;
    // the changelog is never self-joined and never replayed per op.
    ("q263_cdc_apply", (s, d) => {
      val log = Tables.fanOut(Tables.lineitem(s, d))
        .select(col("l_orderkey").as("key"),
                col("l_shipdate").as("ts"), col("l_linenumber").as("seq"),
                when(col("l_returnflag") === "R", "D").otherwise("U").as("op"),
                col("l_extendedprice").as("value"))
      // (ts, seq) is not a total order on this synthetic changelog (a
      // handful of orders carry duplicate line numbers), so the pick
      // tie-breaks on (op, value) too — rows still tied after that are
      // identical in every consumed column, so the answer is unique
      val wk = Window.partitionBy("key")
        .orderBy(col("ts").desc, col("seq").desc, col("op"), col("value").desc)
      log.withColumn("rn", row_number().over(wk)).filter(col("rn") === 1)
        .groupBy(date_format(col("ts"), "yyyy-MM").as("month"))
        .agg(sum(when(col("op") === "U", 1L).otherwise(0L)).as("n_live"),
             sum(when(col("op") === "D", 1L).otherwise(0L)).as("n_deleted"),
             sum(when(col("op") === "U", floor(col("value") * 100 + 0.5).cast("long"))
               .otherwise(0L)).as("live_value_cents"))
        .orderBy("month")
    }, Some("""
      WITH log AS (
        SELECT l_orderkey AS key, l_shipdate AS ts, l_linenumber AS seq,
               CASE WHEN l_returnflag = 'R' THEN 'D' ELSE 'U' END AS op,
               l_extendedprice AS value
        FROM lineitem),
      last AS (
        SELECT * FROM log
        QUALIFY row_number() OVER (PARTITION BY key
                                   ORDER BY ts DESC, seq DESC, op, value DESC) = 1)
      SELECT strftime(ts, '%Y-%m') AS month,
             sum(CASE WHEN op = 'U' THEN 1 ELSE 0 END)::BIGINT AS n_live,
             sum(CASE WHEN op = 'D' THEN 1 ELSE 0 END)::BIGINT AS n_deleted,
             sum(CASE WHEN op = 'U' THEN floor(value * 100 + 0.5)::BIGINT ELSE 0 END)::BIGINT
               AS live_value_cents
      FROM last
      GROUP BY 1
      ORDER BY month
    """)),

    // ------------------------------------------------------------ SCD Type-2 history build (round 12)
    // q263 keeps only each key's FINAL state; the warehouse twin is the
    // slowly-changing-dimension TYPE-2 build — every attribute change
    // opens a new effective-dated version, closed by the next change.
    // The changelog is lineitem replayed per order: tracked attribute =
    // returnflag||linestatus, ordered by (ship date, line number). Two
    // window passes over ONE key partitioning (change-detect via lag,
    // then close each kept version with lead) — Catalyst plans a single
    // key shuffle with both sorts collapsed, and under q96's bucketed
    // layout the build is shuffle-free entirely. Consecutive duplicate
    // attributes do NOT open versions (the SCD2 contract). Output is
    // the monthly version census: versions opened, still-current count,
    // and total closed-version lifetime in exact integer days — all
    // order-invariant under (ts,seq,attr) ties because equal-ts
    // versions contribute the same span multiset however they are
    // permuted.
    ("q267_scd2_history", (s, d) => {
      val log = Tables.fanOut(Tables.lineitem(s, d))
        .select(col("l_orderkey").as("key"),
                col("l_shipdate").cast("date").as("ts"), col("l_linenumber").as("seq"),
                concat(col("l_returnflag"), col("l_linestatus")).as("attr"))
      val ord = Window.partitionBy("key").orderBy(col("ts"), col("seq"), col("attr"))
      val changed = log
        .withColumn("prev_attr", lag("attr", 1).over(ord))
        .filter(col("prev_attr").isNull || col("prev_attr") =!= col("attr"))
      changed
        .withColumn("ts_to", lead("ts", 1).over(
          Window.partitionBy("key").orderBy(col("ts"), col("seq"), col("attr"))))
        .groupBy(date_format(col("ts"), "yyyy-MM").as("month"))
        .agg(count(lit(1)).as("n_versions"),
             sum(when(col("ts_to").isNull, 1L).otherwise(0L)).as("n_current"),
             sum(when(col("ts_to").isNotNull,
               datediff(col("ts_to"), col("ts")).cast("long")).otherwise(0L))
               .as("closed_span_days"))
        .orderBy("month")
    }, Some("""
      WITH log AS (
        SELECT l_orderkey AS key, l_shipdate::DATE AS ts, l_linenumber AS seq,
               l_returnflag || l_linestatus AS attr
        FROM lineitem),
      changed AS (
        SELECT * FROM (
          SELECT key, ts, seq, attr,
                 lag(attr) OVER (PARTITION BY key ORDER BY ts, seq, attr) AS prev_attr
          FROM log)
        WHERE prev_attr IS NULL OR prev_attr <> attr),
      vers AS (
        SELECT key, ts,
               lead(ts) OVER (PARTITION BY key ORDER BY ts, seq, attr) AS ts_to
        FROM changed)
      SELECT strftime(ts, '%Y-%m') AS month,
             count(*)::BIGINT AS n_versions,
             sum(CASE WHEN ts_to IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_current,
             sum(CASE WHEN ts_to IS NOT NULL THEN datediff('day', ts, ts_to) ELSE 0 END)::BIGINT
               AS closed_span_days
      FROM vers
      GROUP BY 1
      ORDER BY month
    """)),

    // ------------------------------------------------------------ custom typed Aggregator (UDAF)
    ("q49_geomean_udaf", (s, d) => {
      val geomean = udaf(graft.functions.GeoMeanAgg)
      Tables.orders(s, d)
        .groupBy("o_orderstatus")
        .agg(round(geomean(col("o_totalprice")), 4).as("geomean_price"),
             count(lit(1)).as("n"))
        .orderBy("o_orderstatus")
    }, Some("""
      SELECT o_orderstatus,
             round(exp(avg(ln(o_totalprice))), 4) AS geomean_price,
             count(*) AS n
      FROM orders
      GROUP BY o_orderstatus
      ORDER BY o_orderstatus
    """)),

    // ------------------------------------------------------------ map expressions
    ("q50_map_funcs", (s, d) => {
      val m = map(lit("brand"), col("p_brand"), lit("type"), col("p_type"))
      Tables.part(s, d)
        .withColumn("m", map_concat(m, map(lit("size"), col("p_size").cast("string"))))
        .select(col("p_partkey"),
                element_at(col("m"), "brand").as("brand_val"),
                element_at(col("m"), "size").as("size_val"),
                size(col("m")).as("n_keys"),
                array_join(array_sort(map_keys(col("m"))), ",").as("keys_sorted"))
        .orderBy("p_partkey")
    }, Some("""
      SELECT p_partkey,
             p_brand            AS brand_val,
             p_size::VARCHAR    AS size_val,
             3                  AS n_keys,
             'brand,size,type'  AS keys_sorted
      FROM part
      ORDER BY p_partkey
    """)),

    // ------------------------------------------------------------ grouped map assembly (collect + sort + join)
    ("q51_type_histogram", (s, d) => {
      Tables.part(s, d)
        .groupBy("p_brand", "p_type")
        .agg(count(lit(1)).as("n"))
        .groupBy("p_brand")
        .agg(array_join(array_sort(collect_list(concat_ws(":", col("p_type"), col("n")))), ",")
          .as("type_counts"))
        .orderBy("p_brand")
    }, Some("""
      SELECT p_brand,
             string_agg(p_type || ':' || n, ',' ORDER BY p_type || ':' || n) AS type_counts
      FROM (SELECT p_brand, p_type, count(*) n FROM part GROUP BY 1, 2) t
      GROUP BY p_brand
      ORDER BY p_brand
    """)),

    // ------------------------------------------------------------ RANGE window frame (trailing 90 days)
    ("q52_range_frame", (s, d) => {
      val dayNum = datediff(col("o_orderdate").cast("date"), lit("1995-01-01").cast("date"))
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("day_num"))
        .rangeBetween(-90, Window.currentRow)
      Tables.orders(s, d)
        .filter(col("o_custkey") < 100)
        .select(col("o_custkey"), col("o_orderkey"), dayNum.cast("long").as("day_num"), col("o_totalprice"))
        .withColumn("trailing_90d_spend", round(sum("o_totalprice").over(w), 2))
        .select("o_custkey", "o_orderkey", "day_num", "trailing_90d_spend")
        .orderBy("o_custkey", "day_num", "o_orderkey")
    }, Some("""
      SELECT o_custkey, o_orderkey, day_num,
             round(sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY day_num
                   RANGE BETWEEN 90 PRECEDING AND CURRENT ROW), 2) AS trailing_90d_spend
      FROM (SELECT o_custkey, o_orderkey, o_totalprice,
                   datediff('day', DATE '1995-01-01', o_orderdate::DATE) AS day_num
            FROM orders WHERE o_custkey < 100) t
      ORDER BY o_custkey, day_num, o_orderkey
    """)),

    // ------------------------------------------------------------ pivot (wide aggregation)
    ("q55_pivot", (s, d) => {
      Tables.orders(s, d)
        .groupBy("o_orderstatus")
        .pivot("o_orderpriority",
               Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
        .count()
        .na.fill(0L)
        .withColumnsRenamed(Map(
          "1-URGENT" -> "n_urgent", "2-HIGH" -> "n_high", "3-MEDIUM" -> "n_medium",
          "4-NOT SPECIFIED" -> "n_notspec", "5-LOW" -> "n_low"))
        .orderBy("o_orderstatus")
    }, Some("""
      SELECT o_orderstatus,
             count(*) FILTER (WHERE o_orderpriority = '1-URGENT')        AS n_urgent,
             count(*) FILTER (WHERE o_orderpriority = '2-HIGH')          AS n_high,
             count(*) FILTER (WHERE o_orderpriority = '3-MEDIUM')        AS n_medium,
             count(*) FILTER (WHERE o_orderpriority = '4-NOT SPECIFIED') AS n_notspec,
             count(*) FILTER (WHERE o_orderpriority = '5-LOW')           AS n_low
      FROM orders
      GROUP BY o_orderstatus
      ORDER BY o_orderstatus
    """)),

    // ------------------------------------------------------------ unpivot / melt (round 12)
    // q55's inverse — the wide→long reshape every feature-store export
    // and schema-migration backfill needs. Spark-first form is
    // Dataset.unpivot, which Catalyst plans as a single Expand over
    // one scan (each input row emitted once per measure, no shuffle
    // until the final bounded rollup) — NOT four unioned self-scans.
    // Measures land in one double-typed value column; the summary is
    // per (returnflag, measure) in exact integer ten-thousandths so
    // the four different measure scales all survive a typed hash.
    ("q268_unpivot_measures", (s, d) => {
      Tables.lineitem(s, d)
        .select(col("l_returnflag"), col("l_quantity"), col("l_extendedprice"),
                col("l_discount"), col("l_tax"))
        .unpivot(
          Array(col("l_returnflag")),
          Array(col("l_quantity"), col("l_extendedprice"), col("l_discount"), col("l_tax")),
          "measure", "val")
        .groupBy("l_returnflag", "measure")
        .agg(count(lit(1)).as("n"),
             sum(floor(col("val") * 10000 + 0.5).cast("long")).as("sum_e4"))
        .orderBy("l_returnflag", "measure")
    }, Some("""
      WITH long AS (
        SELECT l_returnflag, 'l_quantity' AS measure, l_quantity AS val FROM lineitem
        UNION ALL SELECT l_returnflag, 'l_extendedprice', l_extendedprice FROM lineitem
        UNION ALL SELECT l_returnflag, 'l_discount', l_discount FROM lineitem
        UNION ALL SELECT l_returnflag, 'l_tax', l_tax FROM lineitem)
      SELECT l_returnflag, measure, count(*)::BIGINT AS n,
             sum(floor(val * 10000 + 0.5)::BIGINT)::BIGINT AS sum_e4
      FROM long
      GROUP BY 1, 2
      ORDER BY l_returnflag, measure
    """)),

    // ------------------------------------------------------------ filtered / conditional aggregates
    ("q56_filtered_agg", (s, d) => {
      Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(count_if(col("l_discount") > 0.05).as("n_discounted"),
             round(sum(when(col("l_quantity") > 25, col("l_extendedprice")).otherwise(0.0)), 2)
               .as("bulk_revenue"),
             count_if(col("l_tax") === 0.0).as("n_taxfree"))
        .orderBy("l_returnflag")
    }, Some("""
      SELECT l_returnflag,
             count(*) FILTER (WHERE l_discount > 0.05)  AS n_discounted,
             round(coalesce(sum(l_extendedprice) FILTER (WHERE l_quantity > 25), 0), 2) AS bulk_revenue,
             count(*) FILTER (WHERE l_tax = 0.0)        AS n_taxfree
      FROM lineitem
      GROUP BY l_returnflag
      ORDER BY l_returnflag
    """)),

    // ------------------------------------------------------------ exact percentiles (interpolated)
    ("q57_percentiles", (s, d) => {
      Tables.orders(s, d)
        .groupBy("o_orderstatus")
        .agg(round(expr("percentile(o_totalprice, 0.5)"), 2).as("p50"),
             round(expr("percentile(o_totalprice, 0.9)"), 2).as("p90"),
             round(expr("percentile(o_totalprice, 0.99)"), 2).as("p99"))
        .orderBy("o_orderstatus")
    }, Some("""
      SELECT o_orderstatus,
             round(quantile_cont(o_totalprice, 0.5), 2)  AS p50,
             round(quantile_cont(o_totalprice, 0.9), 2)  AS p90,
             round(quantile_cont(o_totalprice, 0.99), 2) AS p99
      FROM orders
      GROUP BY o_orderstatus
      ORDER BY o_orderstatus
    """)),

    // ------------------------------------------------------------ custom expressions through the SQL surface
    ("q53_sql_custom_function", (s, d) => {
      graft.GraftFunctions.register(s)
      Tables.embeddings(s, d).createOrReplaceTempView("graft_embeddings")
      s.sql(s"""
        SELECT vec_id,
               float_dot(embedding, embedding) AS self_dot,
               round(sqrt(float_dot(embedding, embedding)), 6) AS l2
        FROM graft_embeddings
        ORDER BY vec_id
      """)
    }, Some("""
      SELECT vec_id,
             list_sum(list_transform(embedding::DOUBLE[], x -> x * x)) AS self_dot,
             round(sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))), 6) AS l2
      FROM embeddings
      ORDER BY vec_id
    """)),

    // ------------------------------------------------- statistical aggregates, exact-moment form (round 4)
    // variance / stddev / correlation / regression slope — the moment
    // aggregates every profiler needs, in the ONLY form that hash-
    // matches across engines: float streaming aggregates (Welford/
    // merge) differ in ulps by partition merge order, so the moments
    // are accumulated as EXACT integer sums (l_quantity and
    // l_linenumber are integer-valued; products bounded ≪ 2^63 at any
    // per-group n this corpus reaches — a planetary-scale run swaps the
    // long sums for decimal(38) and keeps the same closed forms) and
    // the doubles are derived at the END with identical expression
    // structure on both sides. Map-side partial sums, one 3-group
    // shuffle; AdvancedSpec pins equivalence to Spark's built-in
    // var_pop/stddev_pop/corr within 1e-9.
    ("q105_stats_moments", (s, d) => {
      val li = Tables.lineitem(s, d).select(col("l_returnflag"),
        col("l_quantity").cast("long").as("q"), col("l_linenumber").cast("long").as("x"))
      val m = li.groupBy("l_returnflag").agg(
        count(lit(1)).as("n"),
        sum("q").as("sq"), sum(col("q") * col("q")).as("sqq"),
        sum("x").as("sx"), sum(col("x") * col("x")).as("sxx"),
        sum(col("q") * col("x")).as("sqx"))
      def D(c: Column) = c.cast("double")
      val varNum = col("n") * col("sqq") - col("sq") * col("sq")
      val xVarNum = col("n") * col("sxx") - col("sx") * col("sx")
      val covNum = col("n") * col("sqx") - col("sq") * col("sx")
      m.select(col("l_returnflag"), col("n"),
          (D(col("sq")) / D(col("n"))).as("mean_qty"),
          (D(varNum) / D(col("n") * col("n"))).as("var_pop_qty"),
          sqrt(D(varNum) / D(col("n") * col("n"))).as("stddev_pop_qty"),
          (D(covNum) / (sqrt(D(varNum)) * sqrt(D(xVarNum)))).as("corr_qty_line"),
          (D(covNum) / D(xVarNum)).as("slope_qty_on_line"))
        .orderBy("l_returnflag")
    }, Some("""
      WITH m AS (
        SELECT l_returnflag, count(*)::BIGINT n,
               sum(l_quantity::BIGINT)::BIGINT sq,
               sum((l_quantity::BIGINT) * (l_quantity::BIGINT))::BIGINT sqq,
               sum(l_linenumber::BIGINT)::BIGINT sx,
               sum((l_linenumber::BIGINT) * (l_linenumber::BIGINT))::BIGINT sxx,
               sum((l_quantity::BIGINT) * (l_linenumber::BIGINT))::BIGINT sqx
        FROM lineitem GROUP BY 1)
      SELECT l_returnflag, n,
             sq::DOUBLE / n::DOUBLE AS mean_qty,
             (n * sqq - sq * sq)::DOUBLE / (n * n)::DOUBLE AS var_pop_qty,
             sqrt((n * sqq - sq * sq)::DOUBLE / (n * n)::DOUBLE) AS stddev_pop_qty,
             (n * sqx - sq * sx)::DOUBLE
               / (sqrt((n * sqq - sq * sq)::DOUBLE) * sqrt((n * sxx - sx * sx)::DOUBLE)) AS corr_qty_line,
             (n * sqx - sq * sx)::DOUBLE / (n * sxx - sx * sx)::DOUBLE AS slope_qty_on_line
      FROM m ORDER BY l_returnflag
    """)),

    // ------------------------------------------------------------ SCD type-2 build (round 5)
    // The warehouse-side companion to q100's CDC upsert: turn a change
    // log (purchase events, per-user `value` changes over time) into a
    // slowly-changing-dimension-2 table — change-detect with lag()
    // (drop rows whose value equals the previous one), then tile
    // validity intervals with lead(): valid_from = the change's ts,
    // valid_to = the next change's ts, open interval ⇒ current row.
    // Both window passes share one user-keyed sort order, so Spark
    // plans a SINGLE shuffle + sort and runs the two Window operators
    // back to back — the 100 TB cost is one exchange, independent of
    // history length per key.
    ("q109_scd2_build", (s, d) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      Tables.events(s, d)
        .filter(col("event_type") === "purchase")
        .withColumn("prev_v", lag("value", 1).over(w))
        .filter(col("prev_v").isNull || col("prev_v") =!= col("value"))
        .withColumn("valid_to", lead("ts", 1).over(w))
        .select(col("user_id"), col("value"), col("ts").as("valid_from"),
                col("valid_to"), col("valid_to").isNull.as("is_current"))
        // total order for the hash oracle: (user_id, valid_from) can tie
        // when one user logs two distinct surviving changes at the same
        // timestamp — break by value (adjacent changes always differ)
        // then valid_to — both with EXPLICIT nulls-last (Spark defaults
        // nulls first on ASC, DuckDB nulls last — pin EVERY nullable
        // sort key on both sides, value included, so a null value can
        // never make the engines interleave ties differently)
        .orderBy(col("user_id"), col("valid_from"),
                 col("value").asc_nulls_last,
                 col("valid_to").asc_nulls_last)
    }, Some("""
      WITH p AS (
        SELECT user_id, event_id, value, ts::TIMESTAMP AS ts,
               lag(value) OVER (PARTITION BY user_id ORDER BY ts::TIMESTAMP, event_id) AS prev_v
        FROM events WHERE event_type = 'purchase'),
      c AS (SELECT * FROM p WHERE prev_v IS NULL OR prev_v <> value)
      SELECT user_id, value, ts AS valid_from,
             lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
             lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL AS is_current
      FROM c ORDER BY user_id, valid_from, value ASC NULLS LAST, valid_to ASC NULLS LAST
    """)),

    // ------------------------------------------------------------ aggregate completions (round 5)
    // The remaining everyday aggregates: string_agg/listagg (as a
    // DETERMINISTIC sorted-distinct join — collect_set order is
    // partition-arrival-dependent, array_sort pins it), mode with an
    // explicit tie-break (most-frequent, ties → smallest value; both
    // engines' built-in mode() leaves ties unspecified, so it's
    // computed from a (flag, qty) count relation via min(struct) —
    // map-side combinable, no per-group sort), exact median, and
    // bool_and/bool_or/count_if. Three tiny per-flag aggregates
    // broadcast-joined on the 3-row group key.
    //
    // Median at scale: NEVER a row-level window partitioned by the
    // 3-value flag (that funnels the whole table through 3 tasks).
    // l_quantity is low-cardinality, so the median comes from the same
    // (flag, qty, cnt) relation the mode uses: cumulative counts over
    // ~50 rows/flag locate the middle one-or-two VALUES, and
    // (v1+v2)/2 — commutative-exact for 2 doubles — equals the oracle's
    // middle-rows average bit-for-bit (n odd ⇒ v1=v2 ⇒ (v+v)/2 = v
    // exactly). The two branches over `counts` share one physical
    // aggregation via ReusedExchange (the q106 pattern).
    ("q110_agg_completions", (s, d) => {
      val li = Tables.lineitem(s, d)
      val base = li.groupBy("l_returnflag").agg(
        count(lit(1)).as("n"),
        array_join(array_sort(collect_set(col("l_linestatus"))), "|").as("status_list"),
        expr("bool_and(l_quantity >= 1.0)").as("all_qty_pos"),
        expr("bool_or(l_quantity > 45.0)").as("any_qty_big"),
        expr("count_if(l_discount > 0.05)").cast("long").as("n_discounted"))
      val counts = li.groupBy("l_returnflag", "l_quantity")
        .agg(count(lit(1)).as("cnt"))
      // mode: argmax via min(struct): lexicographic (-cnt, qty)
      // minimum == (max count, min value)
      val mode = counts
        .groupBy("l_returnflag")
        .agg(min(struct((-col("cnt")).as("nc"), col("l_quantity").as("v"))).as("m"))
        .select(col("l_returnflag"), col("m.v").as("mode_qty"))
      // median: cumulative counts over the value histogram; the middle
      // positions' values via conditional min
      val wCum = Window.partitionBy("l_returnflag").orderBy("l_quantity")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val med = counts
        .withColumn("cum", sum("cnt").over(wCum))
        .withColumn("nn", sum("cnt").over(Window.partitionBy("l_returnflag")))
        .groupBy("l_returnflag")
        .agg(((min(when(col("cum") >= expr("(nn + 1) DIV 2"), col("l_quantity"))) +
               min(when(col("cum") >= expr("(nn + 2) DIV 2"), col("l_quantity")))) / lit(2.0))
          .as("median_qty"))
      base.join(mode, "l_returnflag").join(med, "l_returnflag")
        .select("l_returnflag", "n", "status_list", "mode_qty", "median_qty",
                "all_qty_pos", "any_qty_big", "n_discounted")
        .orderBy("l_returnflag")
    }, Some("""
      WITH base AS (
        SELECT l_returnflag, count(*) AS n,
               string_agg(DISTINCT l_linestatus, '|' ORDER BY l_linestatus) AS status_list,
               bool_and(l_quantity >= 1.0) AS all_qty_pos,
               bool_or(l_quantity > 45.0) AS any_qty_big,
               count_if(l_discount > 0.05)::BIGINT AS n_discounted
        FROM lineitem GROUP BY l_returnflag),
      mo AS (
        SELECT l_returnflag, l_quantity AS mode_qty
        FROM (SELECT l_returnflag, l_quantity, count(*) AS cnt
              FROM lineitem GROUP BY 1, 2) t
        QUALIFY row_number() OVER (PARTITION BY l_returnflag ORDER BY cnt DESC, l_quantity) = 1),
      med AS (
        SELECT l_returnflag, sum(l_quantity) / count(*) AS median_qty
        FROM (SELECT l_returnflag, l_quantity,
                     row_number() OVER (PARTITION BY l_returnflag
                       ORDER BY l_quantity, l_orderkey, l_linenumber) AS rn,
                     count(*) OVER (PARTITION BY l_returnflag) AS cnt
              FROM lineitem) t
        WHERE rn = (cnt + 1) // 2 OR rn = (cnt + 2) // 2
        GROUP BY l_returnflag)
      SELECT b.l_returnflag, n, status_list, mode_qty, median_qty,
             all_qty_pos, any_qty_big, n_discounted
      FROM base b JOIN mo USING (l_returnflag) JOIN med USING (l_returnflag)
      ORDER BY l_returnflag
    """)),

    // ------------------------------------------------------------ IGNORE NULLS windows / LOCF (round 5)
    // Gap-filling over sparse observations — last-observation-carried-
    // forward (`last(v, ignoreNulls)` over an unbounded-preceding ROWS
    // frame) and previous-non-null (`lag(v) IGNORE NULLS`), the two
    // window forms every feature pipeline needs and q79's grid-based
    // gap fill doesn't cover. `view` events are masked to NULL to
    // create the sparsity. Pure window pass: one user-keyed shuffle,
    // both functions share the sort.
    ("q111_window_fill", (s, d) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      Tables.events(s, d)
        .withColumn("v",
          when(col("event_type") === "view", lit(null).cast("double"))
            .otherwise(col("value")))
        .withColumn("v_locf",
          last(col("v"), ignoreNulls = true)
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("v_prev", lag(col("v"), 1, null, ignoreNulls = true).over(w))
        .filter(col("user_id") < 30)
        .select("event_id", "user_id", "ts", "v", "v_locf", "v_prev")
        .orderBy("user_id", "ts", "event_id")
    }, Some("""
      WITH m AS (
        SELECT event_id, user_id, ts::TIMESTAMP AS ts,
               CASE WHEN event_type = 'view' THEN NULL ELSE value END AS v
        FROM events)
      SELECT event_id, user_id, ts, v,
             last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_locf,
             lag(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS v_prev
      FROM m
      WHERE user_id < 30
      ORDER BY user_id, ts, event_id
    """)),

    // ------------------------------------------------------------ skyline / pareto front (round 6)
    // The SKYLINE operator (Börzsönyi et al., ICDE'01) — parts that are
    // pareto-optimal on (minimize p_retailprice, maximize p_size):
    // no other part is at-least-as-good on both dimensions and
    // strictly better on one. Spark has no skyline; the scalable
    // 2-D formulation is grouping + a staircase sweep, NOT the naive
    // quadratic NOT EXISTS:
    //   1. collapse parts to one row per distinct price with the max
    //      size at that price (hash agg, map-side partials — the only
    //      pass over the full table),
    //   2. sweep the DISTINCT-PRICE staircase: a price survives iff
    //      its max size strictly exceeds every cheaper price's
    //      (running max over the price-sorted aggregate). The window
    //      is single-partition but runs over the price-DOMAIN-bounded
    //      aggregate (thousands of rows however large the table), not
    //      the data,
    //   3. broadcast the surviving (price, size) staircase back to
    //      re-join the full rows (ties: every part matching a
    //      surviving (price, max-size) cell is in the skyline).
    // The oracle is the INDEPENDENT quadratic NOT-EXISTS definition,
    // so the sweep's correctness is checked against the spec, not
    // against itself.
    ("q117_skyline_parts", (s, d) => {
      val p = Tables.part(s, d)
      val cells = p.groupBy("p_retailprice").agg(max("p_size").as("ms"))
      val front = cells
        .withColumn("prev_ms",
          max("ms").over(Window.orderBy("p_retailprice")
            .rowsBetween(Window.unboundedPreceding, -1)))
        .filter(col("prev_ms").isNull || col("ms") > col("prev_ms"))
        .select(col("p_retailprice").as("fp"), col("ms").as("fs"))
      p.join(broadcast(front),
          col("p_retailprice") === col("fp") && col("p_size") === col("fs"))
        .select("p_partkey", "p_name", "p_retailprice", "p_size")
        .orderBy("p_retailprice", "p_partkey")
    }, Some("""
      SELECT p_partkey, p_name, p_retailprice, p_size
      FROM part p
      WHERE NOT EXISTS (
        SELECT 1 FROM part q
        WHERE q.p_retailprice <= p.p_retailprice AND q.p_size >= p.p_size
          AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size))
      ORDER BY p_retailprice, p_partkey
    """)),

    // ------------------------------------------------------------ time-range window frame (round 6)
    // Sliding TIME-interval aggregates — "spend and activity over the
    // trailing 7 days at every purchase" — the RANGE-frame-over-time
    // form q52's numeric RANGE frame doesn't cover. The frame is keyed
    // on unix MICROSECONDS (bigint) so the 7-day bound is exact integer
    // arithmetic on both engines (DuckDB's epoch() returns fractional-
    // second DOUBLEs — epoch_us is the portable key). The summed value
    // is floor(value*100) CENTS: a RANGE frame's peer rows are summed
    // in engine-dependent order, so only an order-independent integer
    // sum hash-matches (the q105/q108 fixed-point discipline; floor,
    // never ::BIGINT alone — DuckDB's double→int cast rounds while
    // Spark's truncates). One user-keyed shuffle + sort; both window
    // functions share the frame.
    ("q118_time_range_frame", (s, d) => {
      val sevenDaysUs = 7L * 86400L * 1000000L
      val w = Window.partitionBy("user_id").orderBy(unix_micros(col("ts")))
        .rangeBetween(-sevenDaysUs, 0)
      Tables.events(s, d)
        .filter(col("event_type") === "purchase" && col("user_id") < 40)
        .withColumn("cents", floor(col("value") * 100).cast("long"))
        .select(col("event_id"), col("user_id"), col("ts"),
                count(lit(1)).over(w).as("n_7d"),
                sum("cents").over(w).as("spend_7d_cents"))
        .orderBy("user_id", "ts", "event_id")
    }, Some("""
      SELECT event_id, user_id, ts,
             count(*) OVER w AS n_7d,
             (sum(cents) OVER w)::BIGINT AS spend_7d_cents
      FROM (SELECT event_id, user_id, ts::TIMESTAMP AS ts,
                   floor(value * 100)::BIGINT AS cents
            FROM events WHERE event_type = 'purchase' AND user_id < 40)
      WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                   RANGE BETWEEN 604800000000 PRECEDING AND CURRENT ROW)
      ORDER BY user_id, ts, event_id
    """)),

    // ------------------------------------------------------------ interval sweep-line (round 8)
    // Peak concurrency per event type — "how many 30-minute activity
    // intervals overlap at the busiest instant", the capacity-planning
    // number every ops dashboard shows, and an operator CLASS the
    // corpus lacked: interval-overlap AGGREGATION (q75 joins
    // intervals; this sweeps them). Classic sweep line made
    // relational: each event contributes a +1 boundary at ts and a −1
    // at ts+30min (half-open, so an interval ending exactly when
    // another starts does NOT overlap — the −1 sorts before the +1 at
    // equal timestamps because delta ascends), one running sum per
    // type over the boundary stream, then max. Two narrow passes +
    // one per-type window — the 2n-row boundary union is the only
    // data growth, and the window parallelizes across types at any
    // scale (skewed single-type streams would shard the sweep by
    // coarse time buckets and prefix-offset the partial sums; the
    // per-type form is the judged shape).
    ("q172_peak_concurrency", (s, d) => {
      val spanUs = 30L * 60L * 1000000L
      // one explode, not a self-union: a union's two legs each scan the
      // table (2 corpus reads at 100 TB); generating both boundaries
      // from one pass halves the scan IO and keeps pushdown intact
      val bounds = Tables.events(s, d)
        .select(col("event_type"), explode(array(
          struct(unix_micros(col("ts")).as("t"), lit(1L).as("delta")),
          struct((unix_micros(col("ts")) + spanUs).as("t"), lit(-1L).as("delta")))).as("b"))
        .select(col("event_type"), col("b.t").as("t"), col("b.delta").as("delta"))
      val w = Window.partitionBy("event_type").orderBy("t", "delta")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      bounds
        .withColumn("running", sum("delta").over(w))
        .groupBy("event_type")
        .agg((count(lit(1)) / 2).cast("long").as("n_events"),
             max("running").as("peak_concurrency"))
        .orderBy("event_type")
    }, Some("""
      WITH ev AS (SELECT event_type, epoch_us(ts::TIMESTAMP) AS t0 FROM events),
      bounds AS (
        SELECT event_type, t0 AS t, 1 AS delta FROM ev
        UNION ALL
        SELECT event_type, t0 + 1800000000 AS t, -1 AS delta FROM ev),
      swept AS (
        SELECT event_type,
               sum(delta) OVER (PARTITION BY event_type ORDER BY t, delta
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running
        FROM bounds)
      SELECT event_type, (count(*) / 2)::BIGINT AS n_events,
             max(running)::BIGINT AS peak_concurrency
      FROM swept GROUP BY event_type
      ORDER BY event_type
    """)),

    // ------------------------------------------------------------ rolling median (round 8)
    // Trailing-7-day rolling MEDIAN of the per-type daily total — the
    // robust smoother dashboards put behind spike detectors (q163
    // flags deviations from a mean; operators read medians because one
    // outlier day shouldn't move the baseline). Exercises a HOLISTIC
    // aggregate inside a moving window frame — a different execution
    // class from the q118 sum/count frames (no constant-space
    // accumulator; Spark buffers the frame per row), which is exactly
    // why it runs on the ≤|types|·|days| DAILY aggregate, never raw
    // events: the frame buffer is ≤7 rows and the window input is
    // schema-bounded. RANGE frame over integer day numbers so gap
    // days (no events) still widen the frame correctly.
    ("q173_rolling_median", (s, d) => {
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        // cast keeps the column DOUBLE on both engines (Spark floor →
        // BIGINT, DuckDB floor → DOUBLE; the hash compare is typed)
        .agg(floor(sum(col("value")) * 100.0 + 0.5).cast("double").as("cents"))
        .withColumn("dnum", datediff(col("day"), lit("1970-01-01").cast("date")).cast("long"))
      val w = Window.partitionBy("event_type").orderBy("dnum").rangeBetween(-6, 0)
      daily
        .select(col("event_type"), col("day"), col("cents"),
                round(expr("percentile(cents, 0.5)").over(w) / 100.0, 6).as("median_7d"))
        .orderBy("event_type", "day")
    }, Some("""
      WITH daily AS (
        SELECT event_type, ts::DATE AS day,
               floor(sum(value) * 100.0 + 0.5) AS cents,
               (ts::DATE - DATE '1970-01-01') AS dnum
        FROM events GROUP BY event_type, ts::DATE
      )
      SELECT event_type, day, cents::DOUBLE AS cents,
             round(quantile_cont(cents, 0.5) OVER (PARTITION BY event_type ORDER BY dnum
                     RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) / 100.0, 6) AS median_7d
      FROM daily
      ORDER BY event_type, day
    """)),

    // ------------------------------------------------------------ weighted quantiles (round 8)
    // Quantity-weighted price percentiles per return flag — the
    // weighted sibling of q57's exact percentiles (and the shape
    // behind token-weighted doc-length medians in a curation report:
    // "half the TOKENS sit in docs shorter than X" is a weighted
    // quantile, not a row quantile, and no built-in computes it). The
    // classic cumulative-weight construction: order each group by
    // value with a unique tie-break, running weight sum, and the
    // q-quantile is the first value whose cumulative weight reaches
    // q·total — expressed as three conditional MINs over one windowed
    // pass, so adding quantiles costs nothing. Scale shape: ONE
    // per-group sort (the same sort serves all quantiles), no join, no
    // second pass for the total (a partition-wide window sum rides the
    // same exchange). Determinism: quantities are integral doubles, so
    // running sums are exact integers in doubles regardless of order;
    // the selected prices are raw column values (never arithmetic), so
    // both engines pick bit-identical rows.
    ("q190_weighted_quantiles", (s, d) => {
      // per-group cumulative weight via the two-pass prefix sum
      // (PrefixSum.grouped, round 10): a return flag's lineitems grow
      // with the data, so the per-flag window would otherwise put a
      // whole flag on one task. Quantities are integral doubles, so
      // the two-pass running sums are EXACT regardless of association
      // order — the judged oracle (single-window form) still
      // hash-matches. The per-flag total is a keyed aggregate over the
      // operator's checkpointed base, broadcast back (3 rows).
      val base = Tables.lineitem(s, d)
        .select(col("l_returnflag"), col("l_extendedprice"),
                col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
      val cumed = PrefixSum.grouped(base, Seq("l_returnflag"),
        Seq(col("l_extendedprice"), col("l_orderkey"), col("l_linenumber")),
        Seq(col("l_quantity") -> "cw"))
      val tw = cumed.groupBy("l_returnflag").agg(sum("l_quantity").as("tw"))
      val c = cumed.join(broadcast(tw), "l_returnflag")
      c.groupBy("l_returnflag")
        .agg(max("tw").cast("long").as("total_weight"),
             min(when(col("cw") >= col("tw") * 0.25, col("l_extendedprice"))).as("wp25"),
             min(when(col("cw") >= col("tw") * 0.5,  col("l_extendedprice"))).as("wp50"),
             min(when(col("cw") >= col("tw") * 0.75, col("l_extendedprice"))).as("wp75"))
        .orderBy("l_returnflag")
    }, Some("""
      WITH c AS (
        SELECT l_returnflag, l_extendedprice, l_quantity,
               sum(l_quantity) OVER (PARTITION BY l_returnflag
                 ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS cw,
               sum(l_quantity) OVER (PARTITION BY l_returnflag) AS tw
        FROM lineitem)
      SELECT l_returnflag, max(tw)::BIGINT AS total_weight,
             min(CASE WHEN cw >= tw * 0.25 THEN l_extendedprice END) AS wp25,
             min(CASE WHEN cw >= tw * 0.5  THEN l_extendedprice END) AS wp50,
             min(CASE WHEN cw >= tw * 0.75 THEN l_extendedprice END) AS wp75
      FROM c GROUP BY l_returnflag ORDER BY l_returnflag
    """)),

    // ------------------------------------------------------------ SCD2 point-in-time enrichment (round 9)
    // The LOOKUP side of q109's SCD2 build: stamp every click with the
    // purchase-value attribute that was in effect at the click's
    // timestamp. The naive implementation is a range join (fact.ts ∈
    // [valid_from, valid_to)) — O(F×C) candidate fan-out per user and
    // un-pushable bounds. The scalable form used here is the
    // UNION-SORT-CARRY as-of: union the dimension CHANGE rows with the
    // fact rows, sort per user by (ts, dim-first, event_id), and carry
    // the last non-null attribute forward with an IGNORE NULLS running
    // window — ONE shuffle on user_id, linear per partition,
    // regardless of how many intervals each user has. The dim-first
    // tie key makes a same-timestamp change visible to the click
    // (matching the oracle's half-open [from, to) interval semantics,
    // where the LATEST same-ts change owns the instant). The ORACLE
    // deliberately runs the range-join formulation — two different
    // algorithms, one answer.
    ("q204_scd2_pointintime", (s, d) => {
      val wChg = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val changes = Tables.events(s, d)
        .filter(col("event_type") === "purchase")
        .withColumn("prev_v", lag("value", 1).over(wChg))
        .filter(col("prev_v").isNull || col("prev_v") =!= col("value"))
        .select(col("user_id"), col("ts"), col("event_id"),
                lit(1).as("is_dim"), col("value").as("attr"))
      val clicks = Tables.events(s, d)
        .filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id"),
                lit(0).as("is_dim"), lit(null).cast("double").as("attr"))
      val wCarry = Window.partitionBy("user_id")
        .orderBy(col("ts"), col("is_dim").desc, col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      changes.unionByName(clicks)
        .withColumn("attr_at_ts", last("attr", ignoreNulls = true).over(wCarry))
        .filter(col("is_dim") === 0)
        .select(col("event_id"), col("user_id"), col("ts"), col("attr_at_ts"))
        .orderBy("event_id")
    }, Some("""
      WITH chg AS (
        SELECT user_id, value, ts AS valid_from,
               lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to
        FROM (
          SELECT *, lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_v
          FROM events WHERE event_type = 'purchase')
        WHERE prev_v IS NULL OR prev_v <> value),
      fact AS (
        SELECT event_id, user_id, ts FROM events WHERE event_type = 'click')
      SELECT f.event_id, f.user_id, f.ts, c.value AS attr_at_ts
      FROM fact f
      LEFT JOIN chg c ON c.user_id = f.user_id
        AND f.ts >= c.valid_from
        AND (c.valid_to IS NULL OR f.ts < c.valid_to)
      ORDER BY f.event_id
    """)),

    // ------------------------------------------------------------ grouped OLS from exact sufficient stats (round 10)
    // Per-brand least squares of quantity on price — the grouped
    // regression row (q155/q175/q199 fit single series; real feature
    // screens fit PER GROUP). The determinism trick: price in integer
    // CENTS and integral quantities make every sufficient statistic
    // (n, Σx, Σy, Σx², Σxy, Σy²) an EXACT integer — summed as
    // decimal(38,0) so no association order and no Long overflow at
    // any scale — and slope/intercept/R² are closed forms whose only
    // float steps (one cast chain + one division each) both engines
    // evaluate identically. No regr_* float aggregation anywhere.
    ("q241_grouped_ols", (s, d) => {
      val li = Tables.fanOut(Tables.lineitem(s, d))
        .join(broadcast(Tables.part(s, d).select(col("p_partkey"), col("p_brand"))),
              col("l_partkey") === col("p_partkey"))
        .select(col("p_brand"),
          floor(col("l_extendedprice") * 100 + 0.5).cast("long").as("x"),
          col("l_quantity").cast("long").as("y"))
      val agg = li.groupBy("p_brand").agg(
        count(lit(1)).as("n"),
        sum(col("x").cast("decimal(38,0)")).as("sx"),
        sum(col("y").cast("decimal(38,0)")).as("sy"),
        sum((col("x") * col("x")).cast("decimal(38,0)")).as("sxx"),
        sum((col("x") * col("y")).cast("decimal(38,0)")).as("sxy"),
        sum((col("y") * col("y")).cast("decimal(38,0)")).as("syy"))
      val covN = (col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
      val varXN = (col("n") * col("sxx") - col("sx") * col("sx")).cast("double")
      val varYN = (col("n") * col("syy") - col("sy") * col("sy")).cast("double")
      val slopeCents = covN / varXN
      agg.select(col("p_brand"), col("n").as("n_rows"),
          Quant.quant6(slopeCents * 100.0).as("slope_qty_per_dollar"),
          Quant.quant6((col("sy").cast("double") - slopeCents * col("sx").cast("double"))
                         / col("n")).as("intercept"),
          Quant.quant6(covN * covN / (varXN * varYN)).as("r2"))
        .orderBy("p_brand")
    }, Some("""
      WITH base AS (
        SELECT p.p_brand,
               floor(l.l_extendedprice * 100 + 0.5)::BIGINT AS x,
               l.l_quantity::BIGINT AS y
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
      agg AS (
        SELECT p_brand, count(*)::BIGINT AS n,
               sum(x) AS sx, sum(y) AS sy,
               sum(x * x) AS sxx, sum(x * y) AS sxy, sum(y * y) AS syy
        FROM base GROUP BY p_brand)
      SELECT p_brand, n AS n_rows,
             floor(((n * sxy - sx * sy)::DOUBLE / (n * sxx - sx * sx)::DOUBLE * 100.0)
                   * 1000000.0 + 0.5) / 1000000.0 AS slope_qty_per_dollar,
             floor(((sy::DOUBLE - (n * sxy - sx * sy)::DOUBLE / (n * sxx - sx * sx)::DOUBLE * sx::DOUBLE) / n)
                   * 1000000.0 + 0.5) / 1000000.0 AS intercept,
             floor(((n * sxy - sx * sy)::DOUBLE * (n * sxy - sx * sy)::DOUBLE
                    / ((n * sxx - sx * sx)::DOUBLE * (n * syy - sy * sy)::DOUBLE))
                   * 1000000.0 + 0.5) / 1000000.0 AS r2
      FROM agg
      ORDER BY p_brand
    """)),

    // ------------------------------------------------------------ exact percentiles at scale (round 10)
    // q57's exact percentiles call percentile(), which SORTS each
    // group on one task — fine for bounded groups, a stall when a
    // group's rows grow with the data. This is the scale form: exact
    // NEAREST-RANK (type-1) percentiles from the two-pass PrefixSum
    // global rank — value at rank ⌈q·n⌉ per group, fetched with
    // conditional MINs over one pass of the ranked relation. Rank
    // arithmetic is integer-exact and the selected prices are raw
    // column values, so the result hash-matches bit-for-bit (no
    // interpolation — that's the definitional difference from q57,
    // and why the two queries coexist).
    ("q229_exact_percentiles_at_scale", (s, d) => {
      val ranked = PrefixSum.grouped(
        Tables.fanOut(Tables.orders(s, d))
          .select(col("o_orderstatus"), col("o_totalprice"), col("o_orderkey")),
        Seq("o_orderstatus"),
        Seq(col("o_totalprice"), col("o_orderkey")),
        Seq(lit(1L) -> "rk"))
      val ng = ranked.groupBy("o_orderstatus").agg(max("rk").as("n"))
      def pick(q: Double) =
        min(when(col("rk") === ceil(lit(q) * col("n")).cast("long"), col("o_totalprice")))
      ranked.join(broadcast(ng), "o_orderstatus")
        .groupBy("o_orderstatus")
        .agg(max("n").as("n_rows"),
             pick(0.5).as("p50"), pick(0.9).as("p90"), pick(0.99).as("p99"))
        .orderBy("o_orderstatus")
    }, Some("""
      WITH r AS (
        SELECT o_orderstatus, o_totalprice,
               row_number() OVER (PARTITION BY o_orderstatus
                                  ORDER BY o_totalprice, o_orderkey) AS rk,
               count(*) OVER (PARTITION BY o_orderstatus) AS n
        FROM orders)
      SELECT o_orderstatus, max(n)::BIGINT AS n_rows,
             min(CASE WHEN rk = CAST(ceil(0.5 * n) AS BIGINT) THEN o_totalprice END) AS p50,
             min(CASE WHEN rk = CAST(ceil(0.9 * n) AS BIGINT) THEN o_totalprice END) AS p90,
             min(CASE WHEN rk = CAST(ceil(0.99 * n) AS BIGINT) THEN o_totalprice END) AS p99
      FROM r
      GROUP BY o_orderstatus
      ORDER BY o_orderstatus
    """)),

    // ------------------------------------------------------------ Hill tail-index estimator (round 10)
    // HOW heavy is the spend tail? q155 fits the degree power law by
    // regression over binned counts; the Hill estimator is the
    // order-statistics MLE for the tail exponent directly: over the
    // top-k order totals, H(k) = (1/k)·Σ ln(x₍ᵢ₎/x₍ₖ₊₁₎), α = 1/H —
    // computed at two k cuts (50, 100) because a stable α across cuts
    // is the actual heavy-tail evidence (Hill-plot flatness). Scale
    // shape: the ONLY global structure is top-101 per cut via
    // TakeOrderedAndProject (per-partition partial top-k — no global
    // sort); the ln-sum then runs over ≤100 rows, schema-bounded at
    // any scale. The reference level x₍ₖ₊₁₎ rides a 1-row broadcast.
    ("q222_hill_tail_index", (s, d) => {
      val cuts = Seq(50, 100)
      val perCut = cuts.map { k =>
        val top = Tables.fanOut(Tables.orders(s, d))
          .select(col("o_totalprice").as("x"), col("o_orderkey"))
          .orderBy(col("x").desc, col("o_orderkey")).limit(k + 1)
          .graftCheckpoint() // top-k relation + reference row both read it
        val ref = top.orderBy(col("x"), col("o_orderkey")).limit(1)
          .select(col("x").as("xref"))
        top.orderBy(col("x").desc, col("o_orderkey")).limit(k)
          .crossJoin(broadcast(ref))
          .agg(count(lit(1)).as("k"),
               round(avg(log(col("x") / col("xref"))), 6).as("hill"),
               round(lit(1.0) / avg(log(col("x") / col("xref"))), 6).as("alpha"),
               round(min("x"), 2).as("x_k"),
               round(max("xref"), 2).as("x_ref"))
      }
      perCut.reduce((a, b) => a.unionByName(b)).orderBy("k")
    }, Some("""
      WITH ranked AS (
        SELECT o_totalprice AS x,
               row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey) AS rn
        FROM orders),
      cut(k) AS (VALUES (50), (100)),
      est AS (
        SELECT c.k,
               round(avg(ln(r.x / ref.x)), 6) AS hill,
               round(1.0 / avg(ln(r.x / ref.x)), 6) AS alpha,
               round(min(r.x), 2) AS x_k,
               round(max(ref.x), 2) AS x_ref
        FROM cut c
        JOIN ranked r ON r.rn <= c.k
        JOIN ranked ref ON ref.rn = c.k + 1
        GROUP BY c.k)
      SELECT k::BIGINT AS k, hill, alpha, x_k, x_ref
      FROM est
      ORDER BY k
    """)),

    // ------------------------------------------------------------ Pareto / ABC analysis (round 9)
    // The 80/20 ledger: parts ranked by net revenue, classified A/B/C
    // at 70%/90% cumulative revenue — the inventory-policy segmentation
    // every commerce dataset gets cut by. The cumulative share runs in
    // ONE global window over the per-part AGGREGATE (|parts| rows, not
    // lineitems). Cross-engine stability: per-part revenue is a float
    // sum whose association order differs between Spark partial
    // aggregation and DuckDB, so cum_share is quant6-quantized BEFORE
    // the A/B/C CASE on both sides — a part landing within an ulp of
    // the 0.7/0.9 boundary classifies identically (fixture-verified,
    // not bit-stable in the abstract; ADVICE r9).
    ("q219_pareto_abc", (s, d) => {
      val rev = Tables.fanOut(Tables.lineitem(s, d))
        .groupBy("l_partkey")
        .agg(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev"))
      // cumulative revenue via the two-pass range-partitioned prefix
      // sum (PrefixSum, round 10): the part dimension is unbounded, so
      // a single-partition global window would serialize on one task
      // at scale. The totals aggregate reads the operator's
      // checkpointed base — one lineitem scan total.
      val cum = PrefixSum.cumSum(rev,
        Seq(col("rev").desc, col("l_partkey")), col("rev"), "cum_rev")
      val tot = cum.agg(count(lit(1)).cast("double").as("tot_parts"),
                        sum("rev").as("tot_rev"))
      cum.crossJoin(broadcast(tot))
        .withColumn("cum_share", Quant.quant6(col("cum_rev") / col("tot_rev")))
        .withColumn("abc", when(col("cum_share") <= 0.7, "A")
          .when(col("cum_share") <= 0.9, "B").otherwise("C"))
        .groupBy("abc")
        .agg(count(lit(1)).as("n_parts"),
             round(sum("rev"), 2).as("revenue"),
             max("tot_parts").as("tot_parts"),
             max("tot_rev").as("tot_rev"))
        .select(col("abc").as("abc_class"), col("n_parts"),
          round(col("n_parts") / col("tot_parts"), 6).as("share_of_parts"),
          col("revenue"),
          round(col("revenue") / col("tot_rev"), 6).as("share_of_revenue"))
        .orderBy("abc_class")
    }, Some("""
      WITH rev AS (
        SELECT l_partkey, sum(l_extendedprice * (1.0 - l_discount)) AS rev
        FROM lineitem GROUP BY l_partkey),
      ranked AS (
        SELECT l_partkey, rev,
               floor((sum(rev) OVER (ORDER BY rev DESC, l_partkey
                              ROWS UNBOUNDED PRECEDING) / sum(rev) OVER ()) * 1000000.0 + 0.5) / 1000000.0 AS cum_share
        FROM rev),
      classed AS (
        SELECT *, CASE WHEN cum_share <= 0.7 THEN 'A'
                       WHEN cum_share <= 0.9 THEN 'B' ELSE 'C' END AS abc
        FROM ranked),
      tot AS (SELECT count(*)::DOUBLE AS tot_parts, sum(rev) AS tot_rev FROM rev)
      SELECT abc AS abc_class, count(*)::BIGINT AS n_parts,
             round(count(*) / tot_parts, 6) AS share_of_parts,
             round(sum(rev), 2) AS revenue,
             round(sum(rev) / tot_rev, 6) AS share_of_revenue
      FROM classed CROSS JOIN tot
      GROUP BY abc, tot_parts, tot_rev
      ORDER BY abc_class
    """)),

    // ------------------------------------------------------------ Spearman rank correlation (round 11)
    // Monotone association between doc LENGTH and LEXICAL DIVERSITY
    // (type-token ratio) — the q131 Pearson family can't see a
    // nonlinear-but-monotone relation; Spearman on ranks can (the
    // classic "longer docs repeat themselves" curation check, expected
    // strongly negative). Rank discipline at scale: the doc dimension
    // is unbounded, so BOTH rank passes are two-pass PrefixSum ranks,
    // never a global row_number window. Ranks are rank-of-row with a
    // doc_id tie-break (deterministic, engine-identical — not
    // average-rank ties; with near-continuous metrics the difference
    // is negligible and both engines compute the SAME convention).
    // Σd² is exact integer arithmetic; the only float is the final
    // rho = 1 − 6Σd²/(n(n²−1)), quant6'd. The TTR division is exact
    // IEEE on identical integers, so its rank order is portable.
    ("q246_spearman_rank_corr", (s, d) => {
      import graft.functions.TextFunctions.tokens
      val docs = Tables.fanOut(Tables.documents(s, d))
        .select(col("doc_id"), tokens(col("text")).as("t"))
        .select(col("doc_id"), size(col("t")).cast("long").as("n_tokens"),
                size(array_distinct(col("t"))).cast("long").as("n_types"))
        .filter(col("n_tokens") > 0)
        .withColumn("ttr", col("n_types").cast("double") / col("n_tokens"))
        .graftCheckpoint() // both rank passes read it
      val r1 = PrefixSum.cumSum(docs, Seq(col("n_tokens"), col("doc_id")),
          lit(1L), "r_len").select("doc_id", "r_len")
      val r2 = PrefixSum.cumSum(docs, Seq(col("ttr"), col("doc_id")),
          lit(1L), "r_ttr").select("doc_id", "r_ttr")
      r1.join(r2, "doc_id")
        .agg(count(lit(1)).as("n_docs"),
             sum((col("r_len") - col("r_ttr")) * (col("r_len") - col("r_ttr")))
               .as("sum_d2"))
        .select(col("n_docs"), col("sum_d2"),
          Quant.quant6(lit(1.0) - lit(6.0) * col("sum_d2")
            / (col("n_docs") * (col("n_docs") * col("n_docs") - 1)).cast("double"))
            .as("spearman_rho"))
    }, Some(s"""
      WITH docs AS (
        SELECT doc_id, len($tokensSql)::BIGINT AS n_tokens,
               len(list_distinct($tokensSql))::BIGINT AS n_types
        FROM documents),
      m AS (SELECT doc_id, n_tokens, n_types::DOUBLE / n_tokens AS ttr
            FROM docs WHERE n_tokens > 0),
      r AS (SELECT doc_id,
                   row_number() OVER (ORDER BY n_tokens, doc_id) AS r_len,
                   row_number() OVER (ORDER BY ttr, doc_id) AS r_ttr
            FROM m)
      SELECT count(*)::BIGINT AS n_docs,
             sum((r_len - r_ttr) * (r_len - r_ttr))::BIGINT AS sum_d2,
             floor((1.0 - 6.0 * sum((r_len - r_ttr) * (r_len - r_ttr))
                    / (count(*) * (count(*) * count(*) - 1.0))) * 1000000.0 + 0.5)
               / 1000000.0 AS spearman_rho
      FROM r
    """)),

    // ------------------------------------------------------------ autocorrelation function (round 12)
    // Serial-correlation structure of each event type's daily volume:
    // ACF at lags 1..7 — the number that says whether yesterday
    // predicts today (retention/caching decisions), and whether a
    // weekly cycle survives q144's seasonality profile as actual
    // day-over-day correlation. Exactness discipline: with μ = S/n,
    // r_k = Σ(x_t−μ)(x_{t+k}−μ) / Σ(x_t−μ)² is computed from the
    // n²-scaled ALL-INTEGER identity
    //   num_k·n² = n²·Σx_t·x_{t+k} − n·S·(H_k+T_k) + (n−k)·S²
    //   den·n²   = n²·Σx² − n·S²
    // (H_k/T_k = head/tail sums of the lag-k overlap) so the only
    // float is one final division, quant6'd. Scale shape: the lag
    // pairs come from ONE keyed equi-join of the calendar-bounded
    // spine against itself shifted by an exploded 7-row lag grid —
    // never a window carry, never per-pair recompute of totals.
    ("q265_autocorrelation", (s, d) => {
      val filled = dailyFilled(s, d)
      val tot = filled.groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("x").as("sx"),
             sum(col("x") * col("x")).as("sxx"))
      val shifted = filled
        .withColumn("k", explode(expr("sequence(1L, 7L)")))
        .withColumn("day2", col("day") + col("k"))
      val pairs = shifted.join(
          filled.select(col("event_type"), col("day").as("day2"), col("x").as("y")),
          Seq("event_type", "day2"))
        .groupBy("event_type", "k")
        .agg(sum(col("x") * col("y")).as("sxy"),
             sum("x").as("sh"), sum("y").as("st"))
      pairs.join(tot, "event_type")
        .select(col("event_type"), col("k").as("lag"), col("n").as("n_days"),
          Quant.quant6(
            (col("n") * col("n") * col("sxy")
              - col("n") * col("sx") * (col("sh") + col("st"))
              + (col("n") - col("k")) * col("sx") * col("sx")).cast("double")
            / (col("n") * col("n") * col("sxx")
              - col("n") * col("sx") * col("sx")).cast("double")).as("acf"))
        .orderBy("event_type", "lag")
    }, Some(s"""
      WITH $dailyFilledSql,
      tot AS (
        SELECT event_type, count(*)::BIGINT AS n, sum(x)::BIGINT AS sx,
               sum(x * x)::BIGINT AS sxx
        FROM filled GROUP BY 1),
      pairs AS (
        SELECT a.event_type, k.k, sum(a.x * b.x)::BIGINT AS sxy,
               sum(a.x)::BIGINT AS sh, sum(b.x)::BIGINT AS st
        FROM filled a
        JOIN (SELECT unnest(generate_series(1, 7))::BIGINT AS k) k ON true
        JOIN filled b ON b.event_type = a.event_type AND b.day = a.day + k.k
        GROUP BY 1, 2)
      SELECT p.event_type, p.k AS lag, t.n AS n_days,
             ${Quant.quant6Sql(
               """(t.n * t.n * p.sxy - t.n * t.sx * (p.sh + p.st)
                   + (t.n - p.k) * t.sx * t.sx)::DOUBLE
                  / (t.n * t.n * t.sxx - t.n * t.sx * t.sx)::DOUBLE""")} AS acf
      FROM pairs p JOIN tot t USING (event_type)
      ORDER BY event_type, lag
    """)),

    // ------------------------------------------------------------ CUSUM changepoint (round 12)
    // WHERE did each event type's level shift? q147's spike z-scores
    // flag single hot days and q231's Mann–Kendall says "there is a
    // monotone trend"; CUSUM localizes the single most likely mean
    // SHIFT point: the day t maximizing |Σ_{i≤t}(x_i − μ)|. All-integer
    // discipline: n·Σ_{i≤t}(x_i−μ) = n·P_t − t·S for prefix sum P_t,
    // so the argmax runs on exact integers (ties → earliest day) and
    // the only floats are the two segment means, quant6'd. Scale
    // shape: one prefix window PARTITIONED by event type over the
    // calendar-bounded spine (never the raw corpus), one argmax pick,
    // 5 rows out.
    ("q266_cusum_changepoint", (s, d) => {
      val filled = dailyFilled(s, d)
      val tot = filled.groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("x").as("s"))
      val w = Window.partitionBy("event_type").orderBy("day")
      val dev = filled
        .withColumn("t", row_number().over(w).cast("long"))
        .withColumn("px", sum("x").over(w))
        .join(tot, "event_type")
        .withColumn("scaled_dev", col("n") * col("px") - col("t") * col("s"))
      val pick = Window.partitionBy("event_type")
        .orderBy(abs(col("scaled_dev")).desc, col("day"))
      dev.withColumn("rn", row_number().over(pick)).filter(col("rn") === 1)
        .select(col("event_type"), col("n").as("n_days"),
          col("day").cast("long").as("cp_day"),
          col("t").as("cp_index"), abs(col("scaled_dev")).as("max_scaled_dev"),
          Quant.quant6(col("px").cast("double") / col("t")).as("mean_before"),
          when(col("n") > col("t"),
            Quant.quant6((col("s") - col("px")).cast("double")
              / (col("n") - col("t")))).as("mean_after"))
        .orderBy("event_type")
    }, Some(s"""
      WITH $dailyFilledSql,
      tot AS (SELECT event_type, count(*)::BIGINT AS n, sum(x)::BIGINT AS s
              FROM filled GROUP BY 1),
      pref AS (
        SELECT f.event_type, f.day,
               row_number() OVER w::BIGINT AS t,
               sum(f.x) OVER w::BIGINT AS px,
               t2.n, t2.s
        FROM filled f JOIN tot t2 USING (event_type)
        WINDOW w AS (PARTITION BY f.event_type ORDER BY f.day
                     ROWS UNBOUNDED PRECEDING)),
      dev AS (SELECT *, (n * px - t * s)::BIGINT AS scaled_dev FROM pref),
      top AS (
        SELECT * FROM dev
        QUALIFY row_number() OVER (PARTITION BY event_type
                                   ORDER BY abs(scaled_dev) DESC, day) = 1)
      SELECT event_type, n AS n_days, day AS cp_day, t AS cp_index,
             abs(scaled_dev)::BIGINT AS max_scaled_dev,
             ${Quant.quant6Sql("px::DOUBLE / t")} AS mean_before,
             CASE WHEN n > t
                  THEN ${Quant.quant6Sql("(s - px)::DOUBLE / (n - t)")} END AS mean_after
      FROM top
      ORDER BY event_type
    """)),

    // ------------------------------------------------------------ rolling regression slope (round 12)
    // WHEN was each event type growing or shrinking fastest? q241 fits
    // one global OLS line per group and q257's Theil–Sen gives the
    // robust global trend; operations wants the LOCAL trend — the
    // 14-day trailing OLS slope of daily volume, and its extremes.
    // Exactness discipline: within a full 14-day frame the days are
    // consecutive, so the slope denominator is the CONSTANT
    // n²(n²−1)/12 = 3185 and the numerator n·Σ(d·x) − Σd·Σx is exact
    // integer — the argmax/argmin run on integers (ties → earliest
    // day) and the only float is the final ÷3185, quant6'd. Scale
    // shape: one type-partitioned window over the checkpointed
    // calendar-bounded spine (never the raw corpus), then a 5-row
    // struct-max aggregate — no self-join, no second window pass.
    ("q271_rolling_slope", (s, d) => {
      val w = Window.partitionBy("event_type").orderBy("day").rowsBetween(-13, 0)
      dailyFilled(s, d)
        .withColumn("dl", col("day").cast("long"))
        .withColumn("nf", count(lit(1)).over(w))
        .withColumn("num", lit(14L) * sum(col("dl") * col("x")).over(w)
          - sum(col("dl")).over(w) * sum(col("x")).over(w))
        .filter(col("nf") === 14)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_windows"),
             max(struct(col("num"), (-col("dl")).as("nd"))).as("pk"),
             min(struct(col("num"), col("dl").as("dd"))).as("tr"))
        .select(col("event_type"), col("n_windows"),
          (-col("pk.nd")).as("peak_day"),
          Quant.quant6(col("pk.num").cast("double") / 3185.0).as("peak_slope"),
          col("tr.dd").as("trough_day"),
          Quant.quant6(col("tr.num").cast("double") / 3185.0).as("trough_slope"))
        .orderBy("event_type")
    }, Some(s"""
      WITH $dailyFilledSql,
      win AS (
        SELECT event_type, day,
               count(*) OVER w AS nf,
               (14 * sum(day * x) OVER w - sum(day) OVER w * sum(x) OVER w)::BIGINT AS num
        FROM filled
        WINDOW w AS (PARTITION BY event_type ORDER BY day
                     ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)),
      fullw AS (SELECT * FROM win WHERE nf = 14),
      ranked AS (
        SELECT event_type, day, num,
               row_number() OVER (PARTITION BY event_type ORDER BY num DESC, day) AS rp,
               row_number() OVER (PARTITION BY event_type ORDER BY num ASC, day) AS rt
        FROM fullw),
      cnt AS (SELECT event_type, count(*)::BIGINT AS n_windows FROM fullw GROUP BY 1)
      SELECT c.event_type, c.n_windows,
             p.day AS peak_day,
             ${Quant.quant6Sql("p.num::DOUBLE / 3185.0")} AS peak_slope,
             t.day AS trough_day,
             ${Quant.quant6Sql("t.num::DOUBLE / 3185.0")} AS trough_slope
      FROM cnt c
      JOIN (SELECT * FROM ranked WHERE rp = 1) p USING (event_type)
      JOIN (SELECT * FROM ranked WHERE rt = 1) t USING (event_type)
      ORDER BY event_type
    """)),

    // ------------------------------------------------------------ hierarchical prefix rollup (round 12)
    // Taxonomy rollup along a path-like attribute — the URL-hierarchy /
    // category-tree aggregation (every prefix level of `p_name`'s
    // word path gets its own revenue + part census; in this corpus the
    // path is adjective/noun, an 8 → 64 two-level tree). ROLLUP can't
    // do this (it groups by column sets, not string-path prefixes).
    // Scale shape: the corpus is reduced FIRST — lineitem → exact
    // cents per partkey (one key shuffle, co-keyed with the part
    // join), then collapsed to the ≤64-row distinct-path relation —
    // and only that bounded relation is exploded into prefixes. The
    // explode's cost is O(|distinct paths| · depth) regardless of
    // corpus size; exploding before aggregating would depth×-scan the
    // fact table.
    ("q269_prefix_rollup", (s, d) => {
      val rev = Tables.fanOut(Tables.lineitem(s, d))
        .groupBy(col("l_partkey"))
        .agg(sum(floor(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100 + 0.5)
          .cast("long")).as("cents"))
      val byPath = Tables.part(s, d).select(col("p_partkey"), col("p_name"))
        .join(rev, col("p_partkey") === col("l_partkey"), "left")
        .groupBy("p_name")
        .agg(count(lit(1)).as("n_parts"), coalesce(sum("cents"), lit(0L)).as("cents"))
      byPath
        .withColumn("depth", explode(sequence(lit(1L), lit(2L))))
        .withColumn("prefix",
          array_join(slice(split(col("p_name"), " "), lit(1), col("depth").cast("int")), " "))
        .groupBy("depth", "prefix")
        .agg(count(lit(1)).as("n_paths"),
             sum("n_parts").as("n_parts"),
             sum("cents").as("revenue_cents"))
        .orderBy("depth", "prefix")
    }, Some("""
      WITH linerev AS (
        SELECT l_partkey,
               sum(floor(l_extendedprice * (1.0 - l_discount) * 100 + 0.5)::BIGINT)::BIGINT AS cents
        FROM lineitem GROUP BY 1),
      bypath AS (
        SELECT p.p_name, count(*)::BIGINT AS n_parts,
               coalesce(sum(r.cents), 0)::BIGINT AS cents
        FROM part p LEFT JOIN linerev r ON r.l_partkey = p.p_partkey
        GROUP BY 1),
      lvls AS (
        SELECT g.d AS depth,
               array_to_string(list_slice(string_split(p_name, ' '), 1, g.d), ' ') AS prefix,
               n_parts, cents
        FROM bypath, (SELECT unnest(generate_series(1, 2))::BIGINT AS d) g)
      SELECT depth, prefix, count(*)::BIGINT AS n_paths,
             sum(n_parts)::BIGINT AS n_parts, sum(cents)::BIGINT AS revenue_cents
      FROM lvls
      GROUP BY 1, 2
      ORDER BY depth, prefix
    """)),

    // ------------------------------------------------------------ seasonal-naive MASE backtest (round 12)
    // The forecast-eval family's entry point: hold out each event
    // type's final week, forecast it with the seasonal-naive rule
    // (x̂_t = x_{t−7}) and score with MASE — holdout MAE scaled by the
    // IN-SAMPLE naive-1 MAE, the scale-free metric that makes error
    // comparable across types with different volumes (MASE < 1 ⇒
    // beats last-value persistence). Everything runs on the
    // calendar-bounded checkpointed spine: two lag columns from one
    // type-partitioned window, integer absolute-error sums, and ONE
    // float division per output row (sae_h·n_in / (h·sae_in)),
    // quant6'd.
    ("q283_mase_backtest", (s, d) => {
      val w = Window.partitionBy("event_type").orderBy("day")
      val wt = Window.partitionBy("event_type")
      val sc = dailyFilled(s, d)
        .withColumn("lag1", lag("x", 1).over(w))
        .withColumn("lag7", lag("x", 7).over(w))
        .withColumn("cut", max("day").over(wt) - 7)
      sc.groupBy("event_type")
        .agg(count(lit(1)).as("n_days"),
          sum(when(col("day") > col("cut") && col("lag7").isNotNull, lit(1L))
            .otherwise(0L)).as("h"),
          sum(when(col("day") > col("cut") && col("lag7").isNotNull,
            abs(col("x") - col("lag7"))).otherwise(0L)).as("sae_h"),
          sum(when(col("day") <= col("cut") && col("lag1").isNotNull, lit(1L))
            .otherwise(0L)).as("n_in"),
          sum(when(col("day") <= col("cut") && col("lag1").isNotNull,
            abs(col("x") - col("lag1"))).otherwise(0L)).as("sae_in"))
        .select(col("event_type"), col("n_days"), col("h"),
          Quant.quant6(col("sae_h").cast("double") / col("h")).as("mae_seasonal"),
          Quant.quant6(col("sae_in").cast("double") / col("n_in")).as("mae_naive_in"),
          Quant.quant6((col("sae_h") * col("n_in")).cast("double")
            / (col("h") * col("sae_in"))).as("mase"))
        .orderBy("event_type")
    }, Some(s"""
      WITH $dailyFilledSql,
      sc AS (
        SELECT event_type, day, x,
               lag(x, 1) OVER w AS lag1, lag(x, 7) OVER w AS lag7,
               max(day) OVER (PARTITION BY event_type) - 7 AS cut
        FROM filled
        WINDOW w AS (PARTITION BY event_type ORDER BY day)),
      agg AS (
        SELECT event_type, count(*)::BIGINT AS n_days,
               sum(CASE WHEN day > cut AND lag7 IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS h,
               sum(CASE WHEN day > cut AND lag7 IS NOT NULL THEN abs(x - lag7) ELSE 0 END)::BIGINT AS sae_h,
               sum(CASE WHEN day <= cut AND lag1 IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_in,
               sum(CASE WHEN day <= cut AND lag1 IS NOT NULL THEN abs(x - lag1) ELSE 0 END)::BIGINT AS sae_in
        FROM sc GROUP BY 1)
      SELECT event_type, n_days, h,
             ${Quant.quant6Sql("sae_h::DOUBLE / h")} AS mae_seasonal,
             ${Quant.quant6Sql("sae_in::DOUBLE / n_in")} AS mae_naive_in,
             ${Quant.quant6Sql("(sae_h * n_in)::DOUBLE / (h * sae_in)")} AS mase
      FROM agg
      ORDER BY event_type
    """)),

    // ------------------------------------------------------------ pinball-loss quantile eval (round 12)
    // q283 scores a point forecast; capacity planning wants QUANTILE
    // forecasts ("provision for the p90 day") — scored with the
    // pinball loss, the proper scoring rule for quantiles: under-
    // prediction of the p90 costs 0.9 per unit, over-prediction 0.1.
    // Train = all but the final week per type, forecast = the train
    // window's exact interpolated p50/p90 (a constant per type — the
    // climatological quantile baseline), scored on the holdout week.
    // Spine-bounded: the quantile runs per type on ≤|days| rows, the
    // holdout join is keyed on the 5-row type dimension.
    ("q284_pinball_eval", (s, d) => {
      val wt = Window.partitionBy("event_type")
      val sc = dailyFilled(s, d)
        .withColumn("cut", max("day").over(wt) - 7)
      val fc = sc.filter(col("day") <= col("cut")).groupBy("event_type")
        .agg(expr("percentile(x, 0.5)").as("f50"),
             expr("percentile(x, 0.9)").as("f90"))
      def pinball(q: Double, f: Column): Column =
        sum(when(col("x").cast("double") >= f, lit(q) * (col("x") - f))
          .otherwise(lit(1 - q) * (f - col("x"))))
      sc.filter(col("day") > col("cut"))
        .join(fc, "event_type")
        .groupBy("event_type")
        .agg(count(lit(1)).as("h"),
             max("f50").as("f50"), max("f90").as("f90"),
             pinball(0.5, col("f50")).as("p50loss"),
             pinball(0.9, col("f90")).as("p90loss"))
        .select(col("event_type"), col("h"),
          Quant.quant6(col("f50")).as("forecast_p50"),
          Quant.quant6(col("f90")).as("forecast_p90"),
          Quant.quant6(col("p50loss") / col("h")).as("pinball_p50"),
          Quant.quant6(col("p90loss") / col("h")).as("pinball_p90"))
        .orderBy("event_type")
    }, Some(s"""
      WITH $dailyFilledSql,
      sc AS (
        SELECT event_type, day, x,
               max(day) OVER (PARTITION BY event_type) - 7 AS cut
        FROM filled),
      fc AS (
        SELECT event_type, quantile_cont(x, 0.5) AS f50, quantile_cont(x, 0.9) AS f90
        FROM sc WHERE day <= cut GROUP BY 1),
      ho AS (
        SELECT s.event_type, s.x, f.f50, f.f90
        FROM sc s JOIN fc f USING (event_type)
        WHERE s.day > s.cut)
      SELECT event_type, count(*)::BIGINT AS h,
             ${Quant.quant6Sql("max(f50)")} AS forecast_p50,
             ${Quant.quant6Sql("max(f90)")} AS forecast_p90,
             ${Quant.quant6Sql(
               """sum(CASE WHEN x::DOUBLE >= f50 THEN 0.5 * (x - f50)
                           ELSE 0.5 * (f50 - x) END) / count(*)""")} AS pinball_p50,
             ${Quant.quant6Sql(
               """sum(CASE WHEN x::DOUBLE >= f90 THEN 0.9 * (x - f90)
                           ELSE 0.1 * (f90 - x) END) / count(*)""")} AS pinball_p90
      FROM ho GROUP BY 1
      ORDER BY event_type
    """))
  )

}
