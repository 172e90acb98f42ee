package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{QueryGroup, Tables}

/** Relational batch corpus.
  *
  * The reference (`/root/reference/src/main/java/.../Processor.java:118-147`)
  * has a single source→map→sink pipeline and no relational operators at all
  * (SURVEY.md §2.2); this group supplies the full standard taxonomy —
  * scan/filter/project, every join shape, aggregation variants, window
  * functions, sorts/top-k, set ops, scalar expressions, subquery patterns —
  * expressed declaratively so Catalyst handles pushdown, pruning, join
  * selection and AQE at scale.
  *
  * Determinism rules (DuckDB-oracle parity, SURVEY.md §5.2):
  * stable ORDER BY with unique tie-breakers, `round(agg, n)` on every
  * floating aggregate, explicit NULLS FIRST in oracle SQL (DuckDB default
  * is NULLS LAST; Spark's is NULLS FIRST for ASC), timestamps cast to DATE
  * in outputs where the value is day-grained.
  */
object Relational extends QueryGroup {

  private def rev: Column = col("l_extendedprice") * (lit(1.0) - col("l_discount"))

  /** (name, spark query, oracle DuckDB SQL) — oracle None => rows-only check. */
  override protected val entries: Vector[(String, (SparkSession, String) => DataFrame, Option[String])] = Vector(

    // ---------------------------------------------------------------- scan / filter / agg / sort
    ("q01_pricing_summary", (s, d) => {
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") <= lit("2000-01-01").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum("l_quantity"), 2).as("sum_qty"),
          round(sum("l_extendedprice"), 2).as("sum_base_price"),
          round(sum(rev), 2).as("sum_disc_price"),
          round(sum(rev * (lit(1.0) + col("l_tax"))), 2).as("sum_charge"),
          round(avg("l_quantity"), 2).as("avg_qty"),
          round(avg("l_extendedprice"), 2).as("avg_price"),
          round(avg("l_discount"), 4).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    }, Some("""
      SELECT l_returnflag, l_linestatus,
             round(sum(l_quantity), 2)                                   AS sum_qty,
             round(sum(l_extendedprice), 2)                              AS sum_base_price,
             round(sum(l_extendedprice * (1.0 - l_discount)), 2)         AS sum_disc_price,
             round(sum(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)), 2) AS sum_charge,
             round(avg(l_quantity), 2)                                   AS avg_qty,
             round(avg(l_extendedprice), 2)                              AS avg_price,
             round(avg(l_discount), 4)                                   AS avg_disc,
             count(*)                                                    AS count_order
      FROM lineitem
      WHERE l_shipdate <= TIMESTAMP '2000-01-01 00:00:00'
      GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus
    """)),

    // ---------------------------------------------------------------- projection + filter pushdown
    ("q02_filter_project", (s, d) => {
      Tables.lineitem(s, d)
        .filter(col("l_quantity") > 45 && col("l_discount").between(0.05, 0.07))
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
        .orderBy("l_orderkey", "l_linenumber")
    }, Some("""
      SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
      FROM lineitem
      WHERE l_quantity > 45 AND l_discount BETWEEN 0.05 AND 0.07
      ORDER BY l_orderkey, l_linenumber
    """)),

    // ---------------------------------------------------------------- 3-way equi join + agg + top-k (TPC-H Q3 shape)
    ("q03_topk_order_revenue", (s, d) => {
      val c = Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
      val o = Tables.orders(s, d).filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      val l = Tables.lineitem(s, d).filter(col("l_shipdate") > lit("1996-01-01").cast("timestamp"))
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate").cast("date").as("o_orderdate"))
        .agg(round(sum(rev), 2).as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    }, Some("""
      SELECT l_orderkey, o_orderdate::DATE AS o_orderdate,
             round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
      FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      WHERE c_mktsegment = 'BUILDING'
        AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        AND l_shipdate  > TIMESTAMP '1996-01-01 00:00:00'
      GROUP BY l_orderkey, o_orderdate::DATE
      ORDER BY revenue DESC, l_orderkey
      LIMIT 10
    """)),

    // ---------------------------------------------------------------- left outer join keeping empty groups
    ("q04_left_join_order_counts", (s, d) => {
      val c = Tables.customer(s, d)
      val o = Tables.orders(s, d)
      c.join(o, col("c_custkey") === col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("n_orders"),
             round(coalesce(sum("o_totalprice"), lit(0.0)), 2).as("total_spent"))
        .orderBy("c_custkey")
    }, Some("""
      SELECT c_custkey,
             count(o_orderkey)                       AS n_orders,
             round(coalesce(sum(o_totalprice), 0), 2) AS total_spent
      FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      GROUP BY c_custkey
      ORDER BY c_custkey
    """)),

    // ---------------------------------------------------------------- semi join (EXISTS)
    ("q05_semi_join_f_orders", (s, d) => {
      val f = Tables.orders(s, d).filter(col("o_orderstatus") === "F")
      Tables.customer(s, d)
        .join(f, col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name", "c_mktsegment")
        .orderBy("c_custkey")
    }, Some("""
      SELECT c_custkey, c_name, c_mktsegment
      FROM customer
      WHERE EXISTS (SELECT 1 FROM orders
                    WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
      ORDER BY c_custkey
    """)),

    // ---------------------------------------------------------------- anti join (NOT EXISTS)
    ("q06_anti_join_no_orders", (s, d) => {
      Tables.customer(s, d)
        .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name", "c_acctbal")
        .orderBy("c_custkey")
    }, Some("""
      SELECT c_custkey, c_name, c_acctbal
      FROM customer
      WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      ORDER BY c_custkey
    """)),

    // ---------------------------------------------------------------- star join over broadcast dims (TPC-H Q5 shape)
    ("q07_nation_revenue", (s, d) => {
      Tables.lineitem(s, d)
        .join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(Tables.nation(s, d)), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(round(sum(rev), 2).as("revenue"), count(lit(1)).as("n_items"))
        .orderBy("r_name", "n_name")
    }, Some("""
      SELECT r_name, n_name,
             round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue,
             count(*) AS n_items
      FROM lineitem
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation   ON s_nationkey = n_nationkey
      JOIN region   ON n_regionkey = r_regionkey
      GROUP BY r_name, n_name
      ORDER BY r_name, n_name
    """)),

    // ---------------------------------------------------------------- non-equi (range) join against literal bands
    ("q08_price_band_join", (s, d) => {
      val bands = s.createDataFrame(Seq(
        (900.0, 925.0, "b1_900_925"),
        (925.0, 950.0, "b2_925_950"),
        (950.0, 975.0, "b3_950_975"),
        (975.0, 1000.0, "b4_975_1000"))).toDF("lo", "hi", "band")
      Tables.part(s, d)
        .join(broadcast(bands),
              col("p_retailprice") >= col("lo") && col("p_retailprice") < col("hi"))
        .groupBy("band")
        .agg(count(lit(1)).as("n_parts"), round(avg("p_retailprice"), 2).as("avg_price"))
        .orderBy("band")
    }, Some("""
      SELECT band, count(*) AS n_parts, round(avg(p_retailprice), 2) AS avg_price
      FROM part
      JOIN (VALUES (900.0, 925.0, 'b1_900_925'),
                   (925.0, 950.0, 'b2_925_950'),
                   (950.0, 975.0, 'b3_950_975'),
                   (975.0, 1000.0, 'b4_975_1000')) AS bands(lo, hi, band)
        ON p_retailprice >= lo AND p_retailprice < hi
      GROUP BY band
      ORDER BY band
    """)),

    // ---------------------------------------------------------------- distinct aggregation
    ("q09_agg_distinct", (s, d) => {
      Tables.orders(s, d)
        .groupBy("o_orderstatus")
        .agg(countDistinct(col("o_custkey")).as("n_customers"),
             count(lit(1)).as("n_orders"),
             round(sum("o_totalprice"), 2).as("sum_price"))
        .orderBy("o_orderstatus")
    }, Some("""
      SELECT o_orderstatus,
             count(DISTINCT o_custkey)    AS n_customers,
             count(*)                     AS n_orders,
             round(sum(o_totalprice), 2)  AS sum_price
      FROM orders
      GROUP BY o_orderstatus
      ORDER BY o_orderstatus
    """)),

    // ---------------------------------------------------------------- rollup
    ("q10_rollup", (s, d) => {
      Tables.lineitem(s, d)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), round(sum("l_quantity"), 2).as("sum_qty"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
                coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
                col("n"), col("sum_qty"))
        .orderBy("rf", "ls")
    }, Some("""
      SELECT coalesce(l_returnflag, 'ALL') AS rf,
             coalesce(l_linestatus, 'ALL') AS ls,
             count(*) AS n, round(sum(l_quantity), 2) AS sum_qty
      FROM lineitem
      GROUP BY ROLLUP (l_returnflag, l_linestatus)
      ORDER BY rf, ls
    """)),

    // ---------------------------------------------------------------- cube
    ("q11_cube", (s, d) => {
      Tables.orders(s, d)
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), round(avg("o_totalprice"), 2).as("avg_price"))
        .select(coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
                coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
                col("n"), col("avg_price"))
        .orderBy("status", "priority")
    }, Some("""
      SELECT coalesce(o_orderstatus, 'ALL')   AS status,
             coalesce(o_orderpriority, 'ALL') AS priority,
             count(*) AS n, round(avg(o_totalprice), 2) AS avg_price
      FROM orders
      GROUP BY CUBE (o_orderstatus, o_orderpriority)
      ORDER BY status, priority
    """)),

    // ---------------------------------------------------------------- grouping sets
    ("q12_grouping_sets", (s, d) => {
      Tables.orders(s, d)
        .groupingSets(
          Seq(Seq(col("o_orderstatus")), Seq(col("o_orderpriority"))),
          col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("sum_price"))
        .select(coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
                coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
                col("n"), col("sum_price"))
        .orderBy("status", "priority")
    }, Some("""
      SELECT coalesce(o_orderstatus, 'ALL')   AS status,
             coalesce(o_orderpriority, 'ALL') AS priority,
             count(*) AS n, round(sum(o_totalprice), 2) AS sum_price
      FROM orders
      GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
      ORDER BY status, priority
    """)),

    // ---------------------------------------------------------------- ranking window + per-group top-k
    ("q13_window_topk_per_brand", (s, d) => {
      val w = Window.partitionBy(col("p_brand"))
        .orderBy(col("p_retailprice").desc, col("p_partkey"))
      Tables.part(s, d)
        .withColumn("rn", row_number().over(w).cast("long"))
        .withColumn("rk", rank().over(w).cast("long"))
        .filter(col("rn") <= 3)
        .select("p_brand", "rn", "rk", "p_partkey", "p_retailprice")
        .orderBy("p_brand", "rn")
    }, Some("""
      SELECT p_brand, rn, rk, p_partkey, p_retailprice
      FROM (SELECT p_brand, p_partkey, p_retailprice,
                   row_number() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey) AS rn,
                   rank()       OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey) AS rk
            FROM part) t
      WHERE rn <= 3
      ORDER BY p_brand, rn
    """)),

    // ---------------------------------------------------------------- analytic window: running frame + lag/lead
    ("q14_window_running_totals", (s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      Tables.orders(s, d)
        .filter(col("o_custkey") < 50)
        .select(col("o_custkey"), col("o_orderkey"),
                col("o_orderdate").cast("date").as("o_orderdate"),
                round(sum("o_totalprice").over(
                  w.rowsBetween(Window.unboundedPreceding, Window.currentRow)), 2).as("running_total"),
                lag("o_orderkey", 1).over(w).as("prev_order"),
                lead("o_orderkey", 1).over(w).as("next_order"))
        .orderBy("o_custkey", "o_orderdate", "o_orderkey")
    }, Some("""
      SELECT o_custkey, o_orderkey, o_orderdate::DATE AS o_orderdate,
             round(sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total,
             lag(o_orderkey)  OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev_order,
             lead(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS next_order
      FROM orders
      WHERE o_custkey < 50
      ORDER BY o_custkey, o_orderdate, o_orderkey NULLS FIRST
    """)),

    // ---------------------------------------------------------------- global top-k (TakeOrderedAndProject)
    ("q15_global_topk", (s, d) => {
      Tables.lineitem(s, d)
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
        .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
        .limit(20)
    }, Some("""
      SELECT l_orderkey, l_linenumber, l_extendedprice
      FROM lineitem
      ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
      LIMIT 20
    """)),

    // ---------------------------------------------------------------- set ops: union distinct
    ("q16_union", (s, d) => {
      val o = Tables.orders(s, d)
      val a = o.filter(col("o_orderdate") < lit("1996-01-01").cast("timestamp")).select("o_custkey")
      val b = o.filter(col("o_totalprice") > 400000).select("o_custkey")
      a.union(b).distinct().orderBy("o_custkey")
    }, Some("""
      SELECT o_custkey FROM orders WHERE o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
      UNION
      SELECT o_custkey FROM orders WHERE o_totalprice > 400000
      ORDER BY o_custkey
    """)),

    // ---------------------------------------------------------------- set ops: intersect
    ("q17_intersect", (s, d) => {
      val o = Tables.orders(s, d)
      val y95 = o.filter(year(col("o_orderdate")) === 1995).select("o_custkey")
      val y96 = o.filter(year(col("o_orderdate")) === 1996).select("o_custkey")
      y95.intersect(y96).orderBy("o_custkey")
    }, Some("""
      SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
      INTERSECT
      SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996
      ORDER BY o_custkey
    """)),

    // ---------------------------------------------------------------- set ops: except
    ("q18_except", (s, d) => {
      val c = Tables.customer(s, d).select("c_custkey")
      val o = Tables.orders(s, d).filter(col("o_orderstatus") === "O").select(col("o_custkey").as("c_custkey"))
      c.except(o).orderBy("c_custkey")
    }, Some("""
      SELECT c_custkey FROM customer
      EXCEPT
      SELECT o_custkey AS c_custkey FROM orders WHERE o_orderstatus = 'O'
      ORDER BY c_custkey
    """)),

    // ---------------------------------------------------------------- string functions
    ("q19_string_funcs", (s, d) => {
      Tables.part(s, d)
        .select(col("p_partkey"),
                upper(col("p_name")).as("up_name"),
                substring(col("p_name"), 1, 8).as("prefix"),
                length(col("p_name")).cast("long").as("name_len"),
                concat_ws("/", col("p_brand"), col("p_type")).as("brand_type"),
                regexp_extract(col("p_brand"), "Brand#(\\d+)", 1).cast("int").as("brand_num"),
                regexp_replace(col("p_type"), "[AEIOU]", "_").as("devowel"))
        .orderBy("p_partkey")
    }, Some("""
      SELECT p_partkey,
             upper(p_name)                               AS up_name,
             substring(p_name, 1, 8)                     AS prefix,
             length(p_name)                              AS name_len,
             concat_ws('/', p_brand, p_type)             AS brand_type,
             regexp_extract(p_brand, 'Brand#(\d+)', 1)::INTEGER AS brand_num,
             regexp_replace(p_type, '[AEIOU]', '_', 'g') AS devowel
      FROM part
      ORDER BY p_partkey
    """)),

    // ---------------------------------------------------------------- date functions
    ("q20_date_funcs", (s, d) => {
      Tables.orders(s, d)
        .select(year(col("o_orderdate")).cast("long").as("o_year"),
                month(col("o_orderdate")).cast("long").as("o_month"),
                date_trunc("month", col("o_orderdate")).cast("date").as("month_start"),
                datediff(lit("2002-01-01").cast("date"), col("o_orderdate").cast("date")).cast("long").as("age_days"),
                col("o_totalprice"))
        .groupBy("o_year", "o_month", "month_start")
        .agg(count(lit(1)).as("n_orders"),
             round(sum("o_totalprice"), 2).as("sum_price"),
             min("age_days").as("min_age_days"))
        .orderBy("o_year", "o_month")
    }, Some("""
      SELECT year(o_orderdate)                        AS o_year,
             month(o_orderdate)                       AS o_month,
             date_trunc('month', o_orderdate)::DATE   AS month_start,
             count(*)                                 AS n_orders,
             round(sum(o_totalprice), 2)              AS sum_price,
             min(datediff('day', o_orderdate::DATE, DATE '2002-01-01')) AS min_age_days
      FROM orders
      GROUP BY 1, 2, 3
      ORDER BY o_year, o_month
    """)),

    // ---------------------------------------------------------------- math + CASE bucketing
    ("q21_math_case", (s, d) => {
      Tables.lineitem(s, d)
        .withColumn("qty_bucket",
          when(col("l_quantity") < 10, "small")
            .when(col("l_quantity") < 30, "medium")
            .otherwise("large"))
        .groupBy("qty_bucket")
        .agg(count(lit(1)).as("n"),
             round(sqrt(sum("l_extendedprice")), 4).as("sqrt_sum_price"),
             round(log(sum("l_quantity")), 4).as("ln_sum_qty"),
             round(pow(avg("l_discount"), 2), 6).as("avg_disc_sq"),
             round(abs(min(col("l_tax") - lit(0.05))), 4).as("min_tax_dev"))
        .orderBy("qty_bucket")
    }, Some("""
      SELECT CASE WHEN l_quantity < 10 THEN 'small'
                  WHEN l_quantity < 30 THEN 'medium'
                  ELSE 'large' END                         AS qty_bucket,
             count(*)                                      AS n,
             round(sqrt(sum(l_extendedprice)), 4)          AS sqrt_sum_price,
             round(ln(sum(l_quantity)), 4)                 AS ln_sum_qty,
             round(pow(avg(l_discount), 2), 6)             AS avg_disc_sq,
             round(abs(min(l_tax - 0.05)), 4)              AS min_tax_dev
      FROM lineitem
      GROUP BY 1
      ORDER BY qty_bucket
    """)),

    // ---------------------------------------------------------------- scalar subquery (above global average)
    ("q22_scalar_subquery", (s, d) => {
      val c = Tables.customer(s, d)
      val avgBal = c.agg(avg("c_acctbal").as("avg_bal"))
      c.join(broadcast(avgBal))
        .filter(col("c_acctbal") > col("avg_bal"))
        .select("c_custkey", "c_name", "c_acctbal")
        .orderBy("c_custkey")
    }, Some("""
      SELECT c_custkey, c_name, c_acctbal
      FROM customer
      WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer)
      ORDER BY c_custkey
    """)),

    // ---------------------------------------------------------------- correlated subquery (above per-nation average)
    ("q23_correlated_subquery", (s, d) => {
      val c = Tables.customer(s, d)
      val natAvg = c.groupBy("c_nationkey").agg(avg("c_acctbal").as("nation_avg"))
      c.join(broadcast(natAvg), Seq("c_nationkey"))
        .filter(col("c_acctbal") > col("nation_avg"))
        .select("c_custkey", "c_nationkey", "c_acctbal")
        .orderBy("c_custkey")
    }, Some("""
      SELECT c_custkey, c_nationkey, c_acctbal
      FROM customer c
      WHERE c_acctbal > (SELECT avg(c2.c_acctbal) FROM customer c2
                         WHERE c2.c_nationkey = c.c_nationkey)
      ORDER BY c_custkey
    """)),

    // ---------------------------------------------------------------- IN subquery
    ("q24_in_subquery", (s, d) => {
      val building = Tables.customer(s, d)
        .filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
      Tables.orders(s, d)
        .join(building, col("o_custkey") === col("c_custkey"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_orders"))
        .orderBy("o_orderpriority")
    }, Some("""
      SELECT o_orderpriority, count(*) AS n_orders
      FROM orders
      WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority
    """)),

    // ---------------------------------------------------------------- JSON extraction (events.props is a JSON string)
    ("q25_json_funcs", (s, d) => {
      Tables.events(s, d)
        .select(col("event_type"),
                get_json_object(col("props"), "$.k").cast("int").as("k"),
                col("value"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
             round(avg("k"), 4).as("avg_k"),
             max("k").as("max_k"),
             round(sum("value"), 2).as("sum_value"))
        .orderBy("event_type")
    }, Some("""
      SELECT event_type,
             count(*)                                             AS n,
             round(avg(json_extract_string(props, '$.k')::INTEGER), 4) AS avg_k,
             max(json_extract_string(props, '$.k')::INTEGER)      AS max_k,
             round(sum(value), 2)                                 AS sum_value
      FROM events
      GROUP BY event_type
      ORDER BY event_type
    """)),

    // ---------------------------------------------------------------- Spark 4 VariantType: parse_json → variant_get shred (round 10)
    // The semi-structured path the reference's registry-schema'd
    // records map onto in Spark 4 (SURVEY §1.4: Processor.java:128-130
    // → VariantType): encode each event as a nested JSON document,
    // parse it to a VARIANT value (binary semi-structured encoding —
    // at scale this is the column you'd LAND loosely-schema'd vendor
    // payloads in, with shredding deferred to read time), then shred
    // with typed `variant_get` path extraction — nested object paths,
    // array indexing, and a missing-path probe (NULL, never an error)
    // — and aggregate by an extracted field. The ORACLE never touches
    // variant: DuckDB computes the same aggregates straight from the
    // source columns, so the round-trip through variant encode/decode
    // is what's being verified (two algorithms, one answer). The JSON
    // doc rides to_json's shortest-round-trip double printing, which
    // parse_json reads back to the identical IEEE value.
    ("q220_variant_shred", (s, d) => {
      val doc = to_json(struct(col("event_id"), col("event_type"),
        struct(col("user_id"), col("value")).as("payload"),
        array(col("value"), col("value") * 2).as("arr")))
      Tables.events(s, d)
        .select(parse_json(doc).as("v"))
        .select(
          variant_get(col("v"), "$.event_type", "string").as("etype"),
          variant_get(col("v"), "$.payload.user_id", "bigint").as("uid"),
          variant_get(col("v"), "$.payload.value", "double").as("val"),
          variant_get(col("v"), "$.arr[1]", "double").as("val2"),
          variant_get(col("v"), "$.payload.missing", "string").as("absent"))
        .groupBy("etype")
        .agg(count(lit(1)).as("n"),
             countDistinct(col("uid")).as("n_users"),
             round(sum("val"), 2).as("sum_value"),
             round(sum("val2"), 2).as("sum_doubled"),
             sum(when(col("absent").isNull, 1L).otherwise(0L)).as("n_missing"))
        .orderBy("etype")
    }, Some("""
      SELECT event_type AS etype,
             count(*)                        AS n,
             count(DISTINCT user_id)         AS n_users,
             round(sum(value), 2)            AS sum_value,
             round(sum(value * 2), 2)        AS sum_doubled,
             count(*)                        AS n_missing
      FROM events
      GROUP BY event_type
      ORDER BY etype
    """)),

    // ---------------------------------------------------------------- array (vector) columns: higher-order functions
    ("q26_array_funcs", (s, d) => {
      Tables.embeddings(s, d)
        .select(col("vec_id"), col("label"),
                size(col("embedding")).cast("long").as("dim"),
                round(element_at(col("embedding"), 1).cast("double"), 4).as("first_val"),
                // codegen'd `float_dot` self-dot (round 18, guide
                // §4): bit-identical accumulation to the HOF fold it
                // replaces, evaluated once per corpus row
                round(sqrt(graft.functions.VectorFunctions.normSq(col("embedding"))), 4)
                  .as("l2_norm"))
        .orderBy("vec_id")
    }, Some("""
      SELECT vec_id, label,
             len(embedding)                       AS dim,
             round(embedding[1]::DOUBLE, 4)       AS first_val,
             round(sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))), 4) AS l2_norm
      FROM embeddings
      ORDER BY vec_id
    """)),

    // ---------------------------------------------------------------- event-time tumbling window (batch form of the streaming agg)
    ("q27_event_hourly_window", (s, d) => {
      Tables.events(s, d)
        .groupBy(window(col("ts"), "1 hour").getField("start").as("hour_start"),
                 col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
        .orderBy("hour_start", "event_type")
    }, Some("""
      SELECT date_trunc('hour', ts)::TIMESTAMP AS hour_start, event_type,
             count(*) AS n, round(sum(value), 2) AS sum_value
      FROM events
      GROUP BY 1, 2
      ORDER BY hour_start, event_type
    """)),

    // ---------------------------------------------------------------- event-time sliding window (2h window, 1h slide)
    ("q28_event_sliding_window", (s, d) => {
      Tables.events(s, d)
        .groupBy(window(col("ts"), "2 hours", "1 hour").getField("start").as("win_start"))
        // avg as round(sum)/count: bit-deterministic on both engines,
        // unlike round(avg(...), n) which can land on half-way decimal
        // boundaries where Spark and DuckDB round differently.
        .agg(count(lit(1)).as("n"),
             (round(sum("value"), 2) / count(lit(1))).as("avg_value"))
        .orderBy("win_start")
    }, Some("""
      SELECT win_start, count(*) AS n, round(sum(value), 2) / count(*) AS avg_value
      FROM (SELECT date_trunc('hour', ts)::TIMESTAMP AS win_start, value FROM events
            UNION ALL
            SELECT date_trunc('hour', ts)::TIMESTAMP - INTERVAL 1 HOUR, value FROM events) t
      GROUP BY win_start
      ORDER BY win_start
    """)),

    // ---------------------------------------------------------------- full outer join (round 3)
    // Year-over-year revenue per customer: either side may be absent.
    // A shuffled full-outer hash/SMJ on the key — no driver-side logic.
    ("q76_full_outer_join", (s, d) => {
      val o = Tables.orders(s, d)
      def rev(y: Int, out: String) =
        o.filter(year(col("o_orderdate")) === y)
          .groupBy("o_custkey").agg(round(sum("o_totalprice"), 2).as(out))
      rev(1995, "rev95").join(rev(1996, "rev96"), Seq("o_custkey"), "full_outer")
        .orderBy("o_custkey")
    }, Some("""
      WITH a AS (SELECT o_custkey, round(sum(o_totalprice), 2) AS rev95
                 FROM orders WHERE year(o_orderdate) = 1995 GROUP BY 1),
      b AS (SELECT o_custkey, round(sum(o_totalprice), 2) AS rev96
            FROM orders WHERE year(o_orderdate) = 1996 GROUP BY 1)
      SELECT COALESCE(a.o_custkey, b.o_custkey) AS o_custkey, a.rev95, b.rev96
      FROM a FULL OUTER JOIN b ON a.o_custkey = b.o_custkey
      ORDER BY o_custkey
    """)),

    // ---------------------------------------------------------------- bag-semantics set ops (round 3)
    // UNION ALL / INTERSECT ALL / EXCEPT ALL with multiplicities — the
    // ALL variants plan as aggregating joins (no dedup pass), distinct
    // from q16-q18's set-semantics forms.
    ("q77_setops_all", (s, d) => {
      val l = Tables.lineitem(s, d)
      val hi = l.filter(col("l_quantity") > 45).select("l_orderkey")
      val ret = l.filter(col("l_returnflag") === "R").select("l_orderkey")
      def tag(df: DataFrame, op: String) = df.withColumn("op", lit(op))
      tag(hi.union(ret), "union_all")
        .union(tag(hi.intersectAll(ret), "intersect_all"))
        .union(tag(hi.exceptAll(ret), "except_all"))
        .groupBy("op")
        .agg(count(lit(1)).as("n_rows"), countDistinct("l_orderkey").as("n_keys"))
        .orderBy("op")
    }, Some("""
      WITH hi AS (SELECT l_orderkey FROM lineitem WHERE l_quantity > 45),
      ret AS (SELECT l_orderkey FROM lineitem WHERE l_returnflag = 'R'),
      u AS (SELECT l_orderkey FROM hi UNION ALL SELECT l_orderkey FROM ret),
      i AS (SELECT l_orderkey FROM hi INTERSECT ALL SELECT l_orderkey FROM ret),
      e AS (SELECT l_orderkey FROM hi EXCEPT ALL SELECT l_orderkey FROM ret)
      SELECT 'union_all' AS op, count(*) AS n_rows, count(DISTINCT l_orderkey) AS n_keys FROM u
      UNION ALL
      SELECT 'intersect_all', count(*), count(DISTINCT l_orderkey) FROM i
      UNION ALL
      SELECT 'except_all', count(*), count(DISTINCT l_orderkey) FROM e
      ORDER BY op
    """)),

    // ---------------------------------------------------------------- lateral (correlated) join (round 3)
    // Top-2 orders per customer via SQL LATERAL — Catalyst decorrelates
    // the per-row subquery into a ranked window join, not a per-row
    // re-execution.
    ("q78_lateral_join", (s, d) => {
      Tables.customer(s, d).createOrReplaceTempView("g78_customer")
      Tables.orders(s, d).createOrReplaceTempView("g78_orders")
      s.sql("""
        SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
        FROM g78_customer c,
        LATERAL (SELECT o_orderkey, o_totalprice FROM g78_orders o
                 WHERE o.o_custkey = c.c_custkey
                 ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
        ORDER BY c.c_custkey, t.o_totalprice DESC, t.o_orderkey
      """)
    }, Some("""
      SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
      FROM customer c,
      LATERAL (SELECT o_orderkey, o_totalprice FROM orders o
               WHERE o.o_custkey = c.c_custkey
               ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
      ORDER BY c.c_custkey, t.o_totalprice DESC, t.o_orderkey
    """)),

    // ---------------------------------------------------------------- time-series gap fill (round 3)
    // Densify sparse hourly counts: the (hour × type) grid is built
    // from two TINY aggregates (time bounds, distinct types) and the
    // left join shuffles on (hour, type) — the sparse→dense resample
    // every monitoring/feature pipeline needs.
    ("q79_gap_fill", (s, d) => {
      val ev = Tables.events(s, d)
      val hours = ev
        .agg(min(date_trunc("hour", col("ts"))).as("h0"),
             max(date_trunc("hour", col("ts"))).as("h1"))
        .select(explode(expr("sequence(h0, h1, interval 1 hour)")).as("hour"))
      val types = ev.select("event_type").distinct()
      val counts = ev
        .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
        .agg(count(lit(1)).as("n"))
      hours.crossJoin(broadcast(types))
        .join(counts, Seq("hour", "event_type"), "left")
        .na.fill(0L, Seq("n"))
        .orderBy("hour", "event_type")
    }, Some("""
      WITH b AS (SELECT min(date_trunc('hour', ts)) AS h0, max(date_trunc('hour', ts)) AS h1 FROM events),
      hours AS (SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR))::TIMESTAMP AS hour FROM b),
      types AS (SELECT DISTINCT event_type FROM events),
      c AS (SELECT date_trunc('hour', ts)::TIMESTAMP AS hour, event_type, count(*) AS n
            FROM events GROUP BY 1, 2)
      SELECT h.hour, t.event_type, COALESCE(c.n, 0) AS n
      FROM hours h CROSS JOIN types t
      LEFT JOIN c ON c.hour = h.hour AND c.event_type = t.event_type
      ORDER BY h.hour, t.event_type
    """)),

    // ---------------------------------------------------------------- distribution window functions (round 3)
    // ntile / percent_rank / cume_dist; the ORDER BY includes the
    // unique key so rank ties can't exist and the doubles are exact
    // rational divisions — bit-deterministic cross-engine.
    ("q80_window_distribution", (s, d) => {
      val w = Window.partitionBy("c_nationkey").orderBy(col("c_acctbal"), col("c_custkey"))
      Tables.customer(s, d).select(
        col("c_custkey"), col("c_nationkey"), col("c_acctbal"),
        ntile(4).over(w).cast("long").as("quartile"),
        percent_rank().over(w).as("pr"),
        cume_dist().over(w).as("cd"))
        .orderBy("c_custkey")
    }, Some("""
      SELECT c_custkey, c_nationkey, c_acctbal,
             ntile(4) OVER w AS quartile,
             percent_rank() OVER w AS pr,
             cume_dist() OVER w AS cd
      FROM customer
      WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey)
      ORDER BY c_custkey
    """))
  )

}
