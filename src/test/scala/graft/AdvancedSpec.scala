package graft

import org.scalatest.funsuite.AnyFunSuite

/** Specs for the advanced taxonomy operators. */
class AdvancedSpec extends AnyFunSuite with SparkFixture {

  test("q48 approx_count_distinct stays within the configured 2% rsd (10x slack)") {
    val rows = SparkEntry.queries("q48_approx_distinct")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val exact = r.getAs[Long]("exact_parts").toDouble
      val approx = r.getAs[Long]("approx_parts").toDouble
      assert(math.abs(approx - exact) / exact <= 0.2,
        s"approx too far off: exact=$exact approx=$approx")
    }
  }

  test("q97 count-min estimates never undercount and overcount within eps*N slack") {
    import org.apache.spark.sql.functions._
    import graft.functions.TextFunctions.tokens
    val toks = Tables.documents(spark, sfDir)
      .select(explode(tokens(col("text"))).as("term"))
    val exact = toks.groupBy("term").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = exact.values.sum
    val rows = SparkEntry.queries("q97_cms_heavy_hitters")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (t, est) = (r.getString(0), r.getAs[Long]("est_count"))
      val ex = exact.getOrElse(t, 0L)
      assert(est >= ex, s"CMS undercounted '$t': est=$est exact=$ex")
      assert(est <= ex + (0.001 * 5 * n).ceil.toLong,
        s"CMS overcount beyond 5*eps*N for '$t': est=$est exact=$ex n=$n")
    }
  }

  test("q98 HLL daily/total estimates stay within 10% of exact distincts") {
    import org.apache.spark.sql.functions._
    val ev = Tables.events(spark, sfDir)
      .select(to_date(col("ts")).cast("string").as("period"), col("user_id"))
    val exactDaily = ev.groupBy("period").agg(countDistinct("user_id").as("c"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exactTotal = ev.select("user_id").distinct().count()
    val est = SparkEntry.queries("q98_hll_incremental")(spark, sfDir).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("est_users")).toMap
    assert(est.keySet == exactDaily.keySet + "total")
    (exactDaily + ("total" -> exactTotal)).foreach { case (p, ex) =>
      val e = est(p)
      assert(math.abs(e - ex).toDouble / ex <= 0.1,
        s"HLL estimate off >10% for $p: est=$e exact=$ex")
    }
  }

  test("q59 approx percentiles track exact q57 within GK-sketch rank error") {
    def byStatus(name: String) = SparkEntry.queries(name)(spark, sfDir).collect()
      .map(r => r.getAs[String]("o_orderstatus") ->
        (r.getAs[Double]("p50"), r.getAs[Double]("p90"), r.getAs[Double]("p99"))).toMap
    val exact = byStatus("q57_percentiles")
    val approx = byStatus("q59_approx_percentiles")
    assert(approx.keySet == exact.keySet)
    exact.foreach { case (st, (e50, e90, e99)) =>
      val (a50, a90, a99) = approx(st)
      // accuracy=1000 ⇒ rank error ≤ n/1000; value tolerance 5% is
      // generous slack over that for this price distribution.
      Seq((a50, e50), (a90, e90), (a99, e99)).foreach { case (a, e) =>
        assert(math.abs(a - e) / e <= 0.05, s"$st: approx $a vs exact $e")
      }
    }
  }

  test("geomean UDAF matches a driver-side computation") {
    import spark.implicits._
    val prices = Tables.orders(spark, sfDir)
      .filter($"o_orderstatus" === "F")
      .select("o_totalprice").as[Double].collect()
    val expected = math.exp(prices.map(math.log).sum / prices.length)
    val got = SparkEntry.queries("q49_geomean_udaf")(spark, sfDir).collect()
      .find(_.getAs[String]("o_orderstatus") == "F").get
      .getAs[Double]("geomean_price")
    assert(math.abs(got - expected) / expected < 1e-9, s"got $got expected $expected")
  }

  test("SQL-registered custom functions evaluate through spark.sql") {
    GraftFunctions.register(spark)
    Tables.embeddings(spark, sfDir).createOrReplaceTempView("graft_embeddings_spec")
    val row = spark.sql(
      """SELECT minhash_signature(array(1L, 2L, 3L, 4L)) AS sig,
                float_dot(array(1.0f, 2.0f), array(3.0f, 4.0f)) AS d,
                token_hashes('Hello, world', 2147483648L) AS th,
                simhash64(token_hashes('hello world hello')) AS sh,
                intersection_size(array(1L, 2L, 3L), array(2L, 3L, 4L)) AS isz,
                float_double_dot(array(1.0f, 2.0f), array(3.0d, 4.0d)) AS fdd,
                long_dot(array(2L, 3L), array(5L, 7L)) AS ld""")
      .head()
    assert(row.getAs[scala.collection.Seq[Long]]("sig").length == 16)
    assert(row.getAs[Double]("d") == 11.0)
    assert(row.getAs[Double]("fdd") == 11.0)
    assert(row.getAs[Long]("ld") == 31L)
    assert(row.getAs[scala.collection.Seq[Long]]("th").length == 2)
    assert(row.getAs[Long]("sh") != 0L)
    assert(row.getAs[Int]("isz") == 2)
  }

  test("every SQL builder rejects a wrong-typed argument and a wrong argument count at analysis") {
    GraftFunctions.register(spark)
    // name -> (valid arguments at the minimum arity, maximum arity,
    //          (position, a wrong-typed argument, its SQL type))
    val calls = Map(
      "float_dot" -> (Seq("array(1.0f)", "array(2.0f)"), 2, (0, "array(1.0d)", "ARRAY<DOUBLE>")),
      "float_double_dot" -> (Seq("array(1.0f)", "array(2.0d)"), 2, (1, "array(2.0f)", "ARRAY<FLOAT>")),
      "long_dot" -> (Seq("array(1L)", "array(2L)"), 2, (0, "array(1)", "ARRAY<INT>")),
      "minhash_signature" -> (Seq("array(1L, 2L, 3L)"), 1, (0, "array(1, 2, 3)", "ARRAY<INT>")),
      "token_hashes" -> (Seq("'a b'"), 2, (0, "1L", "BIGINT")),
      "simhash64" -> (Seq("array(1L)"), 1, (0, "1L", "BIGINT")),
      "nfc_normalize" -> (Seq("'a'"), 1, (0, "1", "INT")),
      "intersection_size" -> (Seq("array(1L)", "array(2L)"), 2, (1, "array('x')", "ARRAY<STRING>")),
      "pack_floats" -> (Seq("array(1.0f)"), 1, (0, "array(1.0d)", "ARRAY<DOUBLE>")),
      "unpack_floats" -> (Seq("X'00000000'"), 1, (0, "'x'", "STRING")),
      "jaro_winkler" -> (Seq("'a'", "'b'"), 2, (1, "1", "INT")),
      "image_meta" -> (Seq("X'00'"), 1, (0, "'x'", "STRING")),
      "audio_meta" -> (Seq("X'00'"), 1, (0, "1", "INT")),
      "bloom_filter_agg" -> (Seq("1L"), 3, (0, "1.0d", "DOUBLE")),
      "might_contain" -> (Seq("X'00'", "1L"), 2, (1, "'x'", "STRING")))
    assert(calls.keySet == GraftFunctions.builders.map(_._1).toSet)
    def analyze(fn: String, args: Seq[String]) =
      intercept[org.apache.spark.sql.AnalysisException](spark.sql(s"SELECT $fn(${args.mkString(", ")})"))
    calls.foreach { case (fn, (args, maxArity, (pos, wrong, wrongType))) =>
      val typed = analyze(fn, args.updated(pos, wrong))
      assert(typed.getMessage.contains(fn) && typed.getMessage.contains(s""""$wrongType""""),
        s"$fn: ${typed.getMessage}")
      for (n <- Seq(args.length - 1, maxArity + 1)) {
        val arity = analyze(fn, Seq.fill(n)(args.last))
        assert(arity.getCondition.startsWith("WRONG_NUM_ARGS") && arity.getMessage.contains(fn),
          s"$fn with $n arguments: ${arity.getMessage}")
      }
    }
  }

  test("token_hashes mod accepts any foldable integral expression and rejects others cleanly") {
    GraftFunctions.register(spark)
    // negative literal parses as UnaryMinus(Literal) — foldable, must work
    val neg = spark.sql("SELECT token_hashes('a b c', -1L) AS th").head()
    assert(neg.getAs[scala.collection.Seq[Long]]("th").nonEmpty)
    // folded arithmetic and a non-Long integral type must also work
    val folded = spark.sql("SELECT token_hashes('a b c', 2 + 2) AS th").head()
    assert(folded.getAs[scala.collection.Seq[Long]]("th").forall(h => h >= 0 && h < 4))
    // non-integral arg → AnalysisException naming the function, not a builder crash
    val err = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT token_hashes('a b c', 'nope')").head()
    }
    assert(err.getMessage.contains("token_hashes"))
    val errNull = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT token_hashes('a b c', CAST(NULL AS INT))").head()
    }
    assert(errNull.getMessage.contains("token_hashes"))
  }

  test("bloom_filter_agg / might_contain work through the SQL surface") {
    GraftFunctions.register(spark)
    Tables.documents(spark, sfDir)
      .selectExpr("doc_id", "md5(text) AS digest")
      .createOrReplaceTempView("g_bloom_docs")
    // sketch the even docs, probe all: every even doc must hit (no
    // false negatives); odd docs mostly miss (1M bits >> 250 items)
    val rows = spark.sql("""
      SELECT doc_id,
             might_contain((SELECT bloom_filter_agg(xxhash64(digest), 100000L, 1048576L)
                            FROM g_bloom_docs WHERE doc_id % 2 = 0),
                           xxhash64(digest)) AS hit
      FROM g_bloom_docs""").collect()
    val (even, odd) = rows.partition(_.getLong(0) % 2 == 0)
    assert(even.forall(_.getBoolean(1)), "bloom false negative")
    val oddHits = odd.count(_.getBoolean(1))
    assert(oddHits <= math.max(1, odd.length / 10), s"fp rate too high: $oddHits/${odd.length}")
    // arity errors are clean AnalysisExceptions naming the function,
    // and extra args are rejected rather than silently dropped
    for (bad <- Seq("SELECT bloom_filter_agg()",
                    "SELECT bloom_filter_agg(1L, 2L, 3L, 4L) FROM range(1)",
                    "SELECT might_contain(X'00')")) {
      val e = intercept[org.apache.spark.sql.AnalysisException](spark.sql(bad).collect())
      assert(e.getMessage.contains("bloom_filter_agg") || e.getMessage.contains("might_contain"), bad)
    }
  }

  test("GraftExtensions registers the same builders as GraftFunctions.register") {
    val e = new org.apache.spark.sql.SparkSessionExtensions
    new GraftExtensions().apply(e) // must not throw; function list is injected
    succeed
  }

  test("optimizer rule rewrites size(array_intersect) on long sets to intersection_size") {
    import org.apache.spark.sql.functions._
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ graft.plans.RewriteSetIntersectionSize
    try {
      val df = spark.range(100).select(
          array(col("id"), col("id") + 1, col("id") + 2).as("a"),
          array(col("id") + 1, col("id") + 5).as("b"))
        .select(size(array_intersect(col("a"), col("b"))).as("n"))
      assert(df.queryExecution.optimizedPlan.toString.contains("intersection_size"),
        s"rule did not fire:\n${df.queryExecution.optimizedPlan}")
      assert(df.collect().forall(_.getInt(0) == 1), "rewritten result differs")
      // nullable-element arrays must NOT be rewritten (IntersectionSize
      // would fail analysis / read nulls as 0)
      val nullable = spark.range(2).select(
          array(when(col("id") === 0, col("id"))).as("a"),
          array(col("id")).as("b"))
        .select(size(array_intersect(col("a"), col("b"))).as("n"))
      assert(!nullable.queryExecution.optimizedPlan.toString.contains("intersection_size"))
    } finally {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations.filterNot(_ == graft.plans.RewriteSetIntersectionSize)
    }
  }

  test("q105 exact-moment statistics agree with Spark's streaming var_pop/stddev_pop/corr") {
    import org.apache.spark.sql.functions._
    val mine = SparkEntry.queries("q105_stats_moments")(spark, sfDir)
      .collect().map(r => r.getAs[String]("l_returnflag") -> r).toMap
    val ref = Tables.lineitem(spark, sfDir)
      .select(col("l_returnflag"), col("l_quantity").cast("long").as("q"),
              col("l_linenumber").cast("long").as("x"))
      .groupBy("l_returnflag")
      .agg(var_pop(col("q")).as("v"), stddev_pop(col("q")).as("sd"),
           corr(col("q"), col("x")).as("c"))
      .collect()
    assert(ref.nonEmpty)
    ref.foreach { r =>
      val m = mine(r.getAs[String]("l_returnflag"))
      def close(a: Double, b: Double) = math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b))
      assert(close(m.getAs[Double]("var_pop_qty"), r.getAs[Double]("v")), s"var: $m vs $r")
      assert(close(m.getAs[Double]("stddev_pop_qty"), r.getAs[Double]("sd")), s"stddev: $m vs $r")
      assert(close(m.getAs[Double]("corr_qty_line"), r.getAs[Double]("c")), s"corr: $m vs $r")
    }
  }

  test("q172: peak concurrency matches a sequential sweep over collected intervals") {
    import org.apache.spark.sql.functions._
    val spanUs = 30L * 60L * 1000000L
    val evs = Tables.events(spark, sfDir)
      .select(col("event_type"), unix_micros(col("ts")).as("t"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val expected = evs.groupBy(_._1).map { case (tpe, rows) =>
      // the same half-open contract: -1 boundaries sort before +1 at
      // equal timestamps, so touching intervals never overlap
      val bounds = rows.flatMap { case (_, t) => Seq((t, 1), (t + spanUs, -1)) }
        .sortBy(b => (b._1, b._2))
      var cur = 0; var peak = 0
      bounds.foreach { case (_, d) => cur += d; peak = math.max(peak, cur) }
      tpe -> (rows.length.toLong, peak.toLong)
    }
    val got = SparkEntry.queries("q172_peak_concurrency")(spark, sfDir).collect()
      .map(r => r.getAs[String]("event_type") ->
        (r.getAs[Long]("n_events"), r.getAs[Long]("peak_concurrency"))).toMap
    assert(got == expected, s"\n got=$got\nwant=$expected")
    // sanity: at least one type genuinely overlaps (peak > 1), else the
    // fixture stopped exercising the sweep
    assert(expected.values.exists(_._2 > 1L), s"no overlap anywhere: $expected")
  }

  test("q173: rolling median matches a sequential trailing-window recompute") {
    import org.apache.spark.sql.functions._
    val daily = Tables.events(spark, sfDir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(floor(sum(col("value")) * 100.0 + 0.5).cast("double").as("cents"))
      .collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[java.sql.Date]("day").toLocalDate,
                 r.getAs[Double]("cents")))
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted; val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
    }
    val expected = daily.groupBy(_._1).toSeq.flatMap { case (tpe, rows) =>
      rows.toSeq.map { case (_, day, _) =>
        val window = rows.toSeq.collect { case (_, d2, c) if !d2.isAfter(day) && !d2.isBefore(day.minusDays(6)) => c }
        (tpe, day.toString) -> math.floor(median(window) / 100.0 * 1e6 + 0.5) / 1e6
      }
    }.toMap
    val got = SparkEntry.queries("q173_rolling_median")(spark, sfDir).collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[java.sql.Date]("day").toString) ->
        r.getAs[Double]("median_7d")).toMap
    assert(got.keySet == expected.keySet)
    got.foreach { case (k, v) =>
      assert(math.abs(v - expected(k)) < 1e-6, s"$k: got $v want ${expected(k)}")
    }
  }

  test("q190: weighted quantiles match a sequential cumulative-weight replay") {
    val rows = Tables.lineitem(spark, sfDir)
      .select("l_returnflag", "l_extendedprice", "l_orderkey", "l_linenumber", "l_quantity")
      .collect()
      .map(r => (r.getAs[String]("l_returnflag"), r.getAs[Double]("l_extendedprice"),
        r.getAs[Long]("l_orderkey"), r.getAs[Int]("l_linenumber"), r.getAs[Double]("l_quantity")))
    val expected = rows.groupBy(_._1).map { case (flag, rs) =>
      val ordered = rs.sortBy(r => (r._2, r._3, r._4))
      val total = ordered.map(_._5).sum
      def wq(q: Double): Double = {
        var cum = 0.0
        ordered.find { r => cum += r._5; cum >= total * q }.get._2
      }
      flag -> (total.toLong, wq(0.25), wq(0.5), wq(0.75))
    }
    val got = SparkEntry.queries("q190_weighted_quantiles")(spark, sfDir).collect()
    assert(got.length == expected.size)
    got.foreach { r =>
      val flag = r.getAs[String]("l_returnflag")
      val (tw, p25, p50, p75) = expected(flag)
      assert(r.getAs[Long]("total_weight") == tw, s"$flag total")
      assert(r.getAs[Double]("wp25") == p25, s"$flag wp25")
      assert(r.getAs[Double]("wp50") == p50, s"$flag wp50")
      assert(r.getAs[Double]("wp75") == p75, s"$flag wp75")
      // quantiles are monotone in q by construction
      assert(p25 <= p50 && p50 <= p75, s"$flag monotonicity")
    }
  }

  test("q219: ABC classes match a sequential cumulative-share replay and tile the ledger") {
    val li = Tables.lineitem(spark, sfDir)
      .select("l_partkey", "l_extendedprice", "l_discount").collect()
      .map(r => (r.getLong(0), r.getDouble(1) * (1.0 - r.getDouble(2))))
    val rev = li.groupBy(_._1).toSeq.map { case (p, xs) => p -> xs.map(_._2).sum }
    val totRev = rev.map(_._2).sum
    val sorted = rev.sortBy { case (p, v) => (-v, p) }
    var cum = 0.0
    val classed = sorted.map { case (_, v) =>
      cum += v
      (if (cum / totRev <= 0.7) "A" else if (cum / totRev <= 0.9) "B" else "C", v)
    }
    val expected = classed.groupBy(_._1).map { case (c, vs) =>
      c -> ((vs.length.toLong, vs.map(_._2).sum))
    }
    val got = SparkEntry.queries("q219_pareto_abc")(spark, sfDir).collect()
      .map(r => r.getAs[String]("abc_class") ->
        ((r.getAs[Long]("n_parts"), r.getAs[Double]("revenue"),
          r.getAs[Double]("share_of_parts"), r.getAs[Double]("share_of_revenue")))).toMap
    assert(got.keySet == expected.keySet)
    for ((c, (n, v)) <- expected) {
      val (gn, gv, _, _) = got(c)
      assert(gn == n, s"class $c: $gn parts vs $n")
      assert(math.abs(gv - v) < 1.0, s"class $c revenue $gv vs $v") // 2dp rounding + FP sum order
    }
    // ledger tiles: parts and revenue shares each sum to 1
    assert(math.abs(got.values.map(_._3).sum - 1.0) < 1e-4)
    assert(math.abs(got.values.map(_._4).sum - 1.0) < 1e-4)
    // concentration direction: A's share of parts never exceeds its
    // share of revenue (it holds the top of the curve by construction)
    assert(got("A")._3 <= got("A")._4 + 1e-6)
  }
}
