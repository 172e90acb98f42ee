package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The native point-in-interval join (graft.plans.IntervalJoinExec):
  * brute-force parity against the composed equi-join + range residual
  * on randomized data, edge-case semantics, and plan-shape pins.
  */
class IntervalJoinSpec extends AnyFunSuite with SparkFixture {

  import spark.implicits._

  private def points(rows: Seq[(Long, java.lang.Long, java.lang.Long)]): DataFrame =
    rows.toDF("pid", "p_key", "p_ts")

  private def intervals(rows: Seq[(Long, java.lang.Long, java.lang.Long, java.lang.Long)]): DataFrame =
    rows.toDF("iid", "i_key", "i_start", "i_end")

  private def native(p: DataFrame, i: DataFrame): Set[(Long, Long)] =
    graft.plans.IntervalJoin.innerInterval(p, i,
        "p_key", "i_key", "p_ts", "i_start", "i_end")
      .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  private def composed(p: DataFrame, i: DataFrame): Set[(Long, Long)] =
    p.join(i, col("p_key") === col("i_key") &&
        col("p_ts") >= col("i_start") && col("p_ts") <= col("i_end"))
      .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("brute-force parity on randomized keys/points/overlapping intervals") {
    val rnd = new scala.util.Random(13)
    val p = points((1L to 400L).map(id =>
      (id, Long.box(rnd.nextInt(8).toLong), Long.box(rnd.nextInt(1000).toLong))))
    val i = intervals((1L to 150L).map { id =>
      val s = rnd.nextInt(1000).toLong
      (id, Long.box(rnd.nextInt(8).toLong), Long.box(s),
        Long.box(s + rnd.nextInt(120).toLong))
    })
    val got = native(p, i)
    val want = composed(p, i)
    assert(got == want, s"native vs composed diverge: missing=${want -- got}, extra=${got -- want}")
    assert(want.nonEmpty, "fixture must actually produce matches")
  }

  test("edge semantics: inclusive bounds, zero-length, inverted, NULLs, lonely keys") {
    val p = points(Seq(
      (1L, Long.box(1L), Long.box(10L)),  // == start (inclusive)
      (2L, Long.box(1L), Long.box(20L)),  // == end (inclusive)
      (3L, Long.box(1L), Long.box(21L)),  // just past end
      (4L, Long.box(2L), Long.box(5L)),   // zero-length interval hit
      (5L, Long.box(2L), Long.box(6L)),   // zero-length miss
      (6L, Long.box(3L), Long.box(50L)),  // inverted interval: never matches
      (7L, null, Long.box(10L)),          // NULL key: never matches
      (8L, Long.box(1L), null),           // NULL ts: never matches
      (9L, Long.box(9L), Long.box(1L)))) // key with no intervals
    val i = intervals(Seq(
      (10L, Long.box(1L), Long.box(10L), Long.box(20L)),
      (20L, Long.box(2L), Long.box(5L), Long.box(5L)),    // zero-length
      (30L, Long.box(3L), Long.box(60L), Long.box(40L)),  // inverted
      (40L, null, Long.box(0L), Long.box(100L)),          // NULL key
      (50L, Long.box(1L), null, Long.box(100L)),          // NULL start
      (60L, Long.box(8L), Long.box(0L), Long.box(9L))))   // key with no points
    val got = native(p, i)
    assert(got == Set((1L, 10L), (2L, 10L), (4L, 20L)), s"got $got")
    assert(got == composed(p, i), "edge semantics must equal the SQL residual")
  }

  test("a point inside many stacked intervals emits every match; expiry prunes the sweep") {
    // 30 nested intervals around ts=100; a later point at ts=200 only
    // matches the 10 that reach it — expired ones must have left the heap
    val i = intervals((1L to 30L).map(k =>
      (k, Long.box(1L), Long.box(100L - k), Long.box(if (k <= 10) 250L else 150L))))
    val p = points(Seq((1L, Long.box(1L), Long.box(100L)), (2L, Long.box(1L), Long.box(200L))))
    val got = native(p, i)
    assert(got.count(_._1 == 1L) == 30, "point 1 sits inside all 30 intervals")
    assert(got.count(_._1 == 2L) == 10, "point 2 only inside the 10 long intervals")
    assert(got == composed(p, i))
  }

  test("plan shape: native node, SMJ-style exchanges, no BNLJ/residual-pair join") {
    val p = points((1L to 50L).map(id => (id, Long.box(id % 4), Long.box(id))))
    val i = intervals((1L to 20L).map(id =>
      (id, Long.box(id % 4), Long.box(id), Long.box(id + 10))))
    val df = graft.plans.IntervalJoin.innerInterval(p, i,
      "p_key", "i_key", "p_ts", "i_start", "i_end")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("IntervalJoin"), s"native exec must plan:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("BroadcastHashJoin") &&
           !plan.contains("BroadcastNestedLoopJoin"),
      s"no relational join may remain:\n$plan")
    val hashEx = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(hashEx == 2, s"exactly the two SMJ-style exchanges, got $hashEx:\n$plan")
    // type misuse fails before execution
    intercept[IllegalArgumentException] {
      graft.plans.IntervalJoin.innerInterval(
        p.withColumn("p_ts", col("p_ts").cast("string")), i,
        "p_key", "i_key", "p_ts", "i_start", "i_end")
    }
    for (buckets <- Seq(1, 4097)) intercept[IllegalArgumentException] {
      graft.plans.IntervalJoin.innerIntervalSalted(p, i,
        "p_key", "i_key", "p_ts", "i_start", "i_end", buckets)
    }
    intercept[IllegalArgumentException] { // shared column names
      graft.plans.IntervalJoin.innerInterval(p, i.withColumnRenamed("iid", "pid"),
        "p_key", "i_key", "p_ts", "i_start", "pid")
    }
    intercept[IllegalArgumentException] {
      graft.plans.IntervalJoin.leftInterval(p, i.withColumnRenamed("iid", "pid"),
        "p_key", "i_key", "p_ts", "i_start", "i_end")
    }
  }

  private def nativeLeft(p: DataFrame, i: DataFrame): Set[(Long, Option[Long])] =
    graft.plans.IntervalJoin.leftInterval(p, i,
        "p_key", "i_key", "p_ts", "i_start", "i_end")
      .select("pid", "iid").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1)))).toSet

  private def composedLeft(p: DataFrame, i: DataFrame): Set[(Long, Option[Long])] =
    p.join(i, col("p_key") === col("i_key") &&
        col("p_ts") >= col("i_start") && col("p_ts") <= col("i_end"), "left")
      .select("pid", "iid").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1)))).toSet

  test("left-outer mode: uncovered and NULL-key points survive null-extended, parity with SQL LEFT JOIN") {
    val rnd = new scala.util.Random(29)
    val p = points((1L to 300L).map { id =>
      val key: java.lang.Long = if (id % 37 == 0) null else Long.box(rnd.nextInt(6).toLong)
      (id, key, Long.box(rnd.nextInt(500).toLong))
    })
    val i = intervals((1L to 80L).map { id =>
      val s = rnd.nextInt(500).toLong
      (id, Long.box(rnd.nextInt(6).toLong), Long.box(s), Long.box(s + rnd.nextInt(60).toLong))
    })
    val got = nativeLeft(p, i)
    val want = composedLeft(p, i)
    assert(got == want, s"left-outer diverges: missing=${want -- got}, extra=${got -- want}")
    assert(got.exists(_._2.isEmpty) && got.exists(_._2.nonEmpty),
      "fixture must exercise both matched and unmatched points")
    // every point appears: matched k times or null-extended exactly once
    assert(got.map(_._1) == p.collect().map(_.getLong(0)).toSet)
  }

  test("q332 equals q262's composed relation row-for-row") {
    val a = SparkEntry.queries("q332_native_interval_join")(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    val b = SparkEntry.queries("q262_attribution_join")(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    assert(a == b, "the native twin must reproduce q262 exactly")
  }

  test("salted interval join: identical rows on a 100:1 skewed fixture") {
    import spark.implicits._
    // hot key 3: many points, several overlapping intervals
    val points = ((0 until 10000).map(i => (3L, i.toLong)) ++
      (1 to 20).flatMap(k => (0 until 100).map(i => (50L + k, i.toLong))))
      .toDF("pk", "ts").repartition(8)
    val intervals = ((0 until 20).map(i => (3L, (i * 500).toLong, (i * 500 + 799).toLong)) ++
      (1 to 20).map(k => (50L + k, 10L, 60L)))
      .toDF("ik", "s", "e")
    val plain = graft.plans.IntervalJoin.innerInterval(
      points, intervals, "pk", "ik", "ts", "s", "e")
    val salted = graft.plans.IntervalJoin.innerIntervalSalted(
      points, intervals, "pk", "ik", "ts", "s", "e", 8)
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(w => (w.getLong(0), w.getLong(1), w.getLong(2), w.getLong(3), w.getLong(4)))
        .sortBy(t => (t._1, t._2, t._3, t._4)).toSeq
    val p0 = norm(plain); val s0 = norm(salted)
    assert(p0.nonEmpty && s0 == p0, s"salted sweep must emit exactly the same rows (${p0.size})")

    // per-task point load spreads: inner join output per partition is a
    // proxy (each point emits its matches inside its own partition).
    // AQE off for the measurement — it coalesces test-sized shuffles
    // into one partition and hides the distribution.
    val aqeWas = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      def maxPartition(df: org.apache.spark.sql.DataFrame): Long =
        df.rdd.mapPartitions(it => Iterator.single(it.size.toLong)).collect().max
      val plainMax = maxPartition(graft.plans.IntervalJoin.innerInterval(
        points, intervals, "pk", "ik", "ts", "s", "e"))
      val saltedMax = maxPartition(graft.plans.IntervalJoin.innerIntervalSalted(
        points, intervals, "pk", "ik", "ts", "s", "e", 8))
      assert(saltedMax < plainMax / 2,
        s"salting must reduce the hottest task's output share ($saltedMax vs $plainMax)")
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqeWas)
  }
}
