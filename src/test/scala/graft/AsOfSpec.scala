package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.plans.AsOf

/** The native AsOfJoinExec (custom LogicalPlan + Strategy + SparkPlan):
  * semantics pinned against a brute-force reference on crafted inputs
  * (ties, gaps, unmatched keys, nulls, empty sides, partition
  * boundaries) and the plan shape pinned to the merge form (no Window,
  * no Union, no join pair blow-up). q264 additionally holds the full
  * operator to DuckDB's independent ASOF LEFT JOIN implementation.
  */
class AsOfSpec extends AnyFunSuite with SparkFixture {

  import scala.jdk.CollectionConverters._
  private def mk(rows: Seq[(java.lang.Long, java.lang.Long, String)],
                 keyName: String, tsName: String, tag: String): DataFrame = {
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField(keyName, org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField(tsName, org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField(tag, org.apache.spark.sql.types.StringType)))
    spark.createDataFrame(
      rows.map(r => org.apache.spark.sql.Row(r._1, r._2, r._3)).asJava, schema)
  }

  private def brute(left: Seq[(java.lang.Long, java.lang.Long, String)],
                    right: Seq[(java.lang.Long, java.lang.Long, String)]): Set[(Long, Long, String, Option[String])] =
    left.filter(l => l._1 != null && l._2 != null).map { l =>
      val cands = right.filter(r => r._1 != null && r._2 != null &&
        r._1 == l._1 && r._2 <= l._2)
      val m = if (cands.isEmpty) None
              else Some(cands.maxBy(r => (r._2.longValue, r._3))._3)
      (l._1.longValue, l._2.longValue, l._3, m)
    }.toSet ++ left.filter(l => l._1 == null || l._2 == null)
      .map(l => (if (l._1 == null) -1L else l._1.longValue,
                 if (l._2 == null) -1L else l._2.longValue, l._3, None))

  private def runAsOf(left: Seq[(java.lang.Long, java.lang.Long, String)],
                      right: Seq[(java.lang.Long, java.lang.Long, String)],
                      broadcast: Boolean = false): Set[(Long, Long, String, Option[String])] = {
    val l = mk(left, "k", "lts", "ltag")
    val r = mk(right, "rk", "rts", "rtag")
    val join = if (broadcast) AsOf.leftAsOfBroadcast(l, r, "k", "rk", "lts", "rts")
               else AsOf.leftAsOf(l, r, "k", "rk", "lts", "rts")
    join.collect().map { row =>
      (if (row.isNullAt(0)) -1L else row.getLong(0),
       if (row.isNullAt(1)) -1L else row.getLong(1),
       row.getString(2),
       Option(row.getString(5)))
    }.toSet
  }

  test("as-of merge matches brute force: ties, gaps, unmatched, interleaved keys") {
    val L: java.lang.Long = null
    val left = Seq[(java.lang.Long, java.lang.Long, String)](
      (1L, 10L, "l1"), (1L, 20L, "l2"), (1L, 5L, "l0"),
      (2L, 15L, "l3"), (3L, 100L, "l4"), (4L, 1L, "l5"),
      (1L, 10L, "l6"), // duplicate left ts — both get the same match
      (L, 50L, "lnullk"), (5L, L, "lnullt"))
    val right = Seq[(java.lang.Long, java.lang.Long, String)](
      (1L, 10L, "r_eq"),   // tie: at-or-before matches
      (1L, 8L, "r_8"), (1L, 21L, "r_late"),
      (2L, 14L, "r_a"), (2L, 15L, "r_b"), // right tie at 15: deterministic pick not required pre-dedup — avoid in brute by distinct ts
      (3L, 1L, "r_old"),
      (9L, 1L, "r_nokey"),
      (L, 1L, "r_nullk"), (2L, L, "r_nullt"))
    // right ties on (key, ts) are resolved by sort order (nondeterministic
    // pre-dedup) — drop the (2,14)/(2,15) ambiguity by keeping distinct ts
    val rightClean = right.filterNot(r => r._3 == "r_a")
    assert(runAsOf(left, rightClean) == brute(left, rightClean))
    assert(runAsOf(left, rightClean, broadcast = true) == brute(left, rightClean),
      "broadcast path diverged from brute force")
  }

  test("as-of with empty right side leaves every left row unmatched") {
    val left = Seq[(java.lang.Long, java.lang.Long, String)]((1L, 1L, "a"), (2L, 2L, "b"))
    for (b <- Seq(false, true))
      assert(runAsOf(left, Seq.empty, broadcast = b) ==
        Set((1L, 1L, "a", None), (2L, 2L, "b", None)), s"broadcast=$b")
  }

  test("as-of survives many keys across partition boundaries") {
    // 500 keys x 4 left rows, right rows at ts 0/10/20 per key — the
    // shuffle spreads keys over 4 partitions; every row still finds
    // the newest right row at-or-before it
    val left = for (k <- 0L until 500L; t <- Seq(5L, 10L, 15L, 25L))
      yield (java.lang.Long.valueOf(k), java.lang.Long.valueOf(t), s"l$k-$t")
    val right = for (k <- 0L until 500L; t <- Seq(0L, 10L, 20L))
      yield (java.lang.Long.valueOf(k), java.lang.Long.valueOf(t), s"r$k-$t")
    val expect = left.map { case (k, t, tag) =>
      val m = t.longValue match {
        case 5L => "0"; case 10L => "10"; case 15L => "10"; case 25L => "20"
      }
      (k.longValue, t.longValue, tag, Some(s"r$k-$m"))
    }.toSet
    assert(runAsOf(left.toSeq, right.toSeq) == expect)
    assert(runAsOf(left.toSeq, right.toSeq, broadcast = true) == expect,
      "broadcast path diverged on the multi-partition fixture")
  }

  test("broadcast as-of: fact side gets zero exchange and zero sort (q324)") {
    // AQE wraps stages in QueryStageExec nodes that hide the tree from
    // collect(); the static EnsureRequirements pass places the same
    // exchanges, so pin the shape with AQE off (the brute-force tests
    // above exercise the operator under AQE).
    val prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
    val p = SparkEntry.queries("q324_broadcast_asof_join")(spark, sfDir)
      .queryExecution.executedPlan
    val execs = p.collect {
      case b: graft.plans.BroadcastAsOfJoinExec => b }
    assert(execs.nonEmpty, s"BroadcastAsOfJoin missing from plan:\n$p")
    val factSide = execs.head.left
    val factShuffles = factSide.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      case s: org.apache.spark.sql.execution.SortExec => s
    }
    assert(factShuffles.isEmpty,
      s"fact side must flow straight from the scan — found ${factShuffles.map(_.nodeName)}:\n$p")
    val dimBroadcast = execs.head.right.collect {
      case e: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec => e }
    assert(dimBroadcast.nonEmpty, s"dimension side must broadcast the AsOfIndex:\n$p")
    assert(dimBroadcast.head.mode.isInstanceOf[graft.plans.AsOfIndexMode],
      s"broadcast must carry the driver-built sorted index, got ${dimBroadcast.head.mode}")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("q264 plans the native AsOfJoin node — no Window, no Union, no pair join") {
    val p = SparkEntry.queries("q264_native_asof_join")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(p.contains("AsOfJoin"), s"native as-of node missing:\n$p")
    assert(!p.contains("Window"), s"fell back to window carry:\n$p")
    assert(!p.contains("Union"), s"fell back to union trick:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin") &&
           !p.contains("CartesianProduct"), s"pair-join blow-up:\n$p")
  }

  test("as-of API rejects shared column names and non-long/timestamp types") {
    val l = mk(Seq((1L, 1L, "x")), "k", "ts", "tag")
    val r = mk(Seq((1L, 1L, "y")), "k", "ts", "rtag2")
    intercept[IllegalArgumentException] {
      AsOf.leftAsOf(l, r, "k", "k", "ts", "ts")
    }
    intercept[IllegalArgumentException] {
      AsOf.leftAsOfBroadcast(l, r, "k", "k", "ts", "ts")
    }
    val rOk = mk(Seq((1L, 1L, "y")), "rk", "rts", "rtag")
    intercept[IllegalArgumentException] {
      AsOf.leftAsOf(l.withColumn("kd", col("k").cast("double")), rOk,
        "kd", "rk", "ts", "rts")
    }
    for (buckets <- Seq(1, 4097)) intercept[IllegalArgumentException] {
      AsOf.leftAsOfSalted(l, rOk, "k", "rk", "ts", "rts", buckets)
    }
  }

  test("salted as-of: identical results on a 100:1 skewed fixture, per-task input bounded") {
    // hot key 7 carries ~100x the probes of every other key
    val hot = (0 until 20000).map(i => (7L, (i * 3).toLong, s"h$i"))
    val cold = (1 to 40).flatMap(k => (0 until 200).map(i => (100L + k, (i * 7).toLong, s"c$k-$i")))
    val leftRows = hot ++ cold
    val rightRows = (Seq(7L) ++ (1 to 40).map(k => 100L + k)).flatMap(k =>
      (0 until 50).map(i => (k, (i * 100).toLong, s"q$k-$i")))
    import spark.implicits._
    val l = leftRows.toDF("k", "lts", "ltag").repartition(8)
    val r = rightRows.toDF("rk", "rts", "rtag")

    val plain = graft.plans.AsOf.leftAsOf(l, r, "k", "rk", "lts", "rts")
    val salted = graft.plans.AsOf.leftAsOfSalted(l, r, "k", "rk", "lts", "rts", 8)
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(w => (w.getLong(0), w.getLong(1), w.getString(2),
        Option(w.getString(5)))).sortBy(t => (t._1, t._2, t._3)).toSeq
    assert(norm(salted) == norm(plain), "salting must not change a single row")

    // bounded per-task input: as-of LEFT JOIN emits exactly one row per
    // left row and preserves the left partitioning, so output partition
    // sizes ARE the per-task probe loads. Unsalted, one partition holds
    // the whole hot key; salted it must spread ~8 ways. AQE is disabled
    // for the measurement — on test-sized data it coalesces every
    // post-shuffle partition into one, hiding the distribution.
    val aqeWas = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      def maxPartition(df: org.apache.spark.sql.DataFrame): Long =
        df.rdd.mapPartitions(it => Iterator.single(it.size.toLong)).collect().max
      val unsaltedMax = maxPartition(
        graft.plans.AsOf.leftAsOf(l, r, "k", "rk", "lts", "rts"))
      val saltedMax = maxPartition(
        graft.plans.AsOf.leftAsOfSalted(l, r, "k", "rk", "lts", "rts", 8))
      assert(unsaltedMax >= hot.size,
        s"sanity: unsalted concentrates the hot key in one task ($unsaltedMax)")
      // bound is hash-granular: the 8 (key, salt) groups hash into 32
      // shuffle partitions, so a couple of groups can share a task —
      // the guarantee is per-GROUP load (~1/8 of the hot key), not a
      // perfectly even spread
      assert(saltedMax <= hot.size / 2,
        s"salted hot-key load must spread across buckets: max task saw $saltedMax of ${hot.size}")
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqeWas)

    // the salted plan clusters on (key, salt): visible in the exchange
    val plan = salted.queryExecution.executedPlan.toString
    assert(plan.contains("__graft_asof_salt"), s"salt must reach the physical plan:\n$plan")
  }
}
