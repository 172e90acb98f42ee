package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{AvroFrames, FrameChanges, FrameMaintenance}

/** Change Data Feed over the frame log ([[graft.sources.FrameChanges]]):
  * insert/delete row changes between versions derived purely from the
  * event history — appends, metadata-only deletes, rewrite deletes
  * (byte-exact subsequence subtraction), group rewrites (UPDATE), and
  * version-neutral compaction. The invariant under test everywhere:
  * applying the feed reconstructs the table state exactly, at every
  * version cut.
  */
class FrameChangesSpec extends AnyFunSuite with SparkFixture {

  private def freshCatalog(tag: String): (String, String) = {
    val base = Files.createTempDirectory(s"frame-cdf-$tag").toString
    val cat = s"fcdf_$tag"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.FrameCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.base", base)
    (cat, base)
  }

  private val schemaJson = AvroFrames.avroSchemaFor(
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("grp", org.apache.spark.sql.types.StringType, nullable = false),
      org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.DoubleType, nullable = false))),
    "t")

  private def feed(dir: String, from: Int, to: Option[Int] = None): DataFrame =
    FrameChanges.read(spark, dir, schemaJson, AvroFrames.DefaultSchemaId, from, to)

  /** ids currently in the table, from a direct read. */
  private def liveIds(cat: String): Seq[Long] =
    spark.sql(s"SELECT id FROM $cat.corpus.t").collect().map(_.getLong(0)).sorted.toSeq

  /** ids reconstructed from the feed: MULTISET of inserts minus
    * deletes (a group rewrite legitimately re-inserts surviving rows,
    * so the same id can be inserted twice and deleted once).
    */
  private def reconstructedIds(dir: String, to: Option[Int] = None): Seq[Long] = {
    val rows = feed(dir, 0, to).select("id", "_change_type").collect()
    val bag = scala.collection.mutable.Map.empty[Long, Int].withDefaultValue(0)
    rows.foreach(r => bag(r.getLong(0)) += (if (r.getString(1) == "insert") 1 else -1))
    bag.toSeq.flatMap { case (id, n) =>
      assert(n >= 0 && n <= 1, s"net multiplicity $n for id $id")
      if (n == 1) Some(id) else None
    }.sorted
  }

  test("feed reconstructs state across inserts, both delete paths, UPDATE, and compaction") {
    val (cat, base) = freshCatalog("recon")
    spark.sql(s"CREATE NAMESPACE $cat.corpus")
    spark.sql(s"CREATE TABLE $cat.corpus.t (id BIGINT NOT NULL, grp STRING NOT NULL, v DOUBLE NOT NULL)")
    val dir = new java.io.File(base, "corpus/t").getAbsolutePath

    // three single-segment inserts: versions 1..3 (ids 0-9 / 10-19 / 20-29,
    // grp = a/b by id parity)
    (0 until 3).foreach { k =>
      spark.range(k * 10, k * 10 + 10).coalesce(1)
        .selectExpr("id", "IF(id % 2 = 0, 'a', 'b') AS grp", "CAST(id AS DOUBLE) AS v")
        .createOrReplaceTempView(s"cdf_src_$k")
      spark.sql(s"INSERT INTO $cat.corpus.t SELECT * FROM cdf_src_$k")
    }
    assert(FrameMaintenance.totalVersions(new java.io.File(dir)) == 3)

    // v4: metadata-only delete (sidecar proves the whole first segment
    // matches id <= 9) PLUS a rewrite of the second (straddles id <= 12)
    spark.sql(s"DELETE FROM $cat.corpus.t WHERE id <= 12")
    // v5: group rewrite (UPDATE — condition not sidecar-translatable)
    spark.sql(s"UPDATE $cat.corpus.t SET v = v * 10 WHERE id % 10 = 5")
    // UPDATE = one delete version (retired groups) + appended rewrites
    val vAfterUpdate = FrameMaintenance.totalVersions(new java.io.File(dir))
    assert(vAfterUpdate >= 5)

    // compaction mints no version and no changes
    spark.sql(s"CALL $cat.corpus.compact(table => 'corpus.t')")
    assert(FrameMaintenance.totalVersions(new java.io.File(dir)) == vAfterUpdate)

    // full-history feed reconstructs the live table exactly
    assert(reconstructedIds(dir) == liveIds(cat))
    assert(liveIds(cat) == (13L to 29L))

    // version-4 cut: inserts 0..29 minus deletes 0..12
    assert(reconstructedIds(dir, Some(4)) == (13L to 29L))
    // version-3 cut: inserts only, no deletes yet
    val v3 = feed(dir, 0, Some(3))
    assert(v3.filter(col("_change_type") === "delete").count() == 0)
    assert(reconstructedIds(dir, Some(3)) == (0L to 29L))

    // the v4 delete names EXACTLY ids 0..12 (metadata path: 0..9 whole
    // segment; rewrite path: 10..12 via byte-exact subsequence walk)
    val v4del = feed(dir, 3, Some(4)).filter(col("_change_type") === "delete")
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(v4del == (0L to 12L))

    // the UPDATE surfaces as group-granularity delete+reinsert whose net
    // effect is the value rewrite: net multiset of (id, v) matches a
    // direct read
    val after = spark.sql(s"SELECT id, v FROM $cat.corpus.t")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).sorted.toSeq
    val net = {
      val rows = feed(dir, 0).select("id", "v", "_change_type").collect()
      val ins = rows.filter(_.getString(2) == "insert").map(r => (r.getLong(0), r.getDouble(1)))
      val del = rows.filter(_.getString(2) == "delete").map(r => (r.getLong(0), r.getDouble(1)))
      val bag = scala.collection.mutable.Map.empty[(Long, Double), Int].withDefaultValue(0)
      ins.foreach(k => bag(k) += 1)
      del.foreach(k => bag(k) -= 1)
      bag.collect { case (k, n) if n != 0 => assert(n == 1, s"net multiplicity $n for $k"); k }
        .toSeq.sorted
    }
    assert(net == after)
    assert(after.filter(_._1 % 10 == 5).forall { case (id, v) => v == id * 10.0 })

    // commit versions are monotone and within the declared range
    val versions = feed(dir, 0).select("_commit_version").distinct()
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(versions.head >= 1 && versions.last <= vAfterUpdate)

    // empty range = empty feed; bad range fails loudly
    assert(feed(dir, vAfterUpdate).count() == 0)
    val err = intercept[Exception] { feed(dir, 0, Some(vAfterUpdate + 1)).count() }
    assert(err.getMessage != null)
  }

  test("feed survives compaction of consumed history but fails loudly past expiry") {
    val (cat, base) = freshCatalog("exp")
    spark.sql(s"CREATE NAMESPACE $cat.corpus")
    spark.sql(s"CREATE TABLE $cat.corpus.t (id BIGINT NOT NULL, grp STRING NOT NULL, v DOUBLE NOT NULL)")
    val dir = new java.io.File(base, "corpus/t").getAbsolutePath

    (0 until 2).foreach { k =>
      spark.range(k * 5, k * 5 + 5).coalesce(1)
        .selectExpr("id", "'g' AS grp", "CAST(id AS DOUBLE) AS v")
        .createOrReplaceTempView(s"cdf_exp_src_$k")
      spark.sql(s"INSERT INTO $cat.corpus.t SELECT * FROM cdf_exp_src_$k")
    }
    // compact the two live segments away: the feed's insert units must
    // resolve the ORIGINALS from _history/ (per-version grain survives)
    spark.sql(s"CALL $cat.corpus.compact(table => 'corpus.t')")
    val perVersion = feed(dir, 0).groupBy("_commit_version").count()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(perVersion == Map(1L -> 5L, 2L -> 5L))

    // expire the history: the feed cannot silently under-report
    spark.sql(s"CALL $cat.corpus.expire_snapshots(table => 'corpus.t', " +
      s"older_than_ms => ${System.currentTimeMillis() + 3600000}L)")
    val err = intercept[Exception] { feed(dir, 0).count() }
    assert(err.getMessage.contains("expire") || err.getMessage.contains("resolvable") ||
      (err.getCause != null && String.valueOf(err.getCause.getMessage).contains("resolvable")),
      s"expected loud expiry failure, got: ${err.getMessage}")
  }

  test("incremental matview refresh equals full recompute, reads only the delta versions") {
    val (cat, base) = freshCatalog("mv")
    spark.sql(s"CREATE NAMESPACE $cat.corpus")
    spark.sql(s"CREATE TABLE $cat.corpus.src (id BIGINT NOT NULL, grp STRING NOT NULL, v DOUBLE NOT NULL)")
    spark.sql(s"CREATE TABLE $cat.corpus.mv (grp STRING NOT NULL, cnt BIGINT NOT NULL, sum_v DOUBLE NOT NULL)")

    spark.range(0, 100).coalesce(2)
      .selectExpr("id", "CONCAT('g', id % 5) AS grp", "CAST(id AS DOUBLE) AS v")
      .createOrReplaceTempView("mv_src_0")
    spark.sql(s"INSERT INTO $cat.corpus.src SELECT * FROM mv_src_0")

    import graft.sources.FrameMatView
    val r1 = FrameMatView.refresh(spark, cat, "corpus.src", "corpus.mv", "grp", "v")
    assert(r1.fromVersion == 0 && r1.toVersion >= 1 && r1.deltaKeys == 5)

    def mvState(): Map[String, (Long, Double)] =
      spark.sql(s"SELECT grp, cnt, sum_v FROM $cat.corpus.mv").collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    def recompute(): Map[String, (Long, Double)] =
      spark.sql(s"SELECT grp, count(*), sum(v) FROM $cat.corpus.src GROUP BY grp").collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // counts integer-exact; sums equal up to double-addition
    // reassociation (task completion order varies under load)
    def assertMatches(): Unit = {
      val (a, b) = (mvState(), recompute())
      assert(a.keySet == b.keySet, s"keys: ${a.keySet} vs ${b.keySet}")
      a.foreach { case (k, (cnt, sum)) =>
        assert(cnt == b(k)._1, s"cnt($k): $cnt vs ${b(k)._1}")
        assert(math.abs(sum - b(k)._2) < 1e-6, s"sum($k): $sum vs ${b(k)._2}")
      }
    }
    assertMatches()

    // no-op refresh: zero-length range, nothing merged
    val r2 = FrameMatView.refresh(spark, cat, "corpus.src", "corpus.mv", "grp", "v")
    assert(r2.fromVersion == r2.toVersion && r2.deltaKeys == 0)

    // mutate: delete one group entirely, update another, append new rows
    spark.sql(s"DELETE FROM $cat.corpus.src WHERE grp = 'g0'")
    spark.sql(s"UPDATE $cat.corpus.src SET v = v + 1000 WHERE grp = 'g1'")
    spark.range(100, 120).coalesce(1)
      .selectExpr("id", "'g9' AS grp", "CAST(id AS DOUBLE) AS v")
      .createOrReplaceTempView("mv_src_1")
    spark.sql(s"INSERT INTO $cat.corpus.src SELECT * FROM mv_src_1")

    val r3 = FrameMatView.refresh(spark, cat, "corpus.src", "corpus.mv", "grp", "v")
    assert(r3.fromVersion == r1.toVersion,
      s"incremental refresh must start at the previous watermark: $r3 vs $r1")
    assertMatches()
    // the deleted group LEFT the view (cnt reached 0 => MERGE DELETE)
    assert(!mvState().contains("g0") && mvState().contains("g9"))
  }

  test("streaming change feed: tails inserts AND deletes exactly once, ignores compaction") {
    val (cat, base) = freshCatalog("stream")
    spark.sql(s"CREATE NAMESPACE $cat.corpus")
    spark.sql(s"CREATE TABLE $cat.corpus.t (id BIGINT NOT NULL, grp STRING NOT NULL, v DOUBLE NOT NULL)")
    val dir = new java.io.File(base, "corpus/t").getAbsolutePath

    spark.range(0, 10).coalesce(1)
      .selectExpr("id", "'a' AS grp", "CAST(id AS DOUBLE) AS v")
      .createOrReplaceTempView("cdf_stream_src0")
    spark.sql(s"INSERT INTO $cat.corpus.t SELECT * FROM cdf_stream_src0")

    val sinkName = "cdf_stream_sink"
    val q = spark.readStream.format("graft.sources.AvroFrameDataSource")
      .option("path", dir)
      .option("avroSchema", schemaJson)
      .option("changeFeed", "true")
      .load()
      .selectExpr("id", "_change_type", "_commit_version")
      .writeStream.format("memory").queryName(sinkName)
      .option("checkpointLocation",
        Files.createTempDirectory("cdf-stream-ckpt").toString)
      .start()
    try {
      q.processAllAvailable()
      def sink(): Seq[(Long, String, Long)] =
        spark.table(sinkName).collect()
          .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sorted.toSeq
      assert(sink() == (0L to 9L).map(i => (i, "insert", 1L)))

      // mutate mid-stream: delete (rewrite) + compact (must emit nothing)
      spark.sql(s"DELETE FROM $cat.corpus.t WHERE id < 3")
      spark.sql(s"CALL $cat.corpus.compact(table => 'corpus.t')")
      q.processAllAvailable()
      val after = sink()
      assert(after.count(_._2 == "delete") == 3 &&
        after.filter(_._2 == "delete").map(_._1).sorted == Seq(0L, 1L, 2L),
        s"stream must surface exactly the deleted rows: $after")
      assert(after.count(_._2 == "insert") == 10, "compaction must emit nothing")
    } finally q.stop()
  }

  test("continuous matview: a streaming CDC query keeps the view equal to a recompute") {
    val (cat, _) = freshCatalog("cmv")
    spark.sql(s"CREATE NAMESPACE $cat.corpus")
    spark.sql(s"CREATE TABLE $cat.corpus.src (id BIGINT NOT NULL, grp STRING NOT NULL, v DOUBLE NOT NULL)")
    spark.sql(s"CREATE TABLE $cat.corpus.mv (grp STRING NOT NULL, cnt BIGINT NOT NULL, sum_v DOUBLE NOT NULL)")
    spark.range(0, 60).coalesce(1)
      .selectExpr("id", "CONCAT('g', id % 3) AS grp", "CAST(id AS DOUBLE) AS v")
      .createOrReplaceTempView("cmv_src_0")
    spark.sql(s"INSERT INTO $cat.corpus.src SELECT * FROM cmv_src_0")

    import graft.sources.FrameMatView
    val q = FrameMatView.continuous(spark, cat, "corpus.src", "corpus.mv",
      "grp", "v", Files.createTempDirectory("cmv-ckpt").toString)
    try {
      q.processAllAvailable()
      def mvState(): Map[String, (Long, Double)] =
        spark.sql(s"SELECT grp, cnt, sum_v FROM $cat.corpus.mv").collect()
          .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
      def recompute(): Map[String, (Long, Double)] =
        spark.sql(s"SELECT grp, count(*), sum(v) FROM $cat.corpus.src GROUP BY grp")
          .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
      def assertMatches(): Unit = {
        val (a, b) = (mvState(), recompute())
        assert(a.keySet == b.keySet, s"keys: ${a.keySet} vs ${b.keySet}")
        a.foreach { case (k, (cnt, sum)) =>
          assert(cnt == b(k)._1, s"cnt($k): $cnt vs ${b(k)._1}")
          assert(math.abs(sum - b(k)._2) < 1e-6, s"sum($k): $sum vs ${b(k)._2}")
        }
      }
      assertMatches()

      // mutate mid-stream: the running query folds the deltas in
      spark.sql(s"DELETE FROM $cat.corpus.src WHERE grp = 'g0'")
      spark.range(60, 70).coalesce(1)
        .selectExpr("id", "'g9' AS grp", "CAST(id AS DOUBLE) AS v")
        .createOrReplaceTempView("cmv_src_1")
      spark.sql(s"INSERT INTO $cat.corpus.src SELECT * FROM cmv_src_1")
      q.processAllAvailable()
      assertMatches()
      assert(!mvState().contains("g0") && mvState().contains("g9"))
    } finally q.stop()
  }

  test("streaming offsets never regress under a torn version reading (r17)") {
    // totalVersions reads manifest + live listing without the commit
    // lock, so a concurrent maintenance publish can make it transiently
    // read LOW (observed: a (1, 0] change range crashing the continuous
    // matview). The stream must clamp to the committed offset: simulate
    // the torn read by asking for the latest offset from a start far
    // beyond the table's real version count.
    val (cat, base) = freshCatalog("clamp")
    spark.sql(s"CREATE NAMESPACE $cat.corpus")
    spark.sql(s"CREATE TABLE $cat.corpus.t (id BIGINT NOT NULL, grp STRING NOT NULL, v DOUBLE NOT NULL)")
    spark.range(0, 4).coalesce(1)
      .selectExpr("id", "'g' AS grp", "CAST(id AS DOUBLE) AS v")
      .createOrReplaceTempView("cdf_clamp_src")
    spark.sql(s"INSERT INTO $cat.corpus.t SELECT * FROM cdf_clamp_src")
    val dir = new java.io.File(base, "corpus/t").getAbsolutePath
    val real = FrameMaintenance.totalVersions(new java.io.File(dir))
    assert(real >= 1)
    val stream = new graft.sources.FrameChangesMicroBatchStream(
      dir, schemaJson, AvroFrames.DefaultSchemaId, Array("id"), 0)
    val committed = real + 5 // as if the reading raced 5 versions behind
    val end = stream.latestOffset(graft.sources.SegmentOffset(committed),
      org.apache.spark.sql.connector.read.streaming.ReadLimit.allAvailable())
    assert(end.asInstanceOf[graft.sources.SegmentOffset].segments >= committed,
      s"latest offset $end regressed below committed $committed")
  }

  test("avro frame stream offsets never regress under a torn version reading (ADVICE r17)") {
    // AvroFrameMicroBatchStream received the identical clamp as the
    // change stream but had no regression coverage — mirror the torn
    // read there, WITH a ReadMaxFiles admission limit so the clamped
    // range also exercises the pending-appends-empty branch (every
    // append version sits at or below the clamped `from`, so the
    // filtered pending list is empty and the offset must come back as
    // the committed one, not a lower total).
    val (cat, base) = freshCatalog("avroclamp")
    spark.sql(s"CREATE NAMESPACE $cat.corpus")
    spark.sql(s"CREATE TABLE $cat.corpus.t (id BIGINT NOT NULL, grp STRING NOT NULL, v DOUBLE NOT NULL)")
    spark.range(0, 4).coalesce(1)
      .selectExpr("id", "'g' AS grp", "CAST(id AS DOUBLE) AS v")
      .createOrReplaceTempView("avro_clamp_src")
    spark.sql(s"INSERT INTO $cat.corpus.t SELECT * FROM avro_clamp_src")
    val dir = new java.io.File(base, "corpus/t").getAbsolutePath
    val real = FrameMaintenance.totalVersions(new java.io.File(dir))
    assert(real >= 1)
    val stream = new graft.sources.AvroFrameMicroBatchStream(
      dir, schemaJson, AvroFrames.DefaultSchemaId, Array("id"),
      Array.empty[org.apache.spark.sql.sources.Filter], 2)
    val committed = real + 5 // as if the reading raced 5 versions behind
    val end = stream.latestOffset(graft.sources.SegmentOffset(committed),
      org.apache.spark.sql.connector.read.streaming.ReadLimit.maxFiles(2))
    assert(end.asInstanceOf[graft.sources.SegmentOffset].segments >= committed,
      s"latest avro offset $end regressed below committed $committed")
  }

  test("torn-read clamp holds the committed offset, resets, warns at powers of two") {
    val dir = Files.createTempDirectory("torn-clamp").toFile
    val clamp = new graft.sources.TornReadClamp(dir)
    val captured = new java.io.ByteArrayOutputStream()
    val stderr = System.err
    System.setErr(new java.io.PrintStream(captured, true))
    val (stuck, settled) = try {
      val stuck = (1 to 9).map(_ => clamp(10, 7))           // a reading stuck 3 below
      val settled = Seq(clamp(10, 12), clamp(12, 12), clamp(12, 11))  // reset, then clamp again
      (stuck, settled)
    } finally System.setErr(stderr)
    assert(stuck.forall(_ == 10), s"clamp must return the committed offset: $stuck")
    assert(settled == Seq(12, 12, 12), s"in-range readings pass through: $settled")
    val warned = captured.toString.linesIterator.filter(_.contains(s"totalVersions($dir)"))
      .map(_.replaceAll(".*consecutive clamp #(\\d+).*", "$1").toInt).toSeq
    // clamps #1, #2, #4, #8 of the stuck run; the in-range reading resets
    // the count, so the next clamp is #1 again
    assert(warned == Seq(1, 2, 4, 8, 1), s"warning schedule: $warned")
  }

  test("column pruning reaches the change scan") {
    val (cat, base) = freshCatalog("prune")
    spark.sql(s"CREATE NAMESPACE $cat.corpus")
    spark.sql(s"CREATE TABLE $cat.corpus.t (id BIGINT NOT NULL, grp STRING NOT NULL, v DOUBLE NOT NULL)")
    val dir = new java.io.File(base, "corpus/t").getAbsolutePath
    spark.range(0, 4).coalesce(1)
      .selectExpr("id", "'g' AS grp", "CAST(id AS DOUBLE) AS v")
      .createOrReplaceTempView("cdf_prune_src")
    spark.sql(s"INSERT INTO $cat.corpus.t SELECT * FROM cdf_prune_src")

    val q = feed(dir, 0).select("id", "_change_type")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("AvroFrameChangesScan") &&
      plan.contains("ReadSchema=[id,_change_type]"),
      s"pruned read schema must reach the change scan:\n$plan")
    assert(q.collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq ==
      (0L to 3L).map(i => (i, "insert")))
  }

  test("_commit_version bounds push into change-scan PLANNING (round 16)") {
    val (cat, base) = freshCatalog("vpush")
    spark.sql(s"CREATE NAMESPACE $cat.corpus")
    spark.sql(s"CREATE TABLE $cat.corpus.t (id BIGINT NOT NULL, v DOUBLE NOT NULL)")
    (0 until 5).foreach { k =>
      spark.range(k * 10, k * 10 + 10).coalesce(1)
        .selectExpr("id", "CAST(id AS DOUBLE) AS v")
        .createOrReplaceTempView(s"cdf_vpush_src_$k")
      spark.sql(s"INSERT INTO $cat.corpus.t SELECT * FROM cdf_vpush_src_$k")
    }
    // the incremental-consumer shape: only versions (3, 5] may be
    // PLANNED — the whole-history scan would plan 5 change units
    val q = spark.sql(
      s"SELECT id FROM $cat.corpus.t.changes WHERE _commit_version > 3")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("versions=(3,5]"),
      s"pushed _commit_version bound must narrow the planned range:\n$plan")
    assert(q.collect().map(_.getLong(0)).sorted.toSeq == (30L until 50L))
    // two-sided + equality, still exact (Spark re-filters post-scan)
    val q2 = spark.sql(s"SELECT id FROM $cat.corpus.t.changes " +
      "WHERE _commit_version >= 2 AND _commit_version < 4")
    assert(q2.queryExecution.executedPlan.toString.contains("versions=(1,3]"))
    assert(q2.collect().map(_.getLong(0)).sorted.toSeq == (10L until 30L))
    val q3 = spark.sql(s"SELECT count(*) FROM $cat.corpus.t.changes WHERE _commit_version = 5")
    assert(q3.collect()(0).getLong(0) == 10L)
    // an empty range plans (and returns) nothing, no error
    assert(spark.sql(
      s"SELECT id FROM $cat.corpus.t.changes WHERE _commit_version > 99").collect().isEmpty)
  }

  /** The round-15 exactly-once contract: a refresh killed in either
    * half of the apply window (intent→MERGE, MERGE→watermark) must
    * leave the view equal to a full recompute after the NEXT refresh —
    * never double-applied, never dropped.
    */
  test("matview refresh crash-killed around the MERGE recovers exactly-once") {
    import graft.sources.FrameMatView
    val (cat, base) = freshCatalog("crash")
    spark.sql(s"CREATE NAMESPACE $cat.corpus")
    spark.sql(s"CREATE TABLE $cat.corpus.src (id BIGINT NOT NULL, grp STRING NOT NULL, v DOUBLE NOT NULL)")
    spark.sql(s"CREATE TABLE $cat.corpus.mv (grp STRING NOT NULL, cnt BIGINT NOT NULL, sum_v DOUBLE NOT NULL)")

    def mvState(): Map[String, (Long, Double)] =
      spark.sql(s"SELECT grp, cnt, sum_v FROM $cat.corpus.mv").collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    def recompute(): Map[String, (Long, Double)] =
      spark.sql(s"SELECT grp, count(*), sum(v) FROM $cat.corpus.src GROUP BY grp").collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    def assertMatches(): Unit = {
      val (a, b) = (mvState(), recompute())
      assert(a.keySet == b.keySet, s"keys: ${a.keySet} vs ${b.keySet}")
      a.foreach { case (k, (cnt, sum)) =>
        assert(cnt == b(k)._1, s"cnt($k): $cnt vs ${b(k)._1}")
        assert(math.abs(sum - b(k)._2) < 1e-6, s"sum($k): $sum vs ${b(k)._2}")
      }
    }

    spark.range(0, 50).coalesce(1)
      .selectExpr("id", "CONCAT('g', id % 4) AS grp", "CAST(id AS DOUBLE) AS v")
      .createOrReplaceTempView("mvc_src_0")
    spark.sql(s"INSERT INTO $cat.corpus.src SELECT * FROM mvc_src_0")
    val r1 = FrameMatView.refresh(spark, cat, "corpus.src", "corpus.mv", "grp", "v")
    assertMatches()

    // --- crash AFTER the MERGE committed, before the watermark write:
    // a naive re-run would re-apply the same signed deltas and
    // double-count. The intent protocol must detect the committed
    // MERGE and only finalize the watermark.
    spark.range(50, 70).coalesce(1)
      .selectExpr("id", "CONCAT('g', id % 4) AS grp", "CAST(id AS DOUBLE) AS v")
      .createOrReplaceTempView("mvc_src_1")
    spark.sql(s"INSERT INTO $cat.corpus.src SELECT * FROM mvc_src_1")
    FrameMatView.onAfterMerge = () => throw new RuntimeException("crash-after-merge")
    try {
      val e = intercept[RuntimeException] {
        FrameMatView.refresh(spark, cat, "corpus.src", "corpus.mv", "grp", "v")
      }
      assert(e.getMessage == "crash-after-merge")
    } finally FrameMatView.onAfterMerge = () => ()
    // the intent is still on disk; the view already holds the merged
    // state — a blind watermark-based re-run would double it
    assert(new java.io.File(base, s"corpus/mv/${FrameMatView.IntentFile}").isFile)
    val r2 = FrameMatView.refresh(spark, cat, "corpus.src", "corpus.mv", "grp", "v")
    assert(r2.deltaKeys == 0 && r2.fromVersion == r2.toVersion,
      s"recovery after a committed MERGE must finalize, not re-apply: $r2")
    assertMatches()

    // --- crash BEFORE the MERGE (intent written, nothing applied):
    // recovery must discard the intent and re-run the range normally.
    spark.range(70, 90).coalesce(1)
      .selectExpr("id", "CONCAT('g', id % 4) AS grp", "CAST(id AS DOUBLE) AS v")
      .createOrReplaceTempView("mvc_src_2")
    spark.sql(s"INSERT INTO $cat.corpus.src SELECT * FROM mvc_src_2")
    FrameMatView.onBeforeMerge = () => throw new RuntimeException("crash-before-merge")
    try {
      intercept[RuntimeException] {
        FrameMatView.refresh(spark, cat, "corpus.src", "corpus.mv", "grp", "v")
      }
    } finally FrameMatView.onBeforeMerge = () => ()
    val r3 = FrameMatView.refresh(spark, cat, "corpus.src", "corpus.mv", "grp", "v")
    assert(r3.deltaKeys > 0 && r3.fromVersion == r1.toVersion + 1,
      s"recovery after an uncommitted MERGE must re-apply the range: $r3")
    assertMatches()
  }

  test("matview delta treats NULL-valued change rows as zero, not NULL") {
    import graft.sources.FrameMatView
    val (cat, _) = freshCatalog("nullv")
    spark.sql(s"CREATE NAMESPACE $cat.corpus")
    // nullable value column: a key whose delta rows are all NULL-valued
    // must contribute d_sum = 0.0 (what a recompute's null-skipping sum
    // does), never NULL (which would null-out the accumulated sum and
    // poison the net-zero filter)
    spark.sql(s"CREATE TABLE $cat.corpus.src (id BIGINT NOT NULL, grp STRING NOT NULL, v DOUBLE)")
    spark.sql(s"CREATE TABLE $cat.corpus.mv (grp STRING NOT NULL, cnt BIGINT NOT NULL, sum_v DOUBLE NOT NULL)")
    spark.range(0, 10).coalesce(1)
      .selectExpr("id", "CONCAT('g', id % 2) AS grp", "CAST(id AS DOUBLE) AS v")
      .createOrReplaceTempView("mvn_src_0")
    spark.sql(s"INSERT INTO $cat.corpus.src SELECT * FROM mvn_src_0")
    FrameMatView.refresh(spark, cat, "corpus.src", "corpus.mv", "grp", "v")

    // second slice: g0 gains only NULL-valued rows; g7 is a brand-new
    // key with only NULL values (insert path must write 0.0, the
    // column is NOT NULL)
    spark.range(10, 16).coalesce(1)
      .selectExpr("id", "IF(id % 2 = 0, 'g0', 'g7') AS grp", "CAST(NULL AS DOUBLE) AS v")
      .createOrReplaceTempView("mvn_src_1")
    spark.sql(s"INSERT INTO $cat.corpus.src SELECT * FROM mvn_src_1")
    FrameMatView.refresh(spark, cat, "corpus.src", "corpus.mv", "grp", "v")

    val got = spark.sql(s"SELECT grp, cnt, sum_v FROM $cat.corpus.mv").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val want = spark.sql(
      s"SELECT grp, count(*), coalesce(sum(v), 0.0) FROM $cat.corpus.src GROUP BY grp")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got.keySet == want.keySet, s"${got.keySet} vs ${want.keySet}")
    got.foreach { case (k, (cnt, sum)) =>
      assert(cnt == want(k)._1, s"cnt($k)")
      assert(math.abs(sum - want(k)._2) < 1e-9, s"sum($k): $sum vs ${want(k)._2}")
    }
  }

  test("streaming change feed honors maxVersionsPerTrigger admission control") {
    val (cat, base) = freshCatalog("adm")
    spark.sql(s"CREATE NAMESPACE $cat.corpus")
    spark.sql(s"CREATE TABLE $cat.corpus.t (id BIGINT NOT NULL, grp STRING NOT NULL, v DOUBLE NOT NULL)")
    val dir = new java.io.File(base, "corpus/t").getAbsolutePath

    // 5 single-segment inserts = 5 versions of history BEFORE the
    // stream starts: without admission control the first trigger
    // materializes all of it as one batch
    (0 until 5).foreach { k =>
      spark.range(k * 10, k * 10 + 10).coalesce(1)
        .selectExpr("id", "'g' AS grp", "CAST(id AS DOUBLE) AS v")
        .createOrReplaceTempView(s"cdf_adm_src_$k")
      spark.sql(s"INSERT INTO $cat.corpus.t SELECT * FROM cdf_adm_src_$k")
    }

    val sinkName = "cdf_adm_sink"
    val q = spark.readStream.format("graft.sources.AvroFrameDataSource")
      .option("path", dir)
      .option("avroSchema", schemaJson)
      .option("changeFeed", "true")
      .option("maxVersionsPerTrigger", "2")
      .load()
      .selectExpr("id", "_commit_version")
      .writeStream.format("memory").queryName(sinkName)
      .option("checkpointLocation",
        Files.createTempDirectory("cdf-adm-ckpt").toString)
      .start()
    try {
      q.processAllAvailable()
      // everything arrives...
      assert(spark.table(sinkName).count() == 50)
      // ...but in capped slices: each batch spans at most 2 versions
      // (20 rows), so the 5-version backlog took >= 3 batches
      val batches = q.recentProgress.filter(_.numInputRows > 0)
      assert(batches.length >= 3 && batches.forall(_.numInputRows <= 20),
        s"expected >=3 admission-capped batches of <=20 rows, got " +
          batches.map(_.numInputRows).mkString(","))
    } finally q.stop()
  }
}
