package graft

import java.io.File
import java.nio.file.Files

import org.apache.avro.generic.GenericData
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{AvroFrames, AvroFrameWrite, FrameMaintenance, FrameStatsLedger, FrameTimePart}

/** Round-17 live-set ledger (VERDICT r16 item 1): query planning must
  * derive the segment universe, deletion vectors, and publish instants
  * from the authoritative stats ledger alone — ZERO data-directory
  * listings per plan, shard-pruned metadata parses on time-partitioned
  * tables, and the ledger fold as the atomic commit point.
  */
class FrameLiveSetSpec extends AnyFunSuite with SparkFixture {

  private val schemaJson = AvroFrames.avroSchemaFor(
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.DoubleType, nullable = false))),
    "t")

  private val DayUs = 86400000000L

  private def writeRows(dir: String, from: Long, to: Long, parts: Int): Unit =
    spark.range(from, to)
      .selectExpr("id", "CAST(id AS DOUBLE) AS v")
      .repartitionByRange(parts, col("id"))
      .write.format("graft.sources.AvroFrameDataSource")
      .option("path", dir).option("avroSchema", schemaJson)
      .mode("append").save()

  private def readBack(dir: String): DataFrame =
    spark.read.format("graft.sources.AvroFrameDataSource")
      .option("path", dir).option("avroSchema", schemaJson).load()

  test("planning + running a query on a ledgered table lists the data directory ZERO times") {
    val dir = Files.createTempDirectory("liveset-zero").toString
    writeRows(dir, 0, 2000, 8)
    // sanity: the table is authoritative-ledgered
    assert(AvroFrames.ledgerLiveSet(dir).exists(_.size == 8))
    val before = AvroFrames.dirListings.get()
    val rows = readBack(dir).filter(col("id") >= 250L && col("id") < 750L).collect()
    val listings = AvroFrames.dirListings.get() - before
    assert(rows.length == 500)
    assert(listings == 0L,
      s"planning+running on an authoritative table listed the data dir $listings times")
  }

  test("deletion vectors travel on the ledger: MoR delete then read, zero listings, exact rows") {
    val dir = Files.createTempDirectory("liveset-dv").toFile
    writeRows(dir.toString, 0, 1000, 4)
    FrameMaintenance.deleteWhereMoR(spark, dir, schemaJson, AvroFrames.DefaultSchemaId,
      Array(org.apache.spark.sql.sources.EqualTo("id", 7L)), null)
    // the ledger entry carries the vector association
    val entries = AvroFrames.ledgerLiveSet(dir.toString).get
    val withDv = entries.filter(_._2.dv.isDefined)
    assert(withDv.size == 1, s"exactly one segment should carry a vector: $withDv")
    assert(withDv.values.head.dv.get == AvroFrames.liveDvMap(dir.toString)
      .values.head.getName, "ledger dv must match the on-disk live vector")
    val before = AvroFrames.dirListings.get()
    val n = readBack(dir.toString).count()
    assert(AvroFrames.dirListings.get() - before == 0L,
      "a vectored read must not list the directory")
    assert(n == 999L)
    assert(readBack(dir.toString).filter(col("id") === 7L).count() == 0L)
    // a second delete supersedes the association (cumulative vector)
    FrameMaintenance.deleteWhereMoR(spark, dir, schemaJson, AvroFrames.DefaultSchemaId,
      Array(org.apache.spark.sql.sources.EqualTo("id", 8L)), null)
    assert(readBack(dir.toString).count() == 998L)
    val dvNow = AvroFrames.ledgerLiveSet(dir.toString).get.flatMap(_._2.dv).toSet
    assert(dvNow == AvroFrames.liveDvMap(dir.toString).values.map(_.getName).toSet,
      "ledger vector set must track the live vector set through supersession")
    // a delete hitting an all-match segment (750-999) AND a straddler
    // (500-749) is one version, so it lands as ONE ledger delta line
    val deltaLog = new File(dir, FrameStatsLedger.DeltaFile)
    def deltaLines(): Long = {
      val st = Files.lines(deltaLog.toPath)
      try st.count() finally st.close()
    }
    val linesBefore = deltaLines()
    FrameMaintenance.deleteWhereMoR(spark, dir, schemaJson, AvroFrames.DefaultSchemaId,
      Array(org.apache.spark.sql.sources.GreaterThanOrEqual("id", 600L)), null,
      foldThreshold = 2.0)
    assert(deltaLines() - linesBefore == 1L,
      "a merge-on-read DELETE must commit as exactly one ledger fold")
    assert(readBack(dir.toString).count() == 598L)
  }

  test("TIMESTAMP AS OF cuts on recorded publish instants — no per-file stat calls") {
    val dir = Files.createTempDirectory("liveset-asof").toString
    writeRows(dir, 0, 100, 1)
    val cut = System.currentTimeMillis()
    Thread.sleep(15)
    writeRows(dir, 100, 300, 1)
    val before = AvroFrames.dirListings.get()
    val historic = spark.read.format("graft.sources.AvroFrameDataSource")
      .option("path", dir).option("avroSchema", schemaJson)
      .option("asOfTimestampMs", cut.toString).load().count()
    assert(AvroFrames.dirListings.get() - before == 0L,
      "a timestamp-travel read on a ledgered table must not list the directory")
    assert(historic == 100L, "the cut must serve exactly the first batch")
    assert(readBack(dir).count() == 300L)
    // VERSION prefix cut over the ledger's name order
    val v1 = spark.read.format("graft.sources.AvroFrameDataSource")
      .option("path", dir).option("avroSchema", schemaJson)
      .option("asOfSegments", "1").load().count()
    assert(v1 == 100L)
  }

  test("maintenance keeps the live set exact: compact + CoW delete + rollback, ledger == disk") {
    val dir = Files.createTempDirectory("liveset-maint").toFile
    writeRows(dir.toString, 0, 400, 2)
    writeRows(dir.toString, 400, 800, 2)
    FrameMaintenance.compact(spark, dir)
    FrameMaintenance.deleteWhere(spark, dir, schemaJson, AvroFrames.DefaultSchemaId,
      Array(org.apache.spark.sql.sources.LessThan("id", 100L)))
    def check(): Unit = {
      val led = AvroFrames.ledgerLiveSet(dir.toString).get
      assert(led.keySet == AvroFrames.listSegments(dir.toString).map(_.getName).toSet,
        "ledger live set must equal the directory live set after maintenance")
      assert(led.flatMap(_._2.dv).toSet ==
        AvroFrames.liveDvMap(dir.toString).values.map(_.getName).toSet)
    }
    check()
    assert(readBack(dir.toString).count() == 700L)
    val versions = FrameMaintenance.readManifest(dir).length
    FrameMaintenance.rollback(dir, 2) // back to the first two appends
    check()
    assert(readBack(dir.toString).count() == 400L)
    assert(versions >= 1)
  }

  test("time-partitioned table: a pruned plan parses ONLY in-window ledger shards") {
    val (cat, dir) = partitionedFixture("shard", days = 6, rowsPerDay = 20)
    // warm nothing: fresh query against a cold shard cache
    FrameStatsLedger.drop(new File(dir)) // drop, then retrofit → sharded v2
    val rebuilt = FrameStatsLedger.rebuild(new File(dir))
    assert(rebuilt == AvroFrames.listSegments(dir).length && rebuilt >= 6,
      s"rebuild must cover every live segment (got $rebuilt)")
    val led = AvroFrames.ledgerLiveSet(dir)
    assert(led.isDefined)
    val beforeShards = FrameStatsLedger.shardLoads.get()
    val beforeList = AvroFrames.dirListings.get()
    val n = spark.sql(
      s"SELECT count(*) AS n FROM $cat.corpus.t WHERE ts_us >= $DayUs AND ts_us < ${2 * DayUs}")
      .collect()(0).getLong(0)
    val shardParses = FrameStatsLedger.shardLoads.get() - beforeShards
    assert(AvroFrames.dirListings.get() - beforeList == 0L)
    assert(n == 20L)
    assert(shardParses <= 2L,
      s"a one-day query on a 6-day table parsed $shardParses shards (want ≤ 2: " +
        "one per planning pass is cached; out-of-window shards never load)")
  }

  test("planning time is sublinear in table size under partition pruning (the r16 curve)") {
    // 5000 one-row segments over 50 days, sharded ledger: an in-window
    // plan parses 1 shard (100 entries), not 5000
    val flat = Files.createTempDirectory("liveset-flat").toFile
    val parted = Files.createTempDirectory("liveset-part").toFile
    val tsSchema = AvroFrames.avroSchemaFor(
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("ts_us", org.apache.spark.sql.types.LongType, nullable = false))),
      "t")
    val writer = new org.apache.avro.Schema.Parser().parse(tsSchema)
    def tiny(dir: File, k: Int, token: String): Unit = {
      val day = k / 100
      val rec = new GenericData.Record(writer)
      rec.put(0, Long.box(k.toLong)); rec.put(1, Long.box(day * DayUs + k))
      val name = f"segment-$k%07d$token.bin"
      AvroFrames.writeSegment(new File(dir, name),
        Iterator(AvroFrames.frameRecord(AvroFrames.DefaultSchemaId, rec)))
      val idStats = new AvroFrameWrite.FieldStats
      idStats.observe(Long.box(k.toLong))
      val tsStats = new AvroFrameWrite.FieldStats
      tsStats.observe(Long.box(day * DayUs + k))
      Files.writeString(new File(dir, name + ".stats").toPath,
        AvroFrameWrite.statsJson(1L, Seq("id" -> idStats, "ts_us" -> tsStats)))
    }
    (0 until 5000).foreach { k => tiny(flat, k, "") }
    (0 until 5000).foreach { k => tiny(parted, k, FrameTimePart.token(k / 100)) }
    FrameStatsLedger.rebuild(flat)
    FrameStatsLedger.rebuild(parted)

    def planMs(dir: File, withPart: Boolean): Long = {
      val t0 = System.nanoTime()
      val r = spark.read.format("graft.sources.AvroFrameDataSource")
        .option("path", dir.toString).option("avroSchema", tsSchema)
      val r2 = if (withPart) r.option("partitionCol", "ts_us").option("partitionUnit", "days") else r
      val q = r2.load().filter(col("ts_us") >= lit(3 * DayUs) && col("ts_us") < lit(4 * DayUs))
      q.queryExecution.executedPlan.toString // force planning
      (System.nanoTime() - t0) / 1000000L
    }
    val msFlat = planMs(flat, withPart = false)
    val beforeShards = FrameStatsLedger.shardLoads.get()
    val msParted = planMs(parted, withPart = true)
    val shardParses = FrameStatsLedger.shardLoads.get() - beforeShards
    info(s"planning 5000 segments: flat ledger $msFlat ms; " +
      s"sharded+pruned $msParted ms ($shardParses shard parses)")
    assert(shardParses <= 2L,
      s"an in-window plan must parse only its day's shard, got $shardParses")
    // correctness of the pruned plan
    val q = spark.read.format("graft.sources.AvroFrameDataSource")
      .option("path", parted.toString).option("avroSchema", tsSchema)
      .option("partitionCol", "ts_us").option("partitionUnit", "days")
      .load().filter(col("ts_us") >= lit(3 * DayUs) && col("ts_us") < lit(4 * DayUs))
    assert(q.count() == 100L)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("Segments=100/100"), plan)
  }

  test("the fold is the commit point: pre-fold segments stay invisible until analyze heals") {
    val dir = Files.createTempDirectory("liveset-commitpoint").toFile
    writeRows(dir.toString, 0, 100, 1)
    // simulate a crash between segment publish and ledger fold: a
    // segment + sidecar land on disk with no fold (the foreign shape)
    val donor = Files.createTempDirectory("liveset-donor").toFile
    writeRows(donor.toString, 100, 200, 1)
    val seg = AvroFrames.listSegments(donor.toString).head
    Files.copy(seg.toPath, new File(dir, "segment-9999999999999-crash").toPath)
    Files.copy(new File(donor, seg.getName + ".stats").toPath,
      new File(dir, "segment-9999999999999-crash.stats").toPath)
    // readers keep the committed snapshot — no torn half-job visible
    assert(readBack(dir.toString).count() == 100L)
    // analyze (rebuild) reconciles directory reality into the ledger
    FrameStatsLedger.rebuild(dir)
    assert(readBack(dir.toString).count() == 200L)
  }

  /** CREATE a days-partitioned catalog table and insert `days` ×
    * `rowsPerDay` rows. Returns (catalog, table dir).
    */
  private def partitionedFixture(tag: String, days: Int, rowsPerDay: Int): (String, String) = {
    val base = Files.createTempDirectory(s"liveset-cat-$tag").toString
    val cat = s"liveset_$tag"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.FrameCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.base", base)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.corpus")
    spark.sql(s"""CREATE TABLE $cat.corpus.t (
      id BIGINT NOT NULL, ts_us BIGINT NOT NULL, v DOUBLE NOT NULL)
      PARTITIONED BY (days(ts_us))""")
    spark.range(0, days.toLong * rowsPerDay)
      .selectExpr("id", s"id % $days * $DayUs AS ts_us", "CAST(id AS DOUBLE) AS v")
      .createOrReplaceTempView(s"liveset_src_$tag")
    spark.sql(s"INSERT INTO $cat.corpus.t SELECT * FROM liveset_src_$tag")
    (cat, s"$base/corpus/t")
  }
}
