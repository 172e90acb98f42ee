package graft

import java.io.File
import java.nio.file.Files

import org.apache.avro.generic.GenericData
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{AvroFrames, AvroFrameStats, AvroFrameWrite, FrameMaintenance, FrameStatsLedger, FrameStatsView}

/** Round-16 stats ledger — the scalable-planning-metadata layer
  * (VERDICT r15 item 1): query planning must read O(1) metadata files
  * on a ledgered table, however many segments are live, while staying
  * exactly as conservative as the per-sidecar path it replaces.
  */
class FrameLedgerSpec extends AnyFunSuite with SparkFixture {

  private val schemaJson = AvroFrames.avroSchemaFor(
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.DoubleType, nullable = false))),
    "t")

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

  /** Driver-side synthetic many-segment log: `n` one-row segments with
    * exact sidecars, NO ledger — the shape a foreign/pre-ledger table
    * has. Row id of segment k is k (so id-range filters prune).
    */
  private def writeTinySegments(dir: File, n: Int): Unit = {
    val writer = new org.apache.avro.Schema.Parser().parse(schemaJson)
    (0 until n).foreach { k =>
      val rec = new GenericData.Record(writer)
      rec.put(0, Long.box(k.toLong)); rec.put(1, Double.box(k.toDouble))
      val name = f"segment-$k%07d.bin"
      AvroFrames.writeSegment(new File(dir, name),
        Iterator(AvroFrames.frameRecord(AvroFrames.DefaultSchemaId, rec)))
      val idStats = new AvroFrameWrite.FieldStats
      idStats.observe(Long.box(k.toLong))
      val vStats = new AvroFrameWrite.FieldStats
      vStats.observe(Double.box(k.toDouble))
      Files.writeString(new File(dir, name + ".stats").toPath,
        AvroFrameWrite.statsJson(1L, Seq("id" -> idStats, "v" -> vStats)))
    }
  }

  private def ledgerOf(dir: String): Map[String, FrameStatsLedger.Entry] =
    FrameStatsLedger.read(new File(dir)).getOrElse(
      fail(s"expected a stats ledger in $dir"))

  private def liveNames(dir: String): Set[String] =
    AvroFrames.listSegments(dir).map(_.getName).toSet

  test("DSv2 commits mint and fold the ledger; entries mirror the sidecars") {
    val dir = Files.createTempDirectory("ledger-basic").toString
    writeRows(dir, 0, 1000, 4)
    val led = ledgerOf(dir)
    assert(led.keySet == liveNames(dir), "ledger must cover exactly the live segments")
    led.foreach { case (name, e) =>
      val (frames, fields, blooms) =
        AvroFrameStats.readFull(new File(dir, name)).get
      assert(e.frames == frames && e.fields == fields &&
        e.bloomFields == blooms.keySet, s"entry for $name must mirror its sidecar")
    }
    // second append folds forward, never rewrites from scratch wrongly
    writeRows(dir, 1000, 1500, 2)
    assert(ledgerOf(dir).keySet == liveNames(dir))
    assert(liveNames(dir).size == 6)
  }

  test("planning a ledgered table opens ZERO sidecar files (the O(1) metadata contract)") {
    val dir = Files.createTempDirectory("ledger-opens").toString
    writeRows(dir, 0, 2000, 8)
    assert(ledgerOf(dir).keySet.size == 8)
    // warm nothing: fresh scan instances read the ledger once each;
    // the counter watches sidecar FILE opens only
    val before = AvroFrameStats.sidecarOpens.get()
    val q = readBack(dir).filter(col("id") >= 250L && col("id") < 750L)
    val rows = q.collect()
    val opens = AvroFrameStats.sidecarOpens.get() - before
    assert(rows.length == 500)
    assert(opens == 0L,
      s"planning+running a filtered scan on a fully-ledgered table opened $opens sidecars")
    // and the plan still pruned: only the id-range segments survive
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("after stat-pruning"), plan)
  }

  test("many-segment log: planning metadata is flat in segment count after retrofit") {
    val small = Files.createTempDirectory("ledger-many-small").toFile
    val big = Files.createTempDirectory("ledger-many-big").toFile
    writeTinySegments(small, 1000)
    writeTinySegments(big, 5000)
    // retrofit: one rebuild turns a pre-ledger log into a ledgered one
    assert(FrameStatsLedger.rebuild(small) == 1000)
    assert(FrameStatsLedger.rebuild(big) == 5000)

    def planOnly(dir: File): (Long, Long) = {
      val before = AvroFrameStats.sidecarOpens.get()
      val t0 = System.nanoTime()
      val q = readBack(dir.toString).filter(col("id") < 10L)
      q.queryExecution.executedPlan.toString // force full planning
      val elapsed = System.nanoTime() - t0
      (AvroFrameStats.sidecarOpens.get() - before, elapsed / 1000000L)
    }
    val (opensSmall, msSmall) = planOnly(small)
    val (opensBig, msBig) = planOnly(big)
    info(s"planning: 1000 segments -> $msSmall ms / $opensSmall opens; " +
      s"5000 segments -> $msBig ms / $opensBig opens")
    assert(opensSmall == 0L && opensBig == 0L,
      s"ledgered planning must open no sidecars (got $opensSmall / $opensBig)")
    // correctness of the pruned result on the big log
    assert(readBack(big.toString).filter(col("id") < 10L).count() == 10L)
    // and pruning actually narrowed the planned set
    val desc = readBack(big.toString).filter(col("id") < 10L)
      .queryExecution.executedPlan.toString
    assert(desc.contains("Segments=10/5000"), desc)
  }

  test("ledger pruning is exactly as conservative as sidecar pruning") {
    val dir = Files.createTempDirectory("ledger-parity").toFile
    writeTinySegments(dir, 64)
    val segs = AvroFrames.listSegments(dir.toString)
    val filters: Array[org.apache.spark.sql.sources.Filter] = Array(
      org.apache.spark.sql.sources.GreaterThanOrEqual("id", 16L),
      org.apache.spark.sql.sources.LessThan("id", 48L))
    val sidecarKept = new FrameStatsView(dir).prune(segs, filters).map(_.getName).toSeq
    FrameStatsLedger.rebuild(dir)
    val ledgerKept = new FrameStatsView(dir).prune(segs, filters).map(_.getName).toSeq
    assert(ledgerKept == sidecarKept, "ledger and sidecar pruning must agree")
    assert(ledgerKept.size == 32)
  }

  test("foreign files: invisible until analyze registers them; a dropped ledger falls back to the listing") {
    val dir = Files.createTempDirectory("ledger-fallback").toFile
    writeRows(dir.toString, 0, 500, 2)   // ledgered (authoritative since round 17)
    writeTinySegments(dir, 8)            // foreign: dropped into the dir out-of-band
    val led = ledgerOf(dir.toString)
    assert(led.keySet.size == 2, "foreign direct writes must not appear in the ledger")
    // round 17: the authoritative ledger IS the live set — a foreign
    // drop-in is not part of the table until analyze reconciles it
    // (the Delta-log contract; the directory stays the physical truth
    // the repair path reads)
    val q = readBack(dir.toString).filter(col("id") < 4L)
    assert(q.count() == 4L, "foreign files must not be served before registration")
    // rebuild (= CALL analyze's ledger half) registers them
    assert(FrameStatsLedger.rebuild(dir) == 10)
    assert(readBack(dir.toString).filter(col("id") < 4L).count() == 8L)
    // dropping the ledger entirely falls back to the directory listing
    // — still every row, only slower (per-sidecar planning)
    FrameStatsLedger.drop(dir)
    assert(readBack(dir.toString).filter(col("id") < 4L).count() == 8L)
  }

  test("maintenance keeps the ledger in lockstep: delete, compact, truncate") {
    val dir = Files.createTempDirectory("ledger-maint").toFile
    val spark0 = spark
    writeRows(dir.toString, 0, 1000, 4)
    // CoW delete: one segment metadata-deleted, one rewritten
    FrameMaintenance.deleteWhere(spark0, dir, schemaJson, AvroFrames.DefaultSchemaId,
      Array(org.apache.spark.sql.sources.LessThan("id", 300L)))
    assert(ledgerOf(dir.toString).keySet == liveNames(dir.toString),
      "ledger must track delete retires and rewrite replacements")
    // rewritten replacement entries must mirror their fresh sidecars
    ledgerOf(dir.toString).foreach { case (name, e) =>
      val (frames, fields, _) = AvroFrameStats.readFull(new File(dir, name)).get
      assert(e.frames == frames && e.fields == fields)
    }
    // compaction: bins replace members
    FrameMaintenance.compact(spark0, dir)
    assert(ledgerOf(dir.toString).keySet == liveNames(dir.toString),
      "ledger must track compaction retires and replacements")
    assert(readBack(dir.toString).count() == 700L)
    // logical truncate (deleteAll) empties it
    FrameMaintenance.deleteAll(dir)
    assert(ledgerOf(dir.toString).isEmpty)
    // physical truncate drops the file with the lineage
    writeRows(dir.toString, 0, 10, 1)
    spark0.range(0, 5).selectExpr("id", "CAST(id AS DOUBLE) AS v")
      .write.format("graft.sources.AvroFrameDataSource")
      .option("path", dir.toString).option("avroSchema", schemaJson)
      .mode("overwrite").save()
    assert(ledgerOf(dir.toString).keySet == liveNames(dir.toString))
    assert(readBack(dir.toString).count() == 5L)
  }

  test("analyze retrofits a pre-ledger table and refreshes a stale one") {
    val dir = Files.createTempDirectory("ledger-analyze").toFile
    writeTinySegments(dir, 12)
    assert(FrameStatsLedger.read(dir).isEmpty, "no ledger before retrofit")
    FrameMaintenance.analyze(spark, dir, schemaJson, AvroFrames.DefaultSchemaId,
      Seq("id"), 1000L)
    val led = ledgerOf(dir.toString)
    assert(led.keySet == liveNames(dir.toString))
    assert(led.values.forall(_.bloomFields == Set("id")),
      "retrofit must record which fields carry bloom payloads")
    // planning now opens no sidecars for a pure min/max prune
    val before = AvroFrameStats.sidecarOpens.get()
    readBack(dir.toString).filter(col("id") === 3L)
      .queryExecution.executedPlan.toString
    // the one survivor carries a bloom -> one residual sidecar open per
    // prune pass (planning prunes for description/statistics/splits),
    // nothing proportional to the 12 segments
    val opens = AvroFrameStats.sidecarOpens.get() - before
    assert(opens <= 4L, s"expected O(survivors) residual bloom opens, got $opens")
  }

  test("ALTER rename/drop re-keys ledger entries with the sidecars") {
    val base = Files.createTempDirectory("ledger-alter").toString
    val cat = "fledger_cat"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.FrameCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.base", base)
    spark.sql(s"CREATE NAMESPACE $cat.corpus")
    spark.sql(s"CREATE TABLE $cat.corpus.t (id BIGINT NOT NULL, v DOUBLE NOT NULL)")
    spark.range(0, 100).selectExpr("id", "CAST(id AS DOUBLE) AS v")
      .createOrReplaceTempView("ledger_alter_src")
    spark.sql(s"INSERT INTO $cat.corpus.t SELECT * FROM ledger_alter_src")
    val dir = new File(base, "corpus/t")
    assert(ledgerOf(dir.toString).values.forall(_.fields.keySet == Set("id", "v")))
    spark.sql(s"ALTER TABLE $cat.corpus.t RENAME COLUMN v TO amount")
    assert(ledgerOf(dir.toString).values.forall(_.fields.keySet == Set("id", "amount")),
      "rename must re-key ledger field stats")
    spark.sql(s"ALTER TABLE $cat.corpus.t DROP COLUMN amount")
    assert(ledgerOf(dir.toString).values.forall(_.fields.keySet == Set("id")),
      "drop must strip the field from ledger entries")
    // pruning on the renamed-away column's stats must not resurrect:
    // re-add `amount` and check a filter on it cannot metadata-prune
    spark.sql(s"ALTER TABLE $cat.corpus.t ADD COLUMNS (amount DOUBLE)")
    val out = spark.sql(s"SELECT count(*) AS n FROM $cat.corpus.t WHERE amount IS NULL")
    assert(out.collect()(0).getLong(0) == 100L)
  }

  test("delta log: folds append O(delta), checkpoint compacts, torn tail tolerated") {
    val dir = Files.createTempDirectory("ledger-delta").toFile
    def entry(k: Long) = FrameStatsLedger.Entry(1L,
      Map("id" -> ((0L, Long.box(k): Any, Long.box(k): Any))), Set.empty)
    // first fold mints the base; later folds append delta lines
    FrameStatsLedger.fold(dir, add = Map("s0" -> entry(0)))
    assert(new File(dir, FrameStatsLedger.LedgerFile).isFile)
    assert(!new File(dir, FrameStatsLedger.DeltaFile).isFile)
    FrameStatsLedger.fold(dir, add = Map("s1" -> entry(1)))
    FrameStatsLedger.fold(dir, add = Map("s2" -> entry(2)), remove = Seq("s0"))
    val deltaFile = new File(dir, FrameStatsLedger.DeltaFile)
    assert(deltaFile.isFile, "append folds must hit the delta log, not rewrite the base")
    assert(FrameStatsLedger.read(dir).get.keySet == Set("s1", "s2"))
    // the base alone must still be pre-delta (s0 only): the fold wrote
    // O(delta) bytes, not the whole table
    val baseLen = new File(dir, FrameStatsLedger.LedgerFile).length()
    // torn tail: a half-written last line under-applies, never corrupts
    val fos = new java.io.FileOutputStream(deltaFile, true)
    fos.write("{\"add\":{\"s3\":{\"fra".getBytes); fos.close()
    assert(FrameStatsLedger.read(dir).get.keySet == Set("s1", "s2"),
      "torn tail must replay the intact prefix only")
    // checkpoint: enough folds compact everything into a fresh base;
    // folds after the checkpoint may re-open a (short) delta log
    (3 to 3 + FrameStatsLedger.CheckpointEveryDeltas).foreach { k =>
      FrameStatsLedger.fold(dir, add = Map(s"s$k" -> entry(k.toLong)))
    }
    val residualLines =
      if (!deltaFile.isFile) 0L
      else {
        val st = java.nio.file.Files.lines(deltaFile.toPath)
        try st.count() finally st.close()
      }
    assert(residualLines < FrameStatsLedger.CheckpointEveryDeltas,
      s"a checkpoint must have compacted the log (residual $residualLines lines)")
    assert(new File(dir, FrameStatsLedger.LedgerFile).length() > baseLen,
      "the compacted base must carry the folded entries")
    val all = FrameStatsLedger.read(dir).get.keySet
    assert(all.contains("s1") && all.contains("s2") &&
      all.contains(s"s${3 + FrameStatsLedger.CheckpointEveryDeltas}") &&
      !all.contains("s0"))
  }

  test("remove_orphans purges nested scratch trees recursively") {
    val dir = Files.createTempDirectory("ledger-orphans").toFile
    val scratch = new File(dir, ".clustering-g00001")
    val nested = new File(scratch, "job-temp")
    nested.mkdirs()
    Files.writeString(new File(nested, "part-0").toPath, "x")
    Files.writeString(new File(scratch, "part-1").toPath, "y")
    val old = System.currentTimeMillis() - 60000
    Seq(new File(nested, "part-0"), new File(scratch, "part-1"), nested, scratch)
      .foreach(f => f.setLastModified(old))
    val removed = FrameMaintenance.removeOrphans(dir, System.currentTimeMillis() - 1000)
    assert(removed == 4, s"expected 4 deletions, got $removed")
    assert(!scratch.exists())
  }
}
