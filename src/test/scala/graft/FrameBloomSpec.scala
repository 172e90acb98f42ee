package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{AvroFrames, AvroFrameStats, FrameFilter}

/** Write-time Bloom filter sidecars ([[graft.sources.AvroFrameWrite]] /
  * [[graft.sources.FrameStatsView.prune]]): point-lookup segment pruning on
  * high-cardinality columns whose min/max spans every segment — the
  * parquet-bloom / Iceberg-bloom pattern on the engine's own format.
  */
class FrameBloomSpec extends AnyFunSuite with SparkFixture {

  private val schemaJson = AvroFrames.avroSchemaFor(
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("tag", org.apache.spark.sql.types.StringType, nullable = false),
      org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.DoubleType, nullable = false))),
    "t")

  /** 4096 rows hash-distributed on id into 16 segments: every segment's
    * id range spans ~the whole table, so min/max never prunes.
    */
  private def writeHashLayout(dir: String, bloom: Boolean): Unit = {
    val w = spark.range(0, 4096)
      .selectExpr("id", "CONCAT('tag', id) AS tag", "CAST(id AS DOUBLE) AS v")
      .repartition(16, col("id"))
      .write.format("graft.sources.AvroFrameDataSource")
      .option("path", dir)
      .option("avroSchema", schemaJson)
    (if (bloom) w.option("bloomColumns", "id,tag").option("bloomExpectedItems", "5000")
     else w).mode("append").save()
  }

  private def readBack(dir: String): DataFrame =
    spark.read.format("graft.sources.AvroFrameDataSource")
      .option("path", dir).option("avroSchema", schemaJson).load()

  private def segmentsPlanned(q: DataFrame): (Int, Int) = {
    val desc = q.queryExecution.executedPlan.toString
    val m = "Segments=(\\d+)/(\\d+) after stat-pruning".r.findFirstMatchIn(desc)
    assert(m.isDefined, s"no AvroFrameScan segment count in plan:\n$desc")
    (m.get.group(1).toInt, m.get.group(2).toInt)
  }

  test("executor-side bloom gate: a reader never opens a segment its own bloom excludes (round 16)") {
    import org.apache.spark.sql.sources.EqualTo
    val dir = Files.createTempDirectory("bloom-exec").toString
    writeHashLayout(dir, bloom = true)
    val segs = AvroFrames.listSegments(dir)
    // find a segment that CONTAINS id=7 and one whose bloom excludes it
    def holds(seg: java.io.File): Boolean = {
      val b64 = AvroFrameStats.readFull(seg).get._3
      FrameFilter.bloomMayMatch(AvroFrameStats.blooms(b64), EqualTo("id", 7L))
    }
    val hit = segs.find(holds).get
    val miss = segs.find(!holds(_)).get

    // blocked reader: proves zero rows WITHOUT opening the data file
    // (we delete the segment bytes to prove it — only the sidecar is read)
    val missCopyDir = Files.createTempDirectory("bloom-exec-miss").toFile
    val ghost = new java.io.File(missCopyDir, miss.getName)
    java.nio.file.Files.copy(
      new java.io.File(miss.getParentFile, miss.getName + ".stats").toPath,
      new java.io.File(missCopyDir, miss.getName + ".stats").toPath)
    // NOTE: ghost data file deliberately NOT created
    val blocked = new graft.sources.AvroFrameReader(Seq(ghost.getAbsolutePath), Seq(None),
      schemaJson, AvroFrames.DefaultSchemaId, Array("id", "v"), Array(EqualTo("id", 7L)))
    assert(blocked.bloomSkipped == 1L, "the gate must fire from the sidecar alone")
    assert(!blocked.next(), "a bloom-blocked reader emits nothing")
    blocked.close()

    // unblocked reader on the containing segment still finds the row
    val open = new graft.sources.AvroFrameReader(Seq(hit.getAbsolutePath), Seq(None),
      schemaJson, AvroFrames.DefaultSchemaId, Array("id", "v"), Array(EqualTo("id", 7L)))
    assert(open.bloomSkipped == 0L)
    assert(open.next() && open.get().getLong(0) == 7L)
    open.close()

    // columnar chain: same gate, counted per skipped member
    val chain = new graft.sources.AvroFrameColumnarReader(
      Seq(miss.getAbsolutePath, hit.getAbsolutePath), Seq(None, None),
      schemaJson, AvroFrames.DefaultSchemaId, Array("id"), Array(EqualTo("id", 7L)))
    var got = Vector.empty[Long]
    while (chain.next()) {
      val b = chain.get()
      (0 until b.numRows()).foreach(i => got :+= b.column(0).getLong(i))
    }
    assert(got == Vector(7L))
    assert(chain.currentMetricsValues()
      .exists(m => m.name == "segments_bloom_skipped" && m.value == 1L),
      "the skipped member must surface in the task metric")
    chain.close()

    // end-to-end value parity stands (the full-query path)
    assert(readBack(dir).filter(col("id") === 7L).count() == 1L)
  }

  test("split-level probe hint: no-bloom tasks skip the executor sidecar probe (round 17)") {
    // a bloom-LESS table: every split must carry probeBloom = false,
    // so the executor gate never opens a sidecar however many pushed
    // equality filters arrive
    val plain = Files.createTempDirectory("bloom-probe-off").toString
    writeHashLayout(plain, bloom = false)
    val before = AvroFrameStats.bloomProbeReads.get()
    val q = readBack(plain).filter(col("id") === 1234L)
    assert(q.collect().map(_.getLong(0)).toSeq == Seq(1234L))
    assert(AvroFrameStats.bloomProbeReads.get() == before,
      "a ledgered bloom-less table must plan zero executor bloom probes")

    // blooms on (id, tag) but the lookup probes v: no relevant payload
    // can exist, so the hint still suppresses every probe
    val withB = Files.createTempDirectory("bloom-probe-irrel").toString
    writeHashLayout(withB, bloom = true)
    val before2 = AvroFrameStats.bloomProbeReads.get()
    val q2 = readBack(withB).filter(col("v") === 77.0)
    assert(q2.collect().map(_.getLong(0)).toSeq == Seq(77L))
    assert(AvroFrameStats.bloomProbeReads.get() == before2,
      "equality on an un-bloomed column must not probe sidecars")

    // relevant lookup on the bloomed table: the driver's residual pass
    // (under the 512-open cap here) already verified the survivors, so
    // their tasks ALSO skip the re-probe — and pruning still holds
    val before3 = AvroFrameStats.bloomProbeReads.get()
    val q3 = readBack(withB).filter(col("id") === 1234L)
    assert(q3.collect().map(_.getLong(0)).toSeq == Seq(1234L))
    assert(AvroFrameStats.bloomProbeReads.get() == before3,
      "driver-verified survivors must not re-probe executor-side")

    // aggregate pushdown over the bloom-less table: the partial-agg
    // readers honor the same hint
    val before4 = AvroFrameStats.bloomProbeReads.get()
    assert(readBack(plain).filter(col("id") === 9L)
      .agg(count(lit(1))).collect()(0).getLong(0) == 1L)
    assert(AvroFrameStats.bloomProbeReads.get() == before4,
      "agg splits over a bloom-less table must not probe")

    // the gate itself still works when the hint says probe (direct
    // reader, no ledger knowledge = conservative true)
    import org.apache.spark.sql.sources.EqualTo
    val seg = AvroFrames.listSegments(withB).head
    val r = new graft.sources.AvroFrameReader(Seq(seg.getAbsolutePath), Seq(None),
      schemaJson, AvroFrames.DefaultSchemaId, Array("id"), Array(EqualTo("id", -1L)))
    assert(r.bloomSkipped == 1L, "conservative probe must still block a proven miss")
    assert(AvroFrameStats.bloomProbeReads.get() > before4)
    r.close()
  }

  test("bloom sidecars prune point lookups that min/max cannot") {
    val withB = Files.createTempDirectory("bloom-on").toString
    val without = Files.createTempDirectory("bloom-off").toString
    writeHashLayout(withB, bloom = true)
    writeHashLayout(without, bloom = false)

    // sidecars carry the payloads only when asked
    val seg = AvroFrames.listSegments(withB).head
    val full = AvroFrameStats.readFull(seg).get
    assert(full._3.keySet == Set("id", "tag"), s"bloom payloads: ${full._3.keySet}")
    assert(AvroFrameStats.readFull(AvroFrames.listSegments(without).head).get._3.isEmpty)

    // without blooms the hash layout cannot prune an equality
    val (k0, n0) = segmentsPlanned(readBack(without).filter(col("id") === 1234L))
    assert(k0 == n0 && n0 == 16, s"min/max must not prune the hash layout: $k0/$n0")

    // with blooms the same lookup opens ~1 segment (fpp 1% on 15 others)
    val q1 = readBack(withB).filter(col("id") === 1234L)
    val (k1, n1) = segmentsPlanned(q1)
    assert(n1 == 16 && k1 <= 3, s"bloom lookup kept $k1/$n1, expected <= 3")
    assert(q1.collect().map(_.getLong(0)).toSeq == Seq(1234L))

    // string column too
    val qs = readBack(withB).filter(col("tag") === "tag77")
    val (ks, _) = segmentsPlanned(qs)
    assert(ks <= 3, s"string bloom kept $ks/16")
    assert(qs.collect().map(_.getLong(0)).toSeq == Seq(77L))

    // IN-list: union of per-key segments, still far under 16
    val qin = readBack(withB).filter(col("id").isin(5L, 500L, 2500L, 4000L))
    val (kin, _) = segmentsPlanned(qin)
    assert(kin <= 8, s"IN bloom kept $kin/16")
    assert(qin.collect().map(_.getLong(0)).sorted.toSeq == Seq(5L, 500L, 2500L, 4000L))

    // absent key: in-range for min/max, pruned (near-)everywhere by blooms
    val qmiss = readBack(withB).filter(col("id") === 99999999L + 0L)
    val inRange = readBack(withB).filter(col("id") === 2000L)
    assert(segmentsPlanned(inRange)._1 >= 1)
    val qmiss2 = readBack(withB).filter(col("id") === 1235L * -1L)
    assert(segmentsPlanned(qmiss2)._1 <= 2 && qmiss2.count() == 0)
    val _ = qmiss // silence
  }

  test("compaction merges blooms (fixed-size OR) and lookups keep pruning") {
    val dir = Files.createTempDirectory("bloom-compact").toString
    writeHashLayout(dir, bloom = true)
    val res = graft.sources.FrameMaintenance.compact(spark, new java.io.File(dir),
      targetBytes = AvroFrames.listSegments(dir).map(_.length()).sum / 4 + 1)
    assert(res.bins >= 3, s"expected ~4 bins, got $res")

    // merged sidecars still carry blooms
    val segs = AvroFrames.listSegments(dir)
    assert(segs.forall(s => AvroFrameStats.readFull(s).get._3.keySet == Set("id", "tag")),
      "compacted sidecars must keep merged blooms")

    val q = readBack(dir).filter(col("id") === 1234L)
    val (k, n) = segmentsPlanned(q)
    assert(k < n, s"post-compaction bloom lookup kept $k/$n")
    assert(q.collect().map(_.getLong(0)).toSeq == Seq(1234L))
  }

  test("CALL analyze retrofits blooms onto a bloom-less table and repairs lost sidecars") {
    val base = Files.createTempDirectory("bloom-analyze").toString
    val cat = "fbloom_an"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.FrameCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.base", base)
    spark.sql(s"CREATE NAMESPACE $cat.corpus")
    // created WITHOUT bloom config — the retrofit case
    spark.sql(s"CREATE TABLE $cat.corpus.t (id BIGINT NOT NULL, v DOUBLE NOT NULL)")
    spark.range(0, 2000).selectExpr("id", "CAST(id AS DOUBLE) AS v")
      .repartition(8, col("id")).createOrReplaceTempView("bloom_an_src")
    spark.sql(s"INSERT INTO $cat.corpus.t SELECT * FROM bloom_an_src")

    def lookup(): DataFrame = spark.sql(s"SELECT v FROM $cat.corpus.t WHERE id = 777")
    assert(segmentsPlanned(lookup())._1 == 8, "hash layout without blooms keeps all")

    val summary = spark.sql(s"CALL $cat.corpus.analyze(table => 'corpus.t', " +
      "bloom_columns => 'id', bloom_expected_items => 5000L)").collect()(0)
    assert(summary.getInt(0) == 8, s"expected 8 analyzed segments, got $summary")
    val (k, n) = segmentsPlanned(lookup())
    assert(n == 8 && k <= 2, s"post-analyze lookup kept $k/$n")
    assert(lookup().collect().map(_.getDouble(0)).toSeq == Seq(777.0))

    // sidecar destroyed (foreign segment) -> analyze repairs it, stats AND bloom
    val dir = new java.io.File(base, "corpus/t")
    val seg = AvroFrames.listSegments(dir.getAbsolutePath).head
    assert(new java.io.File(dir, seg.getName + ".stats").delete())
    val statsBefore = AvroFrameStats.readFull(seg)
    assert(statsBefore.isEmpty)
    spark.sql(s"CALL $cat.corpus.analyze(table => 'corpus.t', bloom_columns => 'id', " +
      "bloom_expected_items => 5000L)").collect()
    val repaired = AvroFrameStats.readFull(seg)
    assert(repaired.exists(r => r._1 > 0 && r._3.contains("id")),
      s"analyze must rebuild the sidecar: $repaired")
    // frame counts agree with a real read (the LIMIT/agg proofs depend on it)
    assert(AvroFrames.listSegments(dir.getAbsolutePath)
      .flatMap(AvroFrameStats.read).map(_._1).sum == 2000L)

    // values still exact end-to-end
    assert(spark.sql(s"SELECT count(*), sum(id) FROM $cat.corpus.t").collect()(0)
      .toSeq == Seq(2000L, (0L until 2000L).sum))
  }

  test("catalog: TBLPROPERTIES bloom config round-trips and inserts build filters") {
    val base = Files.createTempDirectory("bloom-cat").toString
    val cat = "fbloom_cat"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.FrameCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.base", base)
    spark.sql(s"CREATE NAMESPACE $cat.corpus")
    spark.sql(s"""CREATE TABLE $cat.corpus.t (id BIGINT NOT NULL, v DOUBLE NOT NULL)
      TBLPROPERTIES ('bloomColumns'='id', 'bloomExpectedItems'='5000')""")
    spark.range(0, 1000).selectExpr("id", "CAST(id AS DOUBLE) AS v")
      .repartition(8, col("id")).createOrReplaceTempView("bloom_cat_src")
    spark.sql(s"INSERT INTO $cat.corpus.t SELECT * FROM bloom_cat_src")

    val desc = spark.sql(s"DESCRIBE TABLE EXTENDED $cat.corpus.t").collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    assert(desc.get("Table Properties").exists(_.contains("bloomColumns=id")),
      s"DESCRIBE must surface the bloom config: $desc")

    val q = spark.sql(s"SELECT v FROM $cat.corpus.t WHERE id = 421")
    val (k, n) = segmentsPlanned(q)
    assert(n == 8 && k <= 2, s"catalog bloom lookup kept $k/$n")
    assert(q.collect().map(_.getDouble(0)).toSeq == Seq(421.0))

    // bad config fails at CREATE, not first INSERT
    val e = intercept[Exception] {
      spark.sql(s"""CREATE TABLE $cat.corpus.bad (id BIGINT NOT NULL, v DOUBLE NOT NULL)
        TBLPROPERTIES ('bloomColumns'='v')""")
    }
    assert(e.getMessage.contains("INT/BIGINT/STRING"))
  }
}
