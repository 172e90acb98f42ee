package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.AvroFrames

/** Round-14 scan rungs: TopN pushdown (bounded per-split heaps) and
  * DSv2 custom metrics (segments planned/pruned, frames
  * emitted/malformed).
  */
class FrameScanSpec extends AnyFunSuite with SparkFixture {

  private val schemaJson = AvroFrames.avroSchemaFor(
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("tag", org.apache.spark.sql.types.StringType, nullable = true),
      org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.DoubleType, nullable = false))),
    "t")

  private def writeFixture(dir: String): Unit =
    spark.range(0, 1000)
      .selectExpr("id", "IF(id % 10 = 0, NULL, CONCAT('t', LPAD(CAST(id AS STRING), 4, '0'))) AS tag",
        "CAST((id * 37) % 1000 AS DOUBLE) AS v")
      .repartitionByRange(8, col("id"))
      .write.format("graft.sources.AvroFrameDataSource")
      .option("path", dir).option("avroSchema", schemaJson)
      .mode("append").save()

  private def readBack(dir: String): DataFrame =
    spark.read.format("graft.sources.AvroFrameDataSource")
      .option("path", dir).option("avroSchema", schemaJson).load()

  test("TopN pushdown: plan line, exact parity with unpushed, null orderings, DESC") {
    val dir = Files.createTempDirectory("topn").toString
    writeFixture(dir)

    // multi-key DESC/ASC
    val q = readBack(dir).orderBy(col("v").desc, col("id").asc).limit(7)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedTopN=[v DESC,id ASC] LIMIT 7"),
      s"TopN must reach the scan:\n$plan")
    val got = q.collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    val expected = (0L until 1000L).map(i => (i, (i * 37 % 1000).toDouble))
      .sortBy { case (id, v) => (-v, id) }.take(7)
    assert(got == expected)

    // nullable key, NULLS FIRST (asc default) and NULLS LAST
    val nf = readBack(dir).orderBy(col("tag").asc_nulls_first, col("id")).limit(5)
    assert(nf.queryExecution.executedPlan.toString.contains("PushedTopN=[tag ASC,id ASC]"))
    assert(nf.collect().map(_.getLong(0)).toSeq == Seq(0L, 10L, 20L, 30L, 40L),
      "NULLS FIRST must surface the null-tag rows")
    val nl = readBack(dir).orderBy(col("tag").asc_nulls_last, col("id")).limit(3)
    assert(nl.collect().map(r => Option(r.getString(1))).toSeq ==
      Seq(Some("t0001"), Some("t0002"), Some("t0003")))

    // with a pushed filter: heap sees only matching rows
    val f = readBack(dir).filter(col("v") >= 500.0).orderBy(col("v").asc, col("id")).limit(4)
    val fGot = f.collect().map(r => (r.getDouble(2), r.getLong(0))).toSeq
    val fExp = (0L until 1000L).map(i => ((i * 37 % 1000).toDouble, i))
      .filter(_._1 >= 500.0).sorted.take(4)
    assert(fGot == fExp)
  }

  test("metadata tables: cat.ns.t.segments and cat.ns.t.history inspect the log") {
    val base = Files.createTempDirectory("meta-tables").toString
    val cat = "fmeta_cat"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.FrameCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.base", base)
    spark.sql(s"CREATE NAMESPACE $cat.corpus")
    spark.sql(s"CREATE TABLE $cat.corpus.t (id BIGINT NOT NULL, v DOUBLE NOT NULL)")
    (0 until 2).foreach { k =>
      spark.range(k * 10, k * 10 + 10).coalesce(1)
        .selectExpr("id", "CAST(id AS DOUBLE) AS v")
        .createOrReplaceTempView(s"meta_src_$k")
      spark.sql(s"INSERT INTO $cat.corpus.t SELECT * FROM meta_src_$k")
    }
    spark.sql(s"CALL $cat.corpus.compact(table => 'corpus.t')")
    spark.sql(s"DELETE FROM $cat.corpus.t WHERE id < 5")

    val segs = spark.sql(s"SELECT name, location, frames FROM $cat.corpus.t.segments")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    // live: the delete-rewritten compacted segment; history: the two
    // originals + the pre-delete compacted segment
    assert(segs.count(_._2 == "live") == 1 && segs.count(_._2 == "history") == 3,
      s"got ${segs.toSeq}")
    assert(segs.filter(_._2 == "live").map(_._3).sum == 15L)
    assert(spark.sql(s"SELECT sum(frames) FROM $cat.corpus.t.segments " +
      "WHERE location = 'live'").collect()(0).getLong(0) == 15L)

    val hist = spark.sql(s"SELECT version, kind FROM $cat.corpus.t.history")
      .collect().map(r => (if (r.isNullAt(0)) None else Some(r.getInt(0)), r.getString(1)))
    assert(hist.toSeq == Seq(
      (Some(1), "append"), (Some(2), "append"), (None, "compact"), (Some(3), "delete")),
      s"got ${hist.toSeq}")

    // unknown metadata name / deep paths stay NoSuchTable
    intercept[Exception](spark.sql(s"SELECT * FROM $cat.corpus.t.nonsense").collect())
  }

  test("custom metrics: segments planned/pruned and frames emitted/malformed") {
    val dir = Files.createTempDirectory("metrics").toString
    writeFixture(dir)
    // a range filter on the id-sliced layout prunes most segments;
    // row-shaped read (an aggregate would push into the scan and use
    // the agg reader, which reports no per-frame metrics)
    val q = readBack(dir).filter(col("id") < 100L).select("id", "v")
    assert(q.collect().length == 100)

    def scans(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.datasources.v2.BatchScanExec] = p match {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => Seq(b)
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        scans(a.executedPlan)
      case s: org.apache.spark.sql.execution.adaptive.QueryStageExec => scans(s.plan)
      case other => other.children.flatMap(scans)
    }
    val scan = scans(q.queryExecution.executedPlan).headOption
      .getOrElse(fail("no BatchScanExec in plan"))
    // metric updates ride listener events; poll until they land
    val deadline = System.currentTimeMillis() + 30000
    while (scan.metrics("frames_emitted").value == 0 &&
           System.currentTimeMillis() < deadline) Thread.sleep(100)
    val m = scan.metrics
    assert(m.contains("segments_planned") && m.contains("segments_pruned") &&
      m.contains("frames_emitted") && m.contains("frames_malformed"),
      s"custom metrics missing: ${m.keySet}")
    assert(m("segments_planned").value >= 1 && m("segments_planned").value < 8,
      s"planned=${m("segments_planned").value}")
    assert(m("segments_planned").value + m("segments_pruned").value == 8)
    // pushed filter drops non-matching frames pre-materialization
    assert(m("frames_emitted").value == 100L, s"emitted=${m("frames_emitted").value}")
    assert(m("frames_malformed").value == 0L)
  }

  /** Round 15: the plain row scan ships ColumnarBatches — Spark plans
    * a ColumnarToRow above the scan and every value (nulls, strings
    * with NULL tags, doubles, metadata columns, pushed filters, limit,
    * multi-file bucket chains) round-trips exactly equal to the row
    * path.
    */
  test("columnar read path: executed plan is columnar and value-identical to the row path") {
    val dir = Files.createTempDirectory("columnar").toString
    writeFixture(dir)

    val cols = readBack(dir)
    val plan = cols.queryExecution.executedPlan.toString
    assert(plan.contains("ColumnarToRow"),
      s"plain frame scans must read columnar:\n$plan")

    // the row path, read directly: the row reader over every segment
    def rowPath(cols: Array[String], pushed: Array[org.apache.spark.sql.sources.Filter])
        : Seq[org.apache.spark.sql.catalyst.InternalRow] = {
      val r = new graft.sources.AvroFrameReader(
        AvroFrames.listSegments(dir).map(_.getAbsolutePath).toSeq, Seq.empty,
        schemaJson, AvroFrames.DefaultSchemaId, cols, pushed)
      val out = Seq.newBuilder[org.apache.spark.sql.catalyst.InternalRow]
      while (r.next()) out += r.get()
      r.close()
      out.result()
    }
    def str(r: org.apache.spark.sql.catalyst.InternalRow, i: Int): String =
      if (r.isNullAt(i)) null else r.getUTF8String(i).toString
    val rows = rowPath(Array("id", "tag", "v"), Array.empty)
      .map(r => (r.getLong(0), str(r, 1), r.getDouble(2))).sortBy(_._1)

    def canon(df: DataFrame): Seq[(Long, String, Double)] =
      df.collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) null else r.getString(1), r.getDouble(2))).sortBy(_._1).toSeq
    assert(canon(cols) == rows)
    assert(cols.count() == 1000)

    // pushed filter + projection + metadata columns through the
    // columnar reader
    val proj = cols.filter(col("v") >= 500.0)
      .select(col("id"), col("tag"), col("_segment"), col("_frame_offset"))
    val projRows = rowPath(Array("id", "tag", "_segment", "_frame_offset"),
      Array(org.apache.spark.sql.sources.GreaterThanOrEqual("v", 500.0)))
      .map(r => (r.getLong(0), str(r, 1), str(r, 2), r.getLong(3))).sortBy(_._1)
    assert(proj.queryExecution.executedPlan.toString.contains("ColumnarToRow"))
    def canon4(df: DataFrame): Seq[(Long, String, String, Long)] =
      df.collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) null else r.getString(1), r.getString(2), r.getLong(3)))
        .sortBy(_._1).toSeq
    assert(canon4(proj) == projRows && projRows.nonEmpty)

    // pushed aggregates and TopN stay row-shaped (summary/heap output)
    val agg = cols.agg(count(lit(1)), min("v"), max("v"))
    assert(!agg.queryExecution.executedPlan.toString.contains("ColumnarToRow"))
    assert(agg.collect()(0).getLong(0) == 1000)
    val topn = cols.orderBy(col("v").desc, col("id")).limit(5)
    assert(topn.collect().length == 5)

    // deletion vector applied inside the columnar reader
    val del: Seq[Long] = (0L until 1000L).filter(_ % 97 == 0)
    graft.sources.FrameMaintenance.deleteWhereMoR(spark, new java.io.File(dir),
      schemaJson, AvroFrames.DefaultSchemaId,
      Array(org.apache.spark.sql.sources.In("id", del.map(x => Long.box(x): Any).toArray)))
    val after = readBack(dir)
    assert(after.queryExecution.executedPlan.toString.contains("ColumnarToRow"))
    assert(after.count() == 1000 - del.length)
    assert(canon(after).map(_._1) == (0L until 1000L).filterNot(del.contains))
  }

  /** The row and columnar readers walk a bucket chain identically: one
    * split of three segments — a deletion vector on the first, a
    * bloom-blocked middle, junk frames (wrong magic, unknown schema id,
    * truncated body) in the last — yields the same rows and the same
    * three task metrics through both factory entry points.
    */
  test("row and columnar chain readers agree on rows and task metrics") {
    import graft.sources.{AvroFrameBucketPartition, AvroFrameReaderFactory, AvroFrameWrite, FrameDv}
    import graft.streaming.AvroRecords
    import org.apache.spark.sql.sources.EqualTo
    val dir = Files.createTempDirectory("chain-parity").toFile
    val avro = new org.apache.avro.Schema.Parser().parse(schemaJson)
    def frame(id: Long, tag: String): Array[Byte] = {
      val r = new org.apache.avro.generic.GenericData.Record(avro)
      r.put("id", id); r.put("tag", tag); r.put("v", id * 0.5)
      AvroFrames.frameRecord(AvroFrames.DefaultSchemaId, r)
    }
    def segment(name: String, frames: Seq[Array[Byte]]): String = {
      val f = new java.io.File(dir, name)
      AvroFrames.writeSegment(f, frames.iterator)
      f.getAbsolutePath
    }
    // 1: ten rows, positions 2 and 5 deleted by a vector
    val withDv = segment("segment-a.bin", (0L until 10L).map(frame(_, "x")))
    val dv = new java.io.File(dir, "segment-a.bin.dv1")
    FrameDv.write(dv, Array(2, 5))
    // 2: every row tagged "y", and a sidecar whose tag bloom proves it
    val blocked = segment("segment-b.bin", (20L until 30L).map(frame(_, "y")))
    val bloom = org.apache.spark.util.sketch.BloomFilter.create(100, AvroFrameWrite.BloomFpp)
    bloom.putString("y")
    val tagStats = new AvroFrameWrite.FieldStats
    tagStats.observe("y")
    java.nio.file.Files.writeString(new java.io.File(blocked + ".stats").toPath,
      AvroFrameWrite.statsJson(10L, Seq("tag" -> tagStats),
        Map("tag" -> AvroFrameWrite.bloomToB64(bloom))))
    // 3: five good rows around three junk frames
    val junk = segment("segment-c.bin", Seq(frame(40L, "x"), frame(41L, "x"),
      Array[Byte](1, 0, 0, 0, 7),
      AvroRecords.frame(99, Array[Byte](2)),
      AvroRecords.frame(AvroFrames.DefaultSchemaId, Array[Byte](0x7f.toByte)),
      frame(42L, "x"), frame(43L, "x"), frame(44L, null)))

    val cols = Array("id", "tag", "v", AvroFrames.SegmentMetaCol, AvroFrames.OffsetMetaCol)
    val split = AvroFrameBucketPartition(Seq(withDv, blocked, junk), 0,
      Seq(Some(dv.getAbsolutePath), None, None))
    val factory = new AvroFrameReaderFactory(schemaJson, AvroFrames.DefaultSchemaId, cols,
      Array(EqualTo("tag", "x")), columnar = true)
    assert(factory.supportColumnarReads(split))
    type Out = (Long, String, Double, String, Long)
    def out(r: org.apache.spark.sql.catalyst.InternalRow): Out =
      (r.getLong(0), if (r.isNullAt(1)) null else r.getUTF8String(1).toString,
        r.getDouble(2), r.getUTF8String(3).toString, r.getLong(4))
    def metrics(ms: Array[org.apache.spark.sql.connector.metric.CustomTaskMetric]) =
      ms.map(m => m.name -> m.value).toMap

    val rowReader = factory.createReader(split)
    val rows = Seq.newBuilder[Out]
    while (rowReader.next()) rows += out(rowReader.get())
    val rowMetrics = metrics(rowReader.currentMetricsValues())
    rowReader.close()

    val colReader = factory.createColumnarReader(split)
    val colRows = Seq.newBuilder[Out]
    while (colReader.next()) {
      val it = colReader.get().rowIterator()
      while (it.hasNext) colRows += out(it.next())
    }
    val colMetrics = metrics(colReader.currentMetricsValues())
    colReader.close()

    val expected = (Seq(0L, 1L, 3L, 4L, 6L, 7L, 8L, 9L).map(i =>
        (i, "x", i * 0.5, "segment-a.bin", i)) ++
      Seq((40L, 0L), (41L, 1L), (42L, 5L), (43L, 6L)).map { case (i, off) =>
        (i, "x", i * 0.5, "segment-c.bin", off) })
    assert(rows.result() == expected)
    assert(colRows.result() == expected)
    assert(rowMetrics == Map("frames_emitted" -> 12L, "frames_malformed" -> 3L,
      "segments_bloom_skipped" -> 1L), s"row chain: $rowMetrics")
    assert(colMetrics == rowMetrics, s"columnar chain: $colMetrics")
  }

  /** Round 15: LIKE pushdown. StartsWith prunes segments via sidecar
    * prefix bounds; EndsWith/Contains row-filter exactly (3VL on NULL
    * tags). Parity with the unpushed plans everywhere.
    */
  test("LIKE pushdown: StartsWith prunes by prefix bounds; all three shapes row-exact") {
    val dir = Files.createTempDirectory("like").toString
    writeFixture(dir) // tags t0001..t0999 ordered with id, NULLs at id%10==0

    val df = readBack(dir)
    def canon(q: DataFrame): Seq[Long] =
      q.select("id").collect().map(_.getLong(0)).sorted.toSeq
    def unpushed(pred: org.apache.spark.sql.Column): Seq[Long] =
      canon(readBack(dir).withColumn("keep", pred).filter(col("keep")).drop("keep"))

    // StartsWith: pushed AND pruned (tags ordered with id: one octile)
    val sw = df.filter(col("tag").startsWith("t09"))
    val plan = sw.queryExecution.executedPlan.toString
    assert(plan.contains("StringStartsWith"),
      s"LIKE 'p%' must push into the scan:\n$plan")
    val seg = "Segments=(\\d+)/(\\d+)".r.findFirstMatchIn(plan).get
    assert(seg.group(1).toInt <= 2 && seg.group(2).toInt == 8,
      s"prefix bounds must prune most segments: ${seg.matched}")
    assert(canon(sw) == unpushed(col("tag").startsWith("t09")) && canon(sw).nonEmpty)

    // EndsWith / Contains: pushed row filters, exact vs unpushed
    val ew = df.filter(col("tag").endsWith("7"))
    assert(ew.queryExecution.executedPlan.toString.contains("StringEndsWith"))
    assert(canon(ew) == unpushed(col("tag").endsWith("7")) && canon(ew).nonEmpty)
    val ct = df.filter(col("tag").contains("055"))
    assert(ct.queryExecution.executedPlan.toString.contains("StringContains"))
    assert(canon(ct) == unpushed(col("tag").contains("055")) && canon(ct).nonEmpty)

    // 3VL: NOT LIKE must drop NULL tags exactly like Spark's own filter
    val nn = df.filter(!col("tag").startsWith("t0"))
    assert(canon(nn) == unpushed(!col("tag").startsWith("t0")))
    assert(canon(nn).isEmpty || canon(nn).forall(_ % 10 != 0))
  }
}
