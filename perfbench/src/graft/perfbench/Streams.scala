package graft.perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, StandardCopyOption}
import java.time.Instant

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.functions.{col, unix_micros}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}
import org.apache.spark.sql.types.StructType

import graft.sources.AvroFrames
import graft.streaming.{RecordStream, WindowTopK}

/** The streaming workload, `stream_live`: envelope JSON-lines files
  * read through `RecordStream.jsonDirSource` / `parseValues`, ranked by
  * `WindowTopK.admitted` and written to a frame table of the `frames`
  * catalog.
  */
object Streams {

  // open loop, one file every PeriodMs at LiveRate records/s
  val LiveRate = 1000
  val PeriodMs = 100
  val LiveWarmS = 2
  val LatencyLimitMs = 5000L
  val TopK = 3
  val WindowMs = 10000L
  val Users = 2000
  val ZipfS = 1.1

  /** A sink table's segment count, segment bytes per record and
    * statistics-ledger bytes.
    */
  private def sinkStats(ctx: Ctx, table: String, records: Long): Seq[Double] = {
    val dir = new File(ctx.work, s"frames/bench/$table")
    val segments = AvroFrames.listSegments(dir.getAbsolutePath)
    val ledger = Option(dir.listFiles()).toSeq.flatten
      .filter(f => f.getName.contains("ledger") || f.getName.endsWith(".delta.jsonl"))
    Seq(segments.length.toDouble, segments.map(_.length()).sum.toDouble / math.max(1L, records),
      ledger.map(_.length()).sum.toDouble)
  }

  /** Trigger spans (start = progress timestamp, end = start +
    * triggerExecution) so listener jobs can be attributed to triggers.
    * Each carries its progress phases and `other_ms`, the part of the
    * trigger no phase covers.
    */
  private def triggerSpans(t: Tracer, progress: Seq[StreamingQueryProgress]): Seq[Span] =
    progress.map { p =>
      val start = Instant.parse(p.timestamp).toEpochMilli
      val end = start + p.durationMs.get("triggerExecution").longValue()
      val phases = p.durationMs.asScala.toMap.map { case (k, v) => k -> v.longValue() }
      val id = t.add(s"trigger ${p.batchId}", "streaming", 0L, start, end,
        phases.map { case (k, v) => s"${k}_ms" -> v } ++ Map("input_rows" -> p.numInputRows,
          "other_ms" -> (phases("triggerExecution") - (phases - "triggerExecution").values.sum)))
      Span(id, 0L, s"trigger ${p.batchId}", "streaming", start, end)
    }

  def live(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    spark.sql("CREATE NAMESPACE IF NOT EXISTS frames.bench")
    val info = Seq.newBuilder[String]
    val perFile = LiveRate * PeriodMs / 1000
    ctx.step("session")

    // warm the plan (codegen, state store) on a short separate feed
    val warmDir = new File(ctx.work, "live-warm")
    val warm = new Generator(warmDir, new File(ctx.work, "stage-warm"), perFile, ctx.seed + 1)
    (0 until 20).foreach(k => warm.writeFile(k, System.currentTimeMillis()))
    topK(spark, warmDir.getAbsolutePath, new File(ctx.work, "ck-warm"), "live_warm", Trigger.AvailableNow())
      .awaitTermination()
    ctx.step("warm drain")

    val dir = new File(ctx.work, "live")
    dir.mkdirs()
    val gen = new Generator(dir, new File(ctx.work, "stage"), perFile, ctx.seed)
    val q = topK(spark, dir.getAbsolutePath, new File(ctx.work, "ck-live"), "live",
      Trigger.ProcessingTime(1000))
    // ProcessingTime triggers fire on multiples of 1000 ms since the
    // epoch; files fall due 50 ms past that grid, so every run has the
    // same phase between feed and triggers
    val t0 = (System.currentTimeMillis() / 1000 + 1) * 1000 + 50
    gen.startAt(t0)
    def sleepUntil(t: Long): Unit = while (System.currentTimeMillis() < t) Thread.sleep(20)
    val measureFrom = t0 + LiveWarmS * 1000L
    sleepUntil(measureFrom)
    val setupS = ctx.sinceStartS

    // the timed windows pace the feed; the tracer listens through the traced ones
    val bounds = ctx.windows.scanLeft(measureFrom)((from, w) => from + (w.seconds * 1000).toLong)
    val tracedFrom = bounds(math.max(0, ctx.windows.indexWhere(_.tracer.isDefined)))
    val tracedUntil = bounds(ctx.windows.lastIndexWhere(_.tracer.isDefined) + 1)
    ctx.tracer.foreach { t =>
      sleepUntil(tracedFrom); t.register()
      sleepUntil(tracedUntil); t.unregister()
    }
    val feedEnd = bounds.last
    sleepUntil(feedEnd)
    gen.stopAndJoin()
    val fed = gen.files.size.toLong * perFile
    val drainBy = System.currentTimeMillis() + LatencyLimitMs + 5000
    def committed = q.recentProgress.map(_.numInputRows).sum
    while (committed < fed && System.currentTimeMillis() < drainBy) Thread.sleep(50)
    val memoryMb = Session.memoryMb()
    q.stop()
    val progress = q.recentProgress.toSeq

    // batch b committed the files after the previous batches' rows
    val ends = ArrayBuffer.empty[(Long, Long, Long)] // (first file, end file, end ms)
    var rows = 0L
    var misaligned = 0L
    for (p <- progress if p.numInputRows > 0) {
      if (p.numInputRows % perFile != 0) misaligned += 1
      val start = Instant.parse(p.timestamp).toEpochMilli
      ends += ((rows / perFile, (rows + p.numInputRows) / perFile,
        start + p.durationMs.get("triggerExecution").longValue()))
      rows += p.numInputRows
    }
    val fileCommit = gen.files.map { f =>
      ends.find(e => f.index >= e._1 && f.index < e._2).map(_._3)
    }
    val measured = gen.files.indices.filter(i => gen.files(i).due >= measureFrom && gen.files(i).due < feedEnd)
    val latencies = measured.flatMap(i =>
      Seq.fill(perFile)(fileCommit(i).map(c => (c - gen.files(i).due).toDouble).getOrElse(Double.PositiveInfinity)))
    val late = latencies.count(_ > LatencyLimitMs) + misaligned
    if (late > 0) info += s"$late records not committed within $LatencyLimitMs ms (misaligned batches: $misaligned)"

    // the sink must equal WindowTopK over the same files in one drain
    topK(spark, dir.getAbsolutePath, new File(ctx.work, "ck-ref"), "live_ref", Trigger.AvailableNow())
      .awaitTermination()
    val diff = spark.sql("""SELECT
        (SELECT count(*) FROM (SELECT * FROM frames.bench.live EXCEPT ALL SELECT * FROM frames.bench.live_ref)),
        (SELECT count(*) FROM (SELECT * FROM frames.bench.live_ref EXCEPT ALL SELECT * FROM frames.bench.live)),
        (SELECT count(*) FROM frames.bench.live)""").head()
    val mismatched = diff.getLong(0) + diff.getLong(1)
    if (mismatched > 0) info += s"sink differs from the one-drain reference in $mismatched rows"
    info += s"live: fed ${fed} records, ${diff.getLong(2)} admitted, generator late max ${gen.lateMs.max} ms"

    val triggers = (from: Long, until: Long) => progress.filter { p =>
      val s = Instant.parse(p.timestamp).toEpochMilli
      p.numInputRows > 0 && s >= from && s < until
    }
    val triggerMs = (from: Long, until: Long) =>
      triggers(from, until).map(_.durationMs.get("triggerExecution").toDouble)
    // processing rate while busy: records over the time triggers ran
    val busy = triggers(measureFrom, feedEnd)
    val throughput = busy.map(_.numInputRows).sum /
      math.max(1e-3, busy.map(_.durationMs.get("triggerExecution").longValue()).sum / 1000.0)
    val unitS = bounds.sliding(2).map { case Seq(from, until) => triggerMs(from, until).map(_ / 1000.0) }.toSeq

    val layers = ctx.tracer.map { t =>
      val traced = t.progress.toSeq.filter { p =>
        val s = Instant.parse(p.timestamp).toEpochMilli
        p.numInputRows > 0 && s >= tracedFrom && s < tracedUntil
      }
      val lag = traced.map { p =>
        val s = Instant.parse(p.timestamp).toEpochMilli
        val visible = gen.files.count(_.visible <= s)
        val done = ends.takeWhile(_._3 <= s).lastOption.map(_._2).getOrElse(0L)
        (visible - done).toDouble
      }
      val Seq(segments, bytesPerRecord, ledgerBytes) = sinkStats(ctx, "live", diff.getLong(2))
      val out = t.layerMetrics(triggerSpans(t, traced), 1) ++ StreamLayers.progress(traced, lag, 1) ++
        StreamLayers.state(traced) ++ Map(
          "bench.generator_late_ms" -> gen.lateMs.max.toDouble,
          "sources.segments_written" -> segments,
          "sources.bytes_per_record" -> bytesPerRecord,
          "sources.ledger_bytes" -> ledgerBytes)
      t.write(ctx.traceFile, Seq(out))
      out
    }.getOrElse(Map.empty)
    Outcome(latencies.size, late + mismatched, setupS, memoryMb, latencies, throughput, unitS, layers, info.result())
  }

  /** jsonDirSource → parseValues → WindowTopK.admitted → frame table. */
  private def topK(spark: SparkSession, dir: String, ck: File, table: String, trigger: Trigger): StreamingQuery = {
    spark.sql(s"""CREATE TABLE frames.bench.$table (user_id BIGINT, event_id BIGINT, ts_us BIGINT,
      value DOUBLE, rank_at_admission INT, topk_size INT)""")
    val events = RecordStream.parseValues(RecordStream.jsonDirSource(spark, dir),
        StructType.fromDDL(graft.streaming.Pipeline.topkSchemaDdl))
      .withWatermark("ts", "0 seconds")
      .as[WindowTopK.ValuedEvent](Encoders.product)
    WindowTopK.admitted(events, TopK, WindowMs).toDF()
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts_us"), col("value"),
        col("rank_at_admission"), col("topk_size"))
      .writeStream
      .option("checkpointLocation", ck.getAbsolutePath)
      .trigger(trigger)
      .toTable(s"frames.bench.$table")
  }

  final case class FedFile(index: Long, due: Long, visible: Long)

  /** Open-loop generator: file k is due at t0 + k × PeriodMs and holds
    * `perFile` records stamped with that due time, each with a
    * Zipf-skewed user id drawn from the seed. Files are written under
    * `stage` and renamed into `dir`, so the source never sees a partial
    * file.
    */
  final class Generator(dir: File, stage: File, perFile: Int, seed: Long) {
    dir.mkdirs(); stage.mkdirs()
    val files = ArrayBuffer.empty[FedFile]
    val lateMs = ArrayBuffer(0L)
    private val rnd = new java.util.SplittableRandom(seed)
    private val cdf = {
      val w = (1 to Users).map(r => 1.0 / math.pow(r, ZipfS))
      w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
    }
    @volatile private var stop = false
    private var thread: Thread = _

    def writeFile(k: Long, due: Long): Long = {
      val ts = Instant.ofEpochMilli(due).toString
      val sb = new StringBuilder
      for (j <- 0 until perFile) {
        val id = k * perFile + j
        val x = rnd.nextDouble()
        val user = java.util.Arrays.binarySearch(cdf, x) match { case i if i >= 0 => i; case i => -i - 1 }
        val value = math.round(rnd.nextDouble() * 100000) / 100.0
        val v = s"""{"user_id":$user,"event_id":$id,"ts":"$ts","value":$value}"""
        sb.append(s"""{"key":"$user","value":${Json.value(v)},"topic":"events","partition":0,"offset":$id,"timestamp":"$ts"}""")
          .append('\n')
      }
      val name = f"part-$k%08d.json"
      val tmp = new File(stage, name)
      Files.write(tmp.toPath, sb.toString.getBytes(StandardCharsets.UTF_8))
      Files.move(tmp.toPath, new File(dir, name).toPath, StandardCopyOption.ATOMIC_MOVE)
      System.currentTimeMillis()
    }

    def startAt(t0: Long): Unit = {
      thread = new Thread(() => {
        var k = 0L
        while (!stop) {
          val due = t0 + k * PeriodMs
          val wait = due - System.currentTimeMillis()
          if (wait > 0) Thread.sleep(wait)
          if (!stop) {
            val visible = writeFile(k, due)
            files.synchronized { files += FedFile(k, due, visible); lateMs += visible - due }
            k += 1
          }
        }
      }, "perfbench-generator")
      thread.setDaemon(true)
      thread.start()
    }

    def stopAndJoin(): Unit = { stop = true; thread.join() }
  }
}

/** Per-layer metrics read from trigger progress. */
object StreamLayers {
  private def pm(progress: Seq[StreamingQueryProgress], key: String): Seq[Double] =
    progress.map(p => Option(p.durationMs.get(key)).map(_.toDouble).getOrElse(0.0))

  private def p50max(name: String, xs: Seq[Double]): Map[String, Double] =
    Map(s"$name.p50" -> Stats.median(xs), s"$name.max" -> (if (xs.isEmpty) 0.0 else xs.max))

  def progress(progress: Seq[StreamingQueryProgress], lagFiles: Seq[Double], units: Double): Map[String, Double] =
    Map("streaming.triggers" -> progress.size / units) ++
      p50max("streaming.records_per_trigger", progress.map(_.numInputRows.toDouble)) ++
      p50max("streaming.trigger_ms", pm(progress, "triggerExecution")) ++
      p50max("streaming.latest_offset_ms", pm(progress, "latestOffset")) ++
      p50max("streaming.query_planning_ms", pm(progress, "queryPlanning")) ++
      p50max("streaming.add_batch_ms", pm(progress, "addBatch")) ++
      p50max("streaming.wal_commit_ms", pm(progress, "walCommit")) ++
      p50max("streaming.commit_offsets_ms", pm(progress, "commitOffsets")) ++
      p50max("streaming.source_lag_files", lagFiles)

  def state(progress: Seq[StreamingQueryProgress]): Map[String, Double] = {
    val ops = progress.map(_.stateOperators.toSeq)
    Map(
      "streaming.state_rows" -> ops.lastOption.map(_.map(_.numRowsTotal).sum.toDouble).getOrElse(0.0),
      "streaming.state_mb" -> ops.lastOption.map(_.map(_.memoryUsedBytes).sum / 1048576.0).getOrElse(0.0),
      "streaming.state_commit_ms" -> Stats.median(ops.map(_.map(_.commitTimeMs).sum.toDouble)),
      "streaming.state_rows_updated" -> ops.map(_.map(_.numRowsUpdated).sum.toDouble).sum)
  }
}
