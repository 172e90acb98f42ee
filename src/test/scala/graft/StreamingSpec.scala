package graft

import java.nio.file.Files
import java.time.Instant
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.{RecordStream, Sessionize}

/** Streaming capability specs — the reference's test scenarios
  * (`ProcessorTest.java:49-129`, `KafkaTestExample.java`) rebuilt on
  * Structured Streaming with real assertions (the reference asserted
  * nothing). MemoryStream replaces the embedded Kafka cluster; the
  * file-source test replaces topic produce/consume; checkpoint restart
  * replaces (and fixes) the reference's broken recovery factory.
  */
class StreamingSpec extends AnyFunSuite with SparkFixture {

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  test("testschema record round-trip: json value parse → memory sink (ProcessorTest equivalent)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[(String, String)]
    val records = in.toDF().toDF("key", "value")
    val parsed = RecordStream.parseValues(records, RecordStream.testschema)
    val q = RecordStream.startSink(parsed, "memory", "testschema_sink", tmp("ck-ts"), 100L)
    in.addData(("key", """{"name":"Gilberto","age":59}"""))
    q.processAllAvailable()
    val rows = spark.table("testschema_sink").collect()
    q.stop()
    assert(rows.length == 1)
    assert(rows(0).getAs[String]("key") == "key")
    assert(rows(0).getAs[String]("name") == "Gilberto")
    assert(rows(0).getAs[Int]("age") == 59)
  }

  test("nullable age (avro union [int,null] equivalent) parses as null") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[(String, String)]
    val parsed = RecordStream.parseValues(in.toDF().toDF("key", "value"), RecordStream.testschema)
    val q = RecordStream.startSink(parsed, "memory", "null_age_sink", tmp("ck-na"), 100L)
    in.addData(("k1", """{"name":"NoAge"}"""), ("k2", "not-json-at-all"))
    q.processAllAvailable()
    val rows = spark.table("null_age_sink").collect().sortBy(_.getString(0))
    q.stop()
    assert(rows.length == 2)
    assert(rows(0).getString(1) == "NoAge" && rows(0).isNullAt(2))
    assert(rows(1).isNullAt(1) && rows(1).isNullAt(2)) // malformed → null struct, not a crash
  }

  test("file source + checkpoint: restart resumes from offset log, exactly-once to file sink") {
    // The memory sink rejects checkpoint recovery by design; the
    // fault-tolerant path is a file sink, whose commit log makes the
    // whole pipeline exactly-once across restarts.
    val srcDir = tmp("src"); val ckDir = tmp("ck-restart"); val outDir = tmp("out-restart")
    def writeFile(n: String, lines: Seq[String]): Unit =
      Files.write(java.nio.file.Paths.get(srcDir, n),
        String.join("\n", lines: _*).getBytes)

    writeFile("batch1.json", Seq(
      """{"key":"a","value":"{\"name\":\"N1\",\"age\":1}","topic":"t","partition":0,"offset":0,"timestamp":"2024-01-01T00:00:00Z"}""",
      """{"key":"b","value":"{\"name\":\"N2\",\"age\":2}","topic":"t","partition":0,"offset":1,"timestamp":"2024-01-01T00:00:01Z"}"""))

    val src1 = RecordStream.jsonDirSource(spark, srcDir)
    val parsed1 = RecordStream.parseValues(src1, RecordStream.testschema)
    val q1 = RecordStream.startSink(parsed1, "parquet", "restart_q1", ckDir, 100L,
      outputPath = Some(outDir))
    q1.processAllAvailable()
    q1.stop()
    assert(spark.read.parquet(outDir).count() == 2)

    // New file arrives while "down"; a re-declared query on the same
    // checkpoint resumes from the offset log — batch1 is NOT reprocessed.
    writeFile("batch2.json", Seq(
      """{"key":"c","value":"{\"name\":\"N3\",\"age\":3}","topic":"t","partition":0,"offset":2,"timestamp":"2024-01-01T00:00:02Z"}"""))
    val src2 = RecordStream.jsonDirSource(spark, srcDir)
    val parsed2 = RecordStream.parseValues(src2, RecordStream.testschema)
    val q2 = RecordStream.startSink(parsed2, "parquet", "restart_q2", ckDir, 100L,
      outputPath = Some(outDir))
    q2.processAllAvailable()
    q2.stop()
    val names = spark.read.parquet(outDir).collect().map(_.getAs[String]("name")).toSeq.sorted
    assert(names == Seq("N1", "N2", "N3"), s"exactly-once violated: $names")
  }

  test("a checkpoint written under Hadoop's file: binding resumes exactly once under graft's, and back") {
    // the offset, commit, source and state-store logs (with their .crc
    // sidecars) of one binding must read back under the other
    import graft.fs.{LocalFs, NioLocalFs}
    for ((first, second) <- Seq(Some(LocalFs.HadoopLocalFs) -> None, None -> Some(LocalFs.HadoopLocalFs))) {
      val srcDir = tmp("src-bind"); val ckDir = tmp("ck-bind"); val outDir = tmp("out-bind")
      def write(n: Int, key: String): Unit =
        Files.write(java.nio.file.Paths.get(srcDir, s"part-$n.json"),
          s"""{"key":"$key","value":"{\\"name\\":\\"N$n\\",\\"age\\":$n}","topic":"t","partition":0,"offset":$n,"timestamp":"2024-01-01T00:00:00Z"}""".getBytes)
      def run(binding: Option[String]): Unit = withRocksDb {
        val prev = spark.conf.getOption(LocalFs.Key)
        binding.fold(spark.conf.unset(LocalFs.Key))(spark.conf.set(LocalFs.Key, _))
        try {
          val src = RecordStream.jsonDirSource(spark, srcDir, maxFilesPerTrigger = 1)
          assert(spark.conf.get(LocalFs.Key) == binding.getOrElse(classOf[NioLocalFs].getName))
          val q = RecordStream.startSink(
            RecordStream.parseValues(src, RecordStream.testschema).dropDuplicates("key"),
            "parquet", "binding_q", ckDir, 100L, outputPath = Some(outDir))
          q.processAllAvailable(); q.stop()
        } finally prev.fold(spark.conf.unset(LocalFs.Key))(spark.conf.set(LocalFs.Key, _))
      }
      write(0, "a"); write(1, "b")
      run(first)
      write(2, "c"); write(3, "a") // "a" again: the resumed dedup state must drop it
      run(second)
      val names = spark.read.parquet(outDir).collect().map(_.getAs[String]("name")).toSeq.sorted
      assert(names == Seq("N0", "N1", "N2"), s"exactly-once violated ($first then $second): $names")
      assert(new java.io.File(ckDir, "commits").list().count(_.forall(_.isDigit)) == 4)
    }
  }

  test("every stateful entry point sets RocksDB with changelog checkpointing, and keeps an explicit value") {
    import org.apache.spark.sql.SparkSession
    import graft.streaming._
    import RocksDbState.{ChangelogKey, Provider, ProviderKey}
    val entryPoints: Seq[(String, SparkSession => Unit)] = Seq(
      "WindowTopK.admitted" -> { s => implicit val ctx = s.sqlContext; import s.implicits._
        WindowTopK.admitted(MemoryStream[WindowTopK.ValuedEvent].toDS().withWatermark("ts", "0 seconds"), 3, 1000L) },
      "SlidingDistinct.stamped" -> { s => implicit val ctx = s.sqlContext; import s.implicits._
        SlidingDistinct.stamped(MemoryStream[CooldownDedup.KeyedEvent].toDS().withWatermark("ts", "0 seconds"), 1000L) },
      "EwmaMonitor.scored" -> { s => implicit val ctx = s.sqlContext; import s.implicits._
        EwmaMonitor.scored(MemoryStream[EwmaMonitor.MetricEvent].toDS().withWatermark("ts", "0 seconds")) },
      "Sessionize.sessions" -> { s => implicit val ctx = s.sqlContext; import s.implicits._
        Sessionize.sessions(MemoryStream[Sessionize.Event].toDS().withWatermark("ts", "0 seconds"), 1000L) },
      "CooldownDedup.kept" -> { s => implicit val ctx = s.sqlContext; import s.implicits._
        CooldownDedup.kept(MemoryStream[CooldownDedup.KeyedEvent].toDS().withWatermark("ts", "0 seconds"), 1000L) },
      "QuotaLimiter.admitted" -> { s => implicit val ctx = s.sqlContext; import s.implicits._
        QuotaLimiter.admitted(MemoryStream[CooldownDedup.KeyedEvent].toDS().withWatermark("ts", "0 seconds"), 3, 1000L) },
      "StreamNearDup.verdicts" -> { s => implicit val ctx = s.sqlContext; import s.implicits._
        StreamNearDup.verdicts(MemoryStream[StreamNearDup.Doc].toDS()) })
    for ((name, call) <- entryPoints; explicit <- Seq(None, Some("false"))) {
      val s = spark.newSession()
      assert(!s.conf.getOption(ProviderKey).contains(Provider) && s.conf.getOption(ChangelogKey).isEmpty)
      explicit.foreach(s.conf.set(ChangelogKey, _))
      call(s)
      assert(s.conf.get(ProviderKey) == Provider, name)
      assert(s.conf.getOption(ChangelogKey) == Some(explicit.getOrElse("true")), name)
    }
  }

  // WindowTopK (k 2, 1 h window) over JSON event files, one file per
  // batch when `perBatch`; every user's events advance by file, so none
  // is late under the 0 s watermark and no cleanup timer fires
  private def topKAdmitted(src: String, perBatch: Boolean): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    import graft.streaming.WindowTopK
    val schema = new org.apache.spark.sql.types.StructType()
      .add("user_id", "long").add("event_id", "long").add("ts", "timestamp").add("value", "double")
    val files = spark.readStream.schema(schema)
    val events = (if (perBatch) files.option("maxFilesPerTrigger", 1) else files).json(src)
      .withWatermark("ts", "0 seconds").as[WindowTopK.ValuedEvent]
    WindowTopK.admitted(events, 2, 3600L * 1000L).toDF()
  }

  private def writeTopKFiles(src: String, files: Range): Unit = files.foreach { f =>
    val at = Instant.parse("2024-01-01T00:00:00Z").plusSeconds(f * 60L)
    val file = Files.write(java.nio.file.Paths.get(src, s"part-$f.json"), (1 to 5).map { u =>
      s"""{"user_id":$u,"event_id":${f * 10 + u},"ts":"$at","value":${(f * 7 + u * 3) % 11}.5}"""
    }.mkString("\n").getBytes)
    // the file source takes files in modification-time order
    Files.setLastModifiedTime(file, java.nio.file.attribute.FileTime.from(at))
  }

  /** State versions of partition 0 that hold a file with `suffix`. */
  private def stateVersions(ck: String, suffix: String): Set[Long] =
    new java.io.File(ck, "state/0/0").list().toSet.filter(_.endsWith(suffix))
      .map(_.stripSuffix(suffix)).filter(_.forall(_.isDigit)).map(_.toLong)

  private def committedVersions(ck: String): Set[Long] =
    new java.io.File(ck, "commits").list().toSet.filter(_.forall(_.isDigit)).map(_.toLong + 1)

  test("a 3-batch WindowTopK stream writes a state changelog per batch and a snapshot only at its first") {
    import org.apache.spark.sql.streaming.Trigger
    withRocksDb {
      val src = tmp("cl-src"); val ck = tmp("cl-ck")
      writeTopKFiles(src, 0 until 3)
      val q = topKAdmitted(src, perBatch = true).writeStream.format("noop")
        .option("checkpointLocation", ck).trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      assert(q.recentProgress.count(_.numInputRows > 0) == 3)
      val versions = committedVersions(ck)
      val parts = new java.io.File(ck, "state/0").listFiles().filter(_.getName.forall(_.isDigit))
      assert(parts.length == spark.conf.get("spark.sql.shuffle.partitions").toInt)
      for (p <- parts) {
        val names = p.list().toSet
        assert(versions.forall(v => names(s"$v.changelog")), s"${p.getName}: $names, versions $versions")
        // the one snapshot is the first commit's, which Spark forces
        // when transformWithState creates its column families
        assert(names.filter(_.endsWith(".zip")).subsetOf(Set("1.zip")), s"${p.getName}: $names")
      }
    }
  }

  test("a WindowTopK checkpoint resumes exactly once from snapshot to changelog state checkpointing, and back") {
    import graft.streaming.RocksDbState.ChangelogKey
    def rows(out: String) = spark.read.parquet(out).collect().map(_.toString).sorted.toSeq
    def timers(ck: String) =
      spark.read.format("statestore").option("readRegisteredTimers", "true").load(ck).collect()
        .map(r => (r.getStruct(0).getLong(0), r.getAs[Long]("expiration_timestamp_ms"))).sorted.toSeq
    // None: the entry point's default (changelog checkpointing on)
    def run(changelog: Option[String], src: String, ck: String, out: String, perBatch: Boolean): Unit = {
      changelog.fold(spark.conf.unset(ChangelogKey))(spark.conf.set(ChangelogKey, _))
      val q = RecordStream.startSink(topKAdmitted(src, perBatch), "parquet", "topk_modes", ck, 100L,
        outputPath = Some(out))
      q.processAllAvailable(); q.stop()
    }
    withRocksDb {
      val refSrc = tmp("modes-ref-src"); val refCk = tmp("modes-ref-ck"); val refOut = tmp("modes-ref-out")
      writeTopKFiles(refSrc, 0 until 4)
      run(None, refSrc, refCk, refOut, perBatch = false)
      assert(rows(refOut).nonEmpty && timers(refCk).length == 5)
      for ((first, second) <- Seq(Some("false") -> None, None -> Some("false"))) {
        val src = tmp("modes-src"); val ck = tmp("modes-ck"); val out = tmp("modes-out")
        writeTopKFiles(src, 0 until 2)
        run(first, src, ck, out, perBatch = true)
        val before = committedVersions(ck)
        writeTopKFiles(src, 2 until 4)
        run(second, src, ck, out, perBatch = true)
        val after = committedVersions(ck) -- before
        // each run checkpointed its state in its own mode
        for ((mode, versions) <- Seq(first -> before, second -> after)) {
          val written = stateVersions(ck, if (mode.isEmpty) ".changelog" else ".zip")
          assert(versions.nonEmpty && versions.subsetOf(written), s"$mode: $versions not in $written")
        }
        assert(rows(out) == rows(refOut), s"exactly-once violated ($first then $second)")
        assert(timers(ck) == timers(refCk), s"registered timers differ ($first then $second)")
      }
    }
  }

  test("Pipeline CLI surface: parse -> start -> restart resumes exactly-once (O7 parity)") {
    import graft.streaming.Pipeline
    val src = tmp("cli-src"); val ck = tmp("cli-ck"); val out = tmp("cli-out")
    val argv = Seq("--name", "cli_q", "--source-dir", src, "--checkpoint-folder", ck,
      "--batch-period", "100", "--earliest", "--sink", "parquet", "--out", out,
      "--value-schema", "name STRING, age INT", "--max-files", "4")
    val c = Pipeline.parse(argv)
    assert(c.earliest && c.batchPeriodMs == 100L && c.maxFilesPerTrigger == 4)
    def write(n: String, key: String): Unit =
      Files.write(java.nio.file.Paths.get(src, n),
        s"""{"key":"$key","value":"{\\"name\\":\\"$key\\",\\"age\\":1}","topic":"t","partition":0,"offset":0,"timestamp":"2024-01-01T00:00:00Z"}""".getBytes)
    write("a.json", "a")
    val q1 = Pipeline.start(spark, c)
    q1.processAllAvailable(); q1.stop()
    write("b.json", "b")
    val q2 = Pipeline.start(spark, c)
    q2.processAllAvailable(); q2.stop()
    val names = spark.read.parquet(out).collect().map(_.getAs[String]("name")).toSeq.sorted
    assert(names == Seq("a", "b"), s"exactly-once across CLI restart violated: $names")
    intercept[RuntimeException](Pipeline.parse(Seq("--bogus")))
    intercept[IllegalArgumentException](Pipeline.parse(Seq("--name", "x")))
  }

  test("Pipeline observed metrics report rows and parse failures per batch") {
    import graft.streaming.Pipeline
    val src = tmp("obs-src"); val ck = tmp("obs-ck")
    Files.write(java.nio.file.Paths.get(src, "a.json"), Seq(
      """{"key":"a","value":"{\"name\":\"A\",\"age\":1}","topic":"t","partition":0,"offset":0,"timestamp":"2024-01-01T00:00:00Z"}""",
      """{"key":"b","value":"not-json","topic":"t","partition":0,"offset":1,"timestamp":"2024-01-01T00:00:01Z"}""")
      .mkString("\n").getBytes)
    val q = Pipeline.start(spark, Pipeline.Config(name = "obs_q", sourceDir = src,
      checkpoint = ck, batchPeriodMs = 100L, earliest = true, sink = "memory"))
    q.processAllAvailable()
    val metrics = q.recentProgress.flatMap(p =>
      Option(p.observedMetrics.get("graft_pipeline")))
      .map(r => (r.getAs[Long]("rows"), r.getAs[Long]("unparsed")))
    q.stop()
    assert(metrics.exists(_ == ((2L, 1L))),
      s"expected a batch with 2 rows / 1 unparsed, got ${metrics.toSeq}")
  }

  test("Pipeline --processor topk drives WindowTopK from the CLI, restart recovers the buffer") {
    // O7 parity for the collection-state processors (round 11, VERDICT
    // r10 item 6): the stateful processor sits between parse and sink,
    // selected by flag, and the checkpoint carries its state across a
    // full CLI restart like any other pipeline run.
    import graft.streaming.Pipeline
    val src = tmp("tkcli-src"); val ck = tmp("tkcli-ck"); val out = tmp("tkcli-out")
    val argv = Seq("--name", "tk_cli", "--source-dir", src, "--checkpoint-folder", ck,
      "--batch-period", "100", "--earliest", "--sink", "parquet", "--out", out,
      "--processor", "topk", "--k", "1", "--window-ms", (24L * 3600 * 1000).toString)
    val c = Pipeline.parse(argv)
    assert(c.processor == "topk" && c.k == 1 && c.windowMs == 24L * 3600 * 1000)
    // ewma's idle TTL is its OWN flag with EwmaMonitor's 24h default —
    // --window-ms must not silently shorten gauge retention (ADVICE r12)
    assert(c.idleMs == 24L * 3600 * 1000)
    assert(Pipeline.parse(argv ++ Seq("--idle-ms", "60000")).idleMs == 60000L)
    intercept[IllegalArgumentException](Pipeline.parse(
      Seq("--source-dir", src, "--checkpoint-folder", ck, "--processor", "bogus")))
    def write(n: String, id: Long, hour: Int, v: Double): Unit =
      Files.write(java.nio.file.Paths.get(src, n),
        s"""{"key":"7","value":"{\\"user_id\\":7,\\"event_id\\":$id,\\"ts\\":\\"2024-01-01T0$hour:00:00Z\\",\\"value\\":$v}","topic":"t","partition":0,"offset":$id,"timestamp":"2024-01-01T00:00:00Z"}""".getBytes)
    withRocksDb {
      write("a.json", 0L, 0, 50.0)
      val q1 = Pipeline.start(spark, c)
      q1.processAllAvailable(); q1.stop()
      // 10.0 must lose to the RECOVERED 50.0; 60.0 beats it
      write("b.json", 1L, 1, 10.0)
      write("c.json", 2L, 2, 60.0)
      val q2 = Pipeline.start(spark, c)
      q2.processAllAvailable(); q2.stop()
      val kept = spark.read.parquet(out).collect().map(_.getAs[Long]("event_id")).sorted.toSeq
      assert(kept == Seq(0L, 2L), s"CLI topk restart admissions: $kept")
    }
  }

  test("Pipeline --processor distinct drives SlidingDistinct from the CLI") {
    import graft.streaming.Pipeline
    val src = tmp("dcli-src"); val ck = tmp("dcli-ck")
    def line(id: Long, et: String, min: Int): String =
      s"""{"key":"1","value":"{\\"user_id\\":1,\\"event_type\\":\\"$et\\",\\"event_id\\":$id,\\"ts\\":\\"2024-01-01T00:${"%02d".format(min)}:00Z\\"}","topic":"t","partition":0,"offset":$id,"timestamp":"2024-01-01T00:00:00Z"}"""
    Files.write(java.nio.file.Paths.get(src, "a.json"),
      Seq(line(0L, "view", 0), line(1L, "click", 10), line(2L, "view", 20))
        .mkString("\n").getBytes)
    withRocksDb {
      val q = Pipeline.start(spark, Pipeline.parse(Seq(
        "--name", "dist_cli", "--source-dir", src, "--checkpoint-folder", ck,
        "--batch-period", "100", "--earliest", "--sink", "memory",
        "--processor", "distinct", "--window-ms", (3600L * 1000).toString)))
      q.processAllAvailable()
      val rows = spark.table("dist_cli").collect()
        .map(r => (r.getAs[Long]("event_id"), r.getAs[Boolean]("is_new_type"),
                   r.getAs[Int]("n_distinct"))).sortBy(_._1).toSeq
      q.stop()
      assert(rows == Seq((0L, true, 1), (1L, true, 2), (2L, false, 2)),
        s"CLI distinct stamps: $rows")
    }
  }

  test("Pipeline --processor ewma drives EwmaMonitor from the CLI") {
    import graft.streaming.{EwmaMonitor, Pipeline}
    val src = tmp("ewcli-src"); val ck = tmp("ewcli-ck")
    def line(id: Long, min: Int, v: Double): String =
      s"""{"key":"m","value":"{\\"event_type\\":\\"m\\",\\"event_id\\":$id,\\"ts\\":\\"2024-01-01T00:${"%02d".format(min)}:00Z\\",\\"value\\":$v}","topic":"t","partition":0,"offset":$id,"timestamp":"2024-01-01T00:00:00Z"}"""
    val values = Seq(100.0, 101.0, 99.0, 100.0, 102.0, 98.0, 250.0)
    Files.write(java.nio.file.Paths.get(src, "a.json"),
      values.zipWithIndex.map { case (v, i) => line(i.toLong, i, v) }
        .mkString("\n").getBytes)
    withRocksDb {
      val q = Pipeline.start(spark, Pipeline.parse(Seq(
        "--name", "ewma_cli", "--source-dir", src, "--checkpoint-folder", ck,
        "--batch-period", "100", "--earliest", "--sink", "memory",
        "--processor", "ewma")))
      q.processAllAvailable()
      val rows = spark.table("ewma_cli").collect()
        .map(r => (r.getAs[Long]("event_id"), r.getAs[Double]("ewma"),
                   r.getAs[Boolean]("is_alarm"), r.getAs[Long]("n_seen")))
        .sortBy(_._1).toSeq
      q.stop()
      var g: Option[EwmaMonitor.Gauge] = None
      val want = values.zipWithIndex.map { case (v, i) =>
        val e = EwmaMonitor.MetricEvent("m", i.toLong,
          java.time.Instant.parse(f"2024-01-01T00:$i%02d:00Z"), v)
        val (s0, g2) = EwmaMonitor.step(g, e, 0.3, 0.9, 9.0, 5L)
        g = Some(g2)
        (s0.event_id, s0.ewma, s0.is_alarm, s0.n_seen)
      }
      assert(rows == want, s"CLI ewma stamps:\n got $rows\nwant $want")
      assert(rows.last._3, "the post-warmup spike must alarm through the CLI path")
    }
  }

  test("latestFirst serves the newest backlog file first (--earliest/latest toggle analog)") {
    val srcDir = tmp("lf-src")
    def write(n: String, key: String, mtimeOffsetMs: Long): Unit = {
      val p = java.nio.file.Paths.get(srcDir, n)
      Files.write(p, s"""{"key":"$key","value":"{}","topic":"t","partition":0,"offset":0,"timestamp":"2024-01-01T00:00:00Z"}""".getBytes)
      assert(p.toFile.setLastModified(System.currentTimeMillis() + mtimeOffsetMs))
    }
    write("old.json", "old", -120000L)
    write("new.json", "new", 0L)
    val src = RecordStream.jsonDirSource(spark, srcDir, maxFilesPerTrigger = 1, latestFirst = true)
    val batches = scala.collection.concurrent.TrieMap[Long, Seq[String]]()
    val q = RecordStream.startForeachBatch(src, "lf_q", tmp("ck-lf"), 100L) { (df, id) =>
      batches.put(id, df.collect().map(_.getAs[String]("key")).toSeq)
      ()
    }
    q.processAllAvailable()
    q.stop()
    assert(batches(0L) == Seq("new"), s"latestFirst must serve the newest file in batch 0: $batches")
    assert(batches.values.flatten.toSet == Set("old", "new"), s"all backlog still processed: $batches")
  }

  test("maxFileAge ignores files older than the age bound relative to the newest seen") {
    val srcDir = tmp("age-src")
    def write(n: String, key: String, mtimeOffsetMs: Long): Unit = {
      val p = java.nio.file.Paths.get(srcDir, n)
      Files.write(p, s"""{"key":"$key","value":"{}","topic":"t","partition":0,"offset":0,"timestamp":"2024-01-01T00:00:00Z"}""".getBytes)
      assert(p.toFile.setLastModified(System.currentTimeMillis() + mtimeOffsetMs))
    }
    write("a.json", "a", 0L)
    val src = RecordStream.jsonDirSource(spark, srcDir, maxFileAge = Some("1h"))
    val q = RecordStream.startSink(src.select(col("key")), "memory", "age_sink", tmp("ck-age"), 100L)
    q.processAllAvailable()
    // Arrives "2h old" after the stream has seen a file — beyond the 1h
    // age bound relative to the newest file, so the source skips it
    // (the first batch exempts pre-existing files, hence the staging).
    write("b.json", "b", -7200000L)
    q.processAllAvailable()
    write("c.json", "c", 1000L)
    q.processAllAvailable()
    val keys = spark.table("age_sink").collect().map(_.getString(0)).toSet
    q.stop()
    assert(keys == Set("a", "c"), s"stale file must be skipped: $keys")
  }

  test("watermark drops late data beyond the bound (append windowed agg)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[(java.sql.Timestamp, Double)]
    val windowed = in.toDF().toDF("ts", "value")
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "5 minutes"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("w"), col("n"))
    val q = RecordStream.startSink(windowed, "memory", "late_sink", tmp("ck-late"), 100L)
    def t(min: Int) = java.sql.Timestamp.from(Instant.parse("2024-01-01T00:00:00Z").plusSeconds(min * 60L))
    in.addData((t(0), 1.0), (t(2), 1.0))   // window [00:00,00:05): 2 events
    q.processAllAvailable()
    in.addData((t(60), 1.0))               // advances watermark to 00:50
    q.processAllAvailable()
    in.addData((t(1), 99.0))               // late: < watermark → dropped
    in.addData((t(61), 1.0))
    q.processAllAvailable()
    in.addData((t(120), 1.0))              // push watermark past 01:05 to flush
    q.processAllAvailable()
    val byWindow = spark.table("late_sink").collect().map(r => r.getTimestamp(0).toInstant.toString -> r.getLong(1)).toMap
    q.stop()
    assert(byWindow("2024-01-01T00:00:00Z") == 2L, s"late event must not re-open the window: $byWindow")
    assert(byWindow("2024-01-01T01:00:00Z") == 2L)
  }

  test("dropDuplicatesWithinWatermark deduplicates keyed records across batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[(String, java.sql.Timestamp)]
    val deduped = in.toDF().toDF("key", "ts")
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("key")
    val q = RecordStream.startSink(deduped, "memory", "dedup_sink", tmp("ck-dd"), 100L)
    def t(min: Int) = java.sql.Timestamp.from(Instant.parse("2024-01-01T00:00:00Z").plusSeconds(min * 60L))
    in.addData(("a", t(0)), ("a", t(1)), ("b", t(2)))
    q.processAllAvailable()
    in.addData(("a", t(3)), ("c", t(4)))
    q.processAllAvailable()
    val keys = spark.table("dedup_sink").collect().map(_.getString(0)).toSeq
    q.stop()
    assert(keys.sorted == Seq("a", "b", "c"), s"got $keys")
  }

  test("stateful sessionize emits closed sessions across micro-batches") {
    withRocksDb {
      implicit val sqlCtx = spark.sqlContext
      import spark.implicits._
      val in = MemoryStream[Sessionize.Event]
      val sessions = Sessionize.sessions(
        in.toDS().withWatermark("ts", "0 seconds").as[Sessionize.Event],
        gapMs = 10 * 60 * 1000L)
      val q = RecordStream.startSink(sessions.toDF(), "memory", "sess_sink", tmp("ck-sess"), 100L)
      def at(min: Int) = Instant.parse("2024-01-01T00:00:00Z").plusSeconds(min * 60L)
      in.addData(Sessionize.Event(1L, at(0), 1.0), Sessionize.Event(1L, at(5), 2.0))
      q.processAllAvailable()
      // 30 min later: previous session (gap 10m) is closed by the new batch.
      in.addData(Sessionize.Event(1L, at(30), 5.0))
      q.processAllAvailable()
      in.addData(Sessionize.Event(1L, at(60), 7.0)) // closes the 00:30 session
      q.processAllAvailable()
      val rows = spark.table("sess_sink").collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[java.sql.Timestamp]("session_start").toInstant,
                   r.getAs[Long]("n_events"), r.getAs[Double]("sum_value"))).sortBy(_._2)
      q.stop()
      assert(rows.length >= 2)
      assert(rows(0) == ((1L, at(0), 2L, 3.0)), s"first session wrong: ${rows.toSeq}")
      assert(rows(1) == ((1L, at(30), 1L, 5.0)), s"second session wrong: ${rows.toSeq}")
    }
  }

  test("batch sessionize matches built-in session_window on real events data") {
    val a = SparkEntry.queries("q29_session_window")(spark, sfDir).collect()
    val b = SparkEntry.queries("q30_sessionize_stateful")(spark, sfDir).collect()
    assert(a.length == b.length, s"session counts differ: ${a.length} vs ${b.length}")
    a.zip(b).foreach { case (x, y) => assert(x == y, s"mismatch: $x vs $y") }
  }
}
