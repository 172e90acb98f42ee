package graft

import java.nio.file.Files
import java.time.Instant
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.{RecordStream, Sessionize}

/** Streaming operators beyond the reference surface: stream-stream
  * joins with watermark-bounded state, foreachBatch sinks, and state
  * recovery for the custom stateful operator across a checkpoint
  * restart (the scenario the reference's recovery factory could never
  * survive — SURVEY §3 EP3).
  */
class StreamingDepthSpec extends AnyFunSuite with SparkFixture {

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def ts(min: Int): java.sql.Timestamp =
    java.sql.Timestamp.from(Instant.parse("2024-01-01T00:00:00Z").plusSeconds(min * 60L))

  test("stream-stream join: clicks attribute to impressions within the time bound") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val imps = MemoryStream[(Long, java.sql.Timestamp)]
    val clicks = MemoryStream[(Long, java.sql.Timestamp)]
    val joined = imps.toDF().toDF("ad_id", "imp_ts").withWatermark("imp_ts", "10 minutes")
      .join(clicks.toDF().toDF("click_ad_id", "click_ts").withWatermark("click_ts", "10 minutes"),
            expr("ad_id = click_ad_id AND click_ts BETWEEN imp_ts AND imp_ts + INTERVAL 10 MINUTES"))
      .select("ad_id", "imp_ts", "click_ts")
    val q = RecordStream.startSink(joined, "memory", "ss_join_sink", tmp("ck-ssj"), 100L)
    imps.addData((1L, ts(0)), (2L, ts(1)))
    clicks.addData((1L, ts(5)))    // within 10 min of impression 1 → match
    clicks.addData((2L, ts(30)))   // 29 min after impression 2 → no match
    q.processAllAvailable()
    val rows = spark.table("ss_join_sink").collect()
    q.stop()
    assert(rows.map(_.getAs[Long]("ad_id")).toSeq == Seq(1L), s"got ${rows.toSeq}")
  }

  test("stream-static join enriches streaming records against a batch dimension") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dim = Seq((0L, "bronze"), (1L, "silver"), (2L, "gold")).toDF("tier_id", "tier")
    val in = MemoryStream[(Long, Double)]
    val enriched = in.toDF().toDF("user_id", "value")
      .withColumn("tier_id", col("user_id") % 3)
      .join(broadcast(dim), "tier_id")   // static side broadcast: no stream state, re-read per batch
      .select("user_id", "tier", "value")
    val q = RecordStream.startSink(enriched, "memory", "enrich_sink", tmp("ck-enrich"), 100L)
    in.addData((1L, 10.0), (2L, 20.0), (6L, 30.0))
    q.processAllAvailable()
    val rows = spark.table("enrich_sink").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[String]("tier"))).sortBy(_._1)
    q.stop()
    assert(rows.toSeq == Seq((1L, "silver"), (2L, "gold"), (6L, "bronze")), s"got ${rows.toSeq}")
  }

  test("foreachBatch sink receives micro-batches with increasing ids") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[(String, String)]
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    val parsed = RecordStream.parseValues(in.toDF().toDF("key", "value"), RecordStream.testschema)
    val q = RecordStream.startForeachBatch(parsed, "feb_sink", tmp("ck-feb"), 100L) {
      (df, id) => seen.add((id, df.count()))
    }
    in.addData(("a", """{"name":"X","age":1}"""))
    q.processAllAvailable()
    in.addData(("b", """{"name":"Y","age":2}"""), ("c", """{"name":"Z","age":3}"""))
    q.processAllAvailable()
    q.stop()
    val batches = seen.toArray(Array.empty[(Long, Long)]).toSeq.sortBy(_._1)
    val nonEmpty = batches.filter(_._2 > 0)
    assert(nonEmpty.map(_._2) == Seq(1L, 2L), s"batch sizes wrong: $batches")
    assert(batches.map(_._1) == batches.map(_._1).sorted, "batch ids not increasing")
  }

  test("sessionize keeps order-correct sessions when a late event arrives within the watermark") {
    withRocksDb {
      implicit val sqlCtx = spark.sqlContext
      import spark.implicits._
      def at(min: Int) = Instant.parse("2024-01-01T10:00:00Z").plusSeconds(min * 60L)
      val in = MemoryStream[Sessionize.Event]
      // 2h watermark: an event 90 min late is still admissible and must
      // NOT be merged backwards into the later open session.
      val sessions = Sessionize.sessions(
        in.toDS().withWatermark("ts", "2 hours"), gapMs = 10 * 60 * 1000L)
      val q = RecordStream.startSink(sessions.toDF(), "memory", "late_sess_sink", tmp("ck-lsess"), 100L)
      in.addData(Sessionize.Event(3L, at(0), 1.0))    // 10:00 — open session
      q.processAllAvailable()
      in.addData(Sessionize.Event(3L, at(-90), 5.0))  // 08:30, late but in-watermark
      q.processAllAvailable()
      in.addData(Sessionize.Event(3L, at(300), 1.0))  // 15:00 — flush everything
      q.processAllAvailable()
      val rows = spark.table("late_sess_sink").collect()
        .map(r => (r.getAs[java.sql.Timestamp]("session_start").toInstant,
                   r.getAs[java.sql.Timestamp]("session_end").toInstant,
                   r.getAs[Long]("n_events"))).sortBy(_._1)
      q.stop()
      rows.foreach { case (s, e, _) => assert(!e.isBefore(s), s"session ends before it starts: $rows") }
      assert(rows.take(2).toSeq == Seq((at(-90), at(-80), 1L), (at(0), at(10), 1L)),
        s"late event corrupted sessions: ${rows.toSeq}")
    }
  }

  test("sessionize closes each session once the gap passes (timer or later event)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    withRocksDb {
      def at(min: Int) = Instant.parse("2024-01-01T00:00:00Z").plusSeconds(min * 60L)
      val in = MemoryStream[Sessionize.Event]
      val sessions = Sessionize.sessions(
        in.toDS().withWatermark("ts", "0 seconds"), gapMs = 10 * 60 * 1000L)
      val q = RecordStream.startSink(sessions.toDF(), "memory", "tws_sess_sink", tmp("ck-tws"), 100L)
      in.addData(Sessionize.Event(1L, at(0), 1.0), Sessionize.Event(1L, at(5), 2.0))
      q.processAllAvailable()
      in.addData(Sessionize.Event(1L, at(30), 5.0))  // watermark passes t5+gap → timer closes session 1
      q.processAllAvailable()
      in.addData(Sessionize.Event(1L, at(60), 7.0))  // closes the 00:30 session
      q.processAllAvailable()
      val rows = spark.table("tws_sess_sink").collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[java.sql.Timestamp]("session_start").toInstant,
                   r.getAs[Long]("n_events"), r.getAs[Double]("sum_value"))).sortBy(_._2)
      q.stop()
      assert(rows.length >= 2, s"expected two closed sessions: ${rows.toSeq}")
      assert(rows(0) == ((1L, at(0), 2L, 3.0)), s"first session wrong: ${rows.toSeq}")
      assert(rows(1) == ((1L, at(30), 1L, 5.0)), s"second session wrong: ${rows.toSeq}")
    }
  }

  test("stateful sessionize recovers open-session state across checkpoint restart") {
    withRocksDb {
      import spark.implicits._
      // File source, not MemoryStream: a fresh MemoryStream instance
      // cannot serve the offsets recorded in a recovered checkpoint.
      val src = tmp("sess-src"); val ck = tmp("ck-sess-restart"); val out = tmp("out-sess-restart")
      val gapMs = 10 * 60 * 1000L
      def at(min: Int) = Instant.parse("2024-01-01T00:00:00Z").plusSeconds(min * 60L)
      def writeEvents(file: String, rows: Seq[(Long, Int, Double)]): Unit =
        Files.write(java.nio.file.Paths.get(src, file),
          rows.map { case (u, m, v) => s"""{"user_id":$u,"ts":"${at(m)}","value":$v}""" }
            .mkString("\n").getBytes)
      val schema = new org.apache.spark.sql.types.StructType()
        .add("user_id", "long").add("ts", "timestamp").add("value", "double")
      def sessionQuery(name: String) = {
        val events = spark.readStream.schema(schema).json(src)
          .withWatermark("ts", "0 seconds").as[Sessionize.Event]
        RecordStream.startSink(Sessionize.sessions(events, gapMs).toDF(),
          "parquet", name, ck, 100L, outputPath = Some(out))
      }

      writeEvents("b1.json", Seq((7L, 0, 1.0), (7L, 5, 2.0)))
      val q1 = sessionQuery("sess_r1")
      q1.processAllAvailable()
      q1.stop() // session (t0, n=2) still OPEN in the state store

      // restart: same checkpoint, re-declared query. An event within the
      // gap must merge into the RECOVERED session; later events close it.
      writeEvents("b2.json", Seq((7L, 8, 4.0)))
      val q2 = sessionQuery("sess_r2")
      q2.processAllAvailable()
      writeEvents("b3.json", Seq((7L, 60, 9.0)))
      q2.processAllAvailable()
      writeEvents("b4.json", Seq((7L, 120, 1.0)))
      q2.processAllAvailable()
      q2.stop()

      val sessions = spark.read.parquet(out)
        .orderBy("session_start").collect()
        .map(r => (r.getAs[java.sql.Timestamp]("session_start").toInstant,
                   r.getAs[Long]("n_events"), r.getAs[Double]("sum_value")))
      assert(sessions.nonEmpty, "no sessions emitted after restart")
      assert(sessions.head == ((at(0), 3L, 7.0)),
        s"state not recovered across restart: ${sessions.toSeq}")
    }
  }

  test("cooldown dedup keeps 0h, 18h and 31h of a 6h drip over four micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.CooldownDedup
    withRocksDb {
      def at(h: Int) = Instant.parse("2024-01-01T00:00:00Z").plusSeconds(h * 3600L)
      val cooldownMs = 12L * 3600L * 1000L
      // drip every 6h: sliding-cooldown must keep 0h and 18h (q136's
      // drip contract), across batches and through timer-based expiry
      val in = MemoryStream[CooldownDedup.KeyedEvent]
      val kept = CooldownDedup.kept(
        in.toDS().withWatermark("ts", "0 seconds"), cooldownMs)
      val q = RecordStream.startSink(kept.toDF(), "memory", "tws_cd_sink", tmp("ck-tws-cd"), 100L)
      in.addData(CooldownDedup.KeyedEvent(1L, "drip", 0L, at(0)),
                 CooldownDedup.KeyedEvent(1L, "drip", 1L, at(6)))
      q.processAllAvailable()
      in.addData(CooldownDedup.KeyedEvent(1L, "drip", 2L, at(12)),
                 CooldownDedup.KeyedEvent(1L, "drip", 3L, at(18)))
      q.processAllAvailable()
      in.addData(CooldownDedup.KeyedEvent(1L, "drip", 4L, at(24)),
                 CooldownDedup.KeyedEvent(1L, "drip", 5L, at(30)))
      q.processAllAvailable()
      // after expiry (watermark 30h > frontier 18h + 12h), a fresh event is kept again
      in.addData(CooldownDedup.KeyedEvent(1L, "drip", 6L, at(31)))
      q.processAllAvailable()
      val ids = spark.table("tws_cd_sink").collect().map(_.getAs[Long]("event_id")).sorted.toSeq
      q.stop()
      assert(ids == Seq(0L, 3L, 6L), s"transformWithState cooldown kept: $ids")
    }
  }

  test("quota limiter admits at most N per key per event-time hour, resets across windows") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.{CooldownDedup, QuotaLimiter}
    withRocksDb {
      def at(min: Int) = Instant.parse("2024-01-01T00:00:00Z").plusSeconds(min * 60L)
      val in = MemoryStream[CooldownDedup.KeyedEvent]
      val adm = QuotaLimiter.admitted(
        in.toDS().withWatermark("ts", "0 seconds"), maxPerWindow = 3, windowMs = 3600 * 1000L)
      val q = RecordStream.startSink(adm.toDF(), "memory", "quota_sink", tmp("ck-quota"), 100L)
      // window 1 (00:00-01:00): 5 events → first 3 admitted
      in.addData((0 to 4).map(i => CooldownDedup.KeyedEvent(1L, "alert", i.toLong, at(i * 10))): _*)
      q.processAllAvailable()
      // window 2 (01:00-02:00): budget resets; 4 more → 3 admitted; a
      // second key is metered independently
      in.addData((5 to 8).map(i => CooldownDedup.KeyedEvent(1L, "alert", i.toLong, at(60 + (i - 5) * 10))): _*)
      in.addData(CooldownDedup.KeyedEvent(2L, "alert", 100L, at(70)))
      q.processAllAvailable()
      val rows = spark.table("quota_sink").collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("event_id"), r.getAs[Long]("n_in_window")))
      q.stop()
      val u1 = rows.filter(_._1 == 1L).map(_._2).sorted.toSeq
      assert(u1 == Seq(0L, 1L, 2L, 5L, 6L, 7L), s"user 1 admitted: $u1")
      assert(rows.filter(_._1 == 2L).map(_._2).toSeq == Seq(100L), "user 2 metered independently")
      // the admission counter is exact within each window
      assert(rows.filter(r => r._1 == 1L && r._2 >= 5).map(_._3).sorted.toSeq == Seq(1L, 2L, 3L))
    }
  }

  test("sliding-cooldown dedup recovers the kept-frontier across checkpoint restart") {
    withRocksDb {
      import spark.implicits._
      import graft.streaming.CooldownDedup
      val src = tmp("cd-src"); val ck = tmp("ck-cd-restart"); val out = tmp("out-cd-restart")
      val cooldownMs = 12L * 3600L * 1000L
      def at(h: Int) = Instant.parse("2024-01-01T00:00:00Z").plusSeconds(h * 3600L)
      def writeEvents(file: String, rows: Seq[(Long, Int)]): Unit =
        Files.write(java.nio.file.Paths.get(src, file),
          rows.map { case (id, h) =>
            s"""{"user_id":7,"event_type":"alert","event_id":$id,"ts":"${at(h)}"}"""
          }.mkString("\n").getBytes)
      val schema = new org.apache.spark.sql.types.StructType()
        .add("user_id", "long").add("event_type", "string")
        .add("event_id", "long").add("ts", "timestamp")
      def query(name: String) = {
        val events = spark.readStream.schema(schema).json(src)
          .withWatermark("ts", "0 seconds").as[CooldownDedup.KeyedEvent]
        RecordStream.startSink(CooldownDedup.kept(events, cooldownMs).toDF(),
          "parquet", name, ck, 100L, outputPath = Some(out))
      }

      writeEvents("b1.json", Seq((0L, 0), (1L, 6))) // kept(0h) sets frontier; 6h suppressed
      val q1 = query("cd_r1")
      q1.processAllAvailable()
      q1.stop()

      // restart: same checkpoint. 10h is inside the RECOVERED frontier's
      // cooldown (would wrongly be kept by a fresh query); 13h clears it.
      writeEvents("b2.json", Seq((2L, 10), (3L, 13)))
      val q2 = query("cd_r2")
      q2.processAllAvailable()
      // frontier advanced to 13h by the same lineage: 20h suppressed, 26h kept
      writeEvents("b3.json", Seq((4L, 20), (5L, 26)))
      q2.processAllAvailable()
      q2.stop()

      val kept = spark.read.parquet(out).collect().map(_.getAs[Long]("event_id")).sorted.toSeq
      assert(kept == Seq(0L, 3L, 5L),
        s"kept-frontier not recovered/advanced across restart: $kept")
    }
  }

  // ------------------------------------------------------------ streaming near-dup (round 8)

  /** Sequential register-all first-wins reference for StreamNearDup,
    * with bands computed by the BATCH signature plan (Dedup.bandKeys)
    * — so the test simultaneously pins the streaming gate to its
    * spec'd recurrence AND to batch-side band agreement.
    */
  private def nearDupReference(docs: Seq[graft.streaming.StreamNearDup.Doc]): Seq[Long] = {
    import spark.implicits._
    val bandsByDoc = graft.operators.Dedup
      .bandKeys(docs.toDF("doc_id", "ord", "text"), Seq("ord"))
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), (r.getAs[Int]("band_id"), r.getAs[Long]("band_hash"))))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
    val seen = scala.collection.mutable.Set.empty[(Int, Long)]
    docs.sortBy(d => (d.ord, d.doc_id)).flatMap { d =>
      bandsByDoc.get(d.doc_id) match {
        case None => None // < 3 tokens: no bands, bypasses the gate
        case Some(bs) =>
          val collided = bs.exists(seen)
          bs.foreach(seen += _)
          if (collided) None else Some(d.doc_id)
      }
    }
  }

  test("streaming near-dup gate matches the sequential register-all replay (batch parity)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.StreamNearDup
    withRocksDb {
      val base = "the quick brown fox jumps over the lazy dog near the river bank today"
      val docs = Seq(
        StreamNearDup.Doc(1L, 1L, base),
        StreamNearDup.Doc(2L, 2L, "completely different text about spark streaming state stores"),
        StreamNearDup.Doc(3L, 3L, base + " again"),          // near-dup of 1
        StreamNearDup.Doc(4L, 4L, base),                     // exact copy of 1
        StreamNearDup.Doc(5L, 5L, "completely different text about spark streaming state stores"), // copy of 2
        StreamNearDup.Doc(6L, 6L, "a third unrelated document mentioning tokenizers and minhash bands"))
      val in = MemoryStream[StreamNearDup.Doc]
      val out = tmp("neardup-out")
      val q = StreamNearDup.start(in.toDS(), out, tmp("ck-neardup"))
      // two batches: 1-2 then 3-6 (cross-batch state + within-batch order)
      in.addData(docs.take(2): _*); q.processAllAvailable()
      in.addData(docs.drop(2): _*); q.processAllAvailable()
      q.stop()
      val kept = spark.read.parquet(s"$out/batch=*").collect()
        .map(_.getAs[Long]("doc_id")).sorted.toSeq
      val ref = nearDupReference(docs).sorted
      assert(kept == ref, s"streaming kept $kept != sequential reference $ref")
      // the gate actually engaged: the exact copies (4, 5) must be out,
      // and at least one NON-exact suppression occurred (doc 3's bands
      // overlap doc 1's) — otherwise the fixture stopped exercising LSH
      assert(!kept.contains(4L) && !kept.contains(5L), s"exact copies kept: $kept")
      assert(!kept.contains(3L), s"near-dup of doc 1 escaped the band gate: $kept")
      assert(kept.contains(1L) && kept.contains(2L) && kept.contains(6L))
    }
  }

  test("streaming near-dup gate recovers band state across checkpoint restart") {
    import spark.implicits._
    import graft.streaming.StreamNearDup
    withRocksDb {
      val src = tmp("neardup-src"); val ck = tmp("ck-neardup-restart")
      val out = tmp("out-neardup-restart")
      val base = "sliding minhash bands survive a checkpointed restart of the gate"
      def writeDocs(file: String, rows: Seq[(Long, Long, String)]): Unit =
        Files.write(java.nio.file.Paths.get(src, file),
          rows.map { case (id, ord, text) =>
            s"""{"doc_id":$id,"ord":$ord,"text":"$text"}"""
          }.mkString("\n").getBytes)
      val schema = new org.apache.spark.sql.types.StructType()
        .add("doc_id", "long").add("ord", "long").add("text", "string")
      def query() = StreamNearDup.start(
        spark.readStream.schema(schema).json(src).as[StreamNearDup.Doc], out, ck)

      writeDocs("b1.json", Seq((1L, 1L, base), (2L, 2L, "some other first-run corpus text entirely")))
      val q1 = query()
      q1.processAllAvailable()
      q1.stop()

      // restart from the same checkpoint: an exact copy of doc 1 must
      // be suppressed by RECOVERED band state (a fresh query would
      // keep it); a genuinely new doc passes
      writeDocs("b2.json", Seq((3L, 3L, base), (4L, 4L, "fresh post-restart document with novel shingles throughout")))
      val q2 = query()
      q2.processAllAvailable()
      q2.stop()

      val kept = spark.read.parquet(s"$out/batch=*").collect()
        .map(_.getAs[Long]("doc_id")).sorted.toSeq
      assert(kept == Seq(1L, 2L, 4L),
        s"band state not recovered across restart (expected 3 suppressed): $kept")
    }
  }

  // ------------------------------------------------------------ collection state: ListState top-k + MapState distinct (round 10)

  /** Sequential fold reference for WindowTopK — the processor's
    * documented semantics (both modes) applied one event at a time.
    * Exact mode ranks each event against EVERY live in-window event;
    * approx mode against the retained admission buffer only
    * (ADVICE r10 re-documentation).
    */
  private def topKReference(events: Seq[graft.streaming.WindowTopK.ValuedEvent],
                            k: Int, windowMs: Long,
                            exact: Boolean = true): Seq[(Long, Int, Int)] = {
    def us(t: Instant): Long = t.getEpochSecond * 1000000L + t.getNano / 1000L
    val windowUs = windowMs * 1000L
    var buf = Vector.empty[(Long, Long, Double)] // (event_id, tsUs, value)
    events.sortBy(e => (us(e.ts), e.event_id)).flatMap { e =>
      val now = us(e.ts)
      buf = buf.filter(_._2 > now - windowUs)
      if (exact) {
        val beaten = buf.count(_._3 > e.value)
        buf = buf :+ ((e.event_id, now, e.value))
        if (beaten < k) Some((e.event_id, 1 + beaten, math.min(k, buf.size))) else None
      } else {
        val admit = buf.size < k || buf.exists(_._3 < e.value)
        if (!admit) None
        else {
          if (buf.size >= k) {
            val weakest = buf.minBy(t => (t._3, t._2, t._1))
            buf = buf.filterNot(_ == weakest)
          }
          val rank = 1 + buf.count(_._3 > e.value)
          buf = buf :+ ((e.event_id, now, e.value))
          Some((e.event_id, rank, buf.size))
        }
      }
    }
  }

  test("ListState top-k admits exactly the live sliding top-k (sequential-replay parity)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.WindowTopK
    withRocksDb {
      def at(min: Int) = Instant.parse("2024-01-01T00:00:00Z").plusSeconds(min * 60L)
      val b1 = Seq(
        WindowTopK.ValuedEvent(1L, 0L, at(0), 10.0),
        WindowTopK.ValuedEvent(1L, 1L, at(5), 5.0),
        WindowTopK.ValuedEvent(1L, 2L, at(10), 3.0),   // below the live top-2: dropped
        WindowTopK.ValuedEvent(1L, 3L, at(15), 7.0),   // beats 5.0: evicts it
        WindowTopK.ValuedEvent(2L, 100L, at(10), 1.0)) // second key independent
      val b2 = Seq(
        WindowTopK.ValuedEvent(1L, 4L, at(80), 1.0))   // both entries expired: admitted
      val in = MemoryStream[WindowTopK.ValuedEvent]
      val adm = WindowTopK.admitted(
        in.toDS().withWatermark("ts", "0 seconds"), k = 2, windowMs = 3600L * 1000L)
      val q = RecordStream.startSink(adm.toDF(), "memory", "topk_sink", tmp("ck-topk"), 100L)
      in.addData(b1: _*); q.processAllAvailable()
      in.addData(b2: _*); q.processAllAvailable()
      val rows = spark.table("topk_sink").collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("event_id"),
                   r.getAs[Int]("rank_at_admission"), r.getAs[Int]("topk_size")))
      q.stop()
      val u1 = rows.filter(_._1 == 1L).map(r => (r._2, r._3, r._4)).sortBy(_._1).toSeq
      val want = topKReference((b1 ++ b2).filter(_.user_id == 1L), 2, 3600L * 1000L)
        .sortBy(_._1)
      assert(u1 == want, s"top-k admissions: got $u1 want $want")
      assert(rows.filter(_._1 == 2L).map(_._2).toSeq == Seq(100L), "second key not independent")
    }
  }

  test("WindowTopK exact mode rejects what the admission buffer would over-admit after expiry") {
    // The ADVICE r10 counter-example: k=2, A=10 and B=9 admitted, C=5
    // rejected; A expires. D=1 then arrives — the live window is
    // {B=9, C=5}, so the true top-2 excludes D (exact mode rejects it),
    // but the O(k) admission buffer forgot C and under-fills to {B},
    // so approx mode admits D. Both modes must match their sequential
    // references; the divergence is the documented semantic gap.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.WindowTopK
    withRocksDb {
      def at(min: Int) = Instant.parse("2024-01-01T00:00:00Z").plusSeconds(min * 60L)
      val events = Seq(
        WindowTopK.ValuedEvent(1L, 0L, at(0), 10.0),  // A
        WindowTopK.ValuedEvent(1L, 1L, at(30), 9.0),  // B
        WindowTopK.ValuedEvent(1L, 2L, at(40), 5.0),  // C: rejected in both modes
        WindowTopK.ValuedEvent(1L, 3L, at(70), 1.0))  // D: live window = {B, C}
      val window = 3600L * 1000L
      def run(exact: Boolean, sink: String): Seq[Long] = {
        val in = MemoryStream[WindowTopK.ValuedEvent]
        val adm = WindowTopK.admitted(
          in.toDS().withWatermark("ts", "0 seconds"), k = 2, windowMs = window, exact = exact)
        val q = RecordStream.startSink(adm.toDF(), "memory", sink, tmp(s"ck-$sink"), 100L)
        in.addData(events: _*); q.processAllAvailable()
        val ids = spark.table(sink).collect().map(_.getAs[Long]("event_id")).sorted.toSeq
        q.stop()
        ids
      }
      val exactIds = run(exact = true, "topk_exact_div")
      val approxIds = run(exact = false, "topk_approx_div")
      assert(exactIds == Seq(0L, 1L), s"exact admissions: $exactIds")
      assert(approxIds == Seq(0L, 1L, 3L), s"approx admissions: $approxIds")
      assert(exactIds == topKReference(events, 2, window, exact = true).map(_._1).sorted)
      assert(approxIds == topKReference(events, 2, window, exact = false).map(_._1).sorted)
    }
  }

  test("MapState sliding distinct stamps type breadth with per-event eviction (sequential-replay parity)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.{CooldownDedup, SlidingDistinct}
    withRocksDb {
      def at(min: Int) = Instant.parse("2024-01-01T00:00:00Z").plusSeconds(min * 60L)
      val in = MemoryStream[CooldownDedup.KeyedEvent]
      val st = SlidingDistinct.stamped(
        in.toDS().withWatermark("ts", "0 seconds"), windowMs = 3600L * 1000L)
      val q = RecordStream.startSink(st.toDF(), "memory", "dist_sink", tmp("ck-dist"), 100L)
      in.addData(
        CooldownDedup.KeyedEvent(1L, "view", 0L, at(0)),
        CooldownDedup.KeyedEvent(1L, "click", 1L, at(10)),
        CooldownDedup.KeyedEvent(1L, "view", 2L, at(20)))
      q.processAllAvailable()
      in.addData(
        CooldownDedup.KeyedEvent(1L, "purchase", 3L, at(70)),  // click (t=10) evicted
        CooldownDedup.KeyedEvent(1L, "view", 4L, at(130)))     // everything evicted
      q.processAllAvailable()
      val rows = spark.table("dist_sink").collect()
        .map(r => (r.getAs[Long]("event_id"), r.getAs[Boolean]("is_new_type"),
                   r.getAs[Int]("n_distinct"))).sortBy(_._1).toSeq
      q.stop()
      assert(rows == Seq((0L, true, 1), (1L, true, 2), (2L, false, 2),
                         (3L, true, 2), (4L, true, 1)),
        s"distinct stamps: $rows")
    }
  }

  test("EWMA monitor matches the sequential fold and the batch twin (parity)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.EwmaMonitor
    import graft.streaming.EwmaMonitor.MetricEvent
    withRocksDb {
      def at(min: Int) = Instant.parse("2024-01-01T00:00:00Z").plusSeconds(min * 60L)
      // stable level, then a spike at id 7 (post-warmup ⇒ must alarm)
      // and an equal-size spike at id 2 (pre-warmup ⇒ must NOT alarm)
      val events = Seq(
        MetricEvent("m", 0L, at(0), 100.0), MetricEvent("m", 1L, at(1), 101.0),
        MetricEvent("m", 2L, at(2), 200.0), MetricEvent("m", 3L, at(3), 99.0),
        MetricEvent("m", 4L, at(4), 100.0), MetricEvent("m", 5L, at(5), 102.0),
        MetricEvent("m", 6L, at(6), 98.0), MetricEvent("m", 7L, at(7), 250.0),
        MetricEvent("m", 8L, at(8), 100.0))
      val in = MemoryStream[MetricEvent]
      val st = EwmaMonitor.scored(in.toDS().withWatermark("ts", "0 seconds"))
      val q = RecordStream.startSink(st.toDF(), "memory", "ewma_sink", tmp("ck-ewma"), 100L)
      in.addData(events.take(4): _*)   // split mid-warmup: state must carry
      q.processAllAvailable()
      in.addData(events.drop(4): _*)
      q.processAllAvailable()
      val got = spark.table("ewma_sink").collect()
        .map(r => (r.getAs[Long]("event_id"), r.getAs[Double]("ewma"),
                   r.getAs[Double]("resid"), r.getAs[Boolean]("is_alarm"),
                   r.getAs[Long]("n_seen"))).sortBy(_._1).toSeq
      q.stop()
      // sequential reference: the pure fold, one event at a time
      var g: Option[EwmaMonitor.Gauge] = None
      val want = events.map { e =>
        val (s0, g2) = EwmaMonitor.step(g, e, 0.3, 0.9, 9.0, 5L)
        g = Some(g2)
        (s0.event_id, s0.ewma, s0.resid, s0.is_alarm, s0.n_seen)
      }
      assert(got == want, s"stream fold diverged:\n got $got\nwant $want")
      assert(!got(2)._4, "pre-warmup spike must not alarm")
      assert(got(7)._4, "post-warmup spike must alarm")
      // batch twin runs the identical fold
      val batch = EwmaMonitor.scoredBatch(spark.createDataset(events)).collect()
        .map(s0 => (s0.event_id, s0.ewma, s0.resid, s0.is_alarm, s0.n_seen))
        .sortBy(_._1).toSeq
      assert(batch == want, s"batch twin diverged:\n got $batch\nwant $want")
    }
  }

  test("EWMA monitor recovers level/variance/count across checkpoint restart") {
    import graft.streaming.EwmaMonitor
    withRocksDb {
      val src = tmp("ew-src"); val ck = tmp("ck-ew-restart"); val out = tmp("out-ew-restart")
      def at(min: Int) = Instant.parse("2024-01-01T00:00:00Z").plusSeconds(min * 60L)
      def writeEvents(file: String, rows: Seq[(Long, Int, Double)]): Unit =
        Files.write(java.nio.file.Paths.get(src, file),
          rows.map { case (id, m, v) =>
            s"""{"event_type":"m","event_id":$id,"ts":"${at(m)}","value":$v}"""
          }.mkString("\n").getBytes)
      val schema = new org.apache.spark.sql.types.StructType()
        .add("event_type", "string").add("event_id", "long")
        .add("ts", "timestamp").add("value", "double")
      def query(name: String) = {
        import spark.implicits._
        val events = spark.readStream.schema(schema).json(src)
          .withWatermark("ts", "0 seconds").as[EwmaMonitor.MetricEvent]
        RecordStream.startSink(EwmaMonitor.scored(events).toDF(),
          "parquet", name, ck, 100L, outputPath = Some(out))
      }
      // six stable points: past warmup, variance ~0, level ~100
      writeEvents("b1.json", (0 to 5).map(i => (i.toLong, i, 100.0)))
      val q1 = query("ew_r1"); q1.processAllAvailable(); q1.stop()
      // restart on the same checkpoint: the spike must be judged
      // against the RECOVERED gauge (n=6 ≥ warmup ⇒ alarm, n_seen=7);
      // a fresh query would re-initialize on it (no alarm, n_seen=1)
      writeEvents("b2.json", Seq((6L, 6, 200.0)))
      val q2 = query("ew_r2"); q2.processAllAvailable(); q2.stop()
      val row = spark.read.parquet(out).collect()
        .filter(_.getAs[Long]("event_id") == 6L).head
      assert(row.getAs[Long]("n_seen") == 7L,
        s"gauge count not recovered: ${row.getAs[Long]("n_seen")}")
      assert(row.getAs[Boolean]("is_alarm"),
        "post-restart spike must alarm against the recovered variance")
      assert(math.abs(row.getAs[Double]("resid") - 100.0) < 1e-9,
        s"resid must be against the recovered level: ${row.getAs[Double]("resid")}")
    }
  }

  test("ListState top-k recovers the buffer across checkpoint restart") {
    import spark.implicits._
    import graft.streaming.WindowTopK
    withRocksDb {
      val src = tmp("tk-src"); val ck = tmp("ck-tk-restart"); val out = tmp("out-tk-restart")
      def at(h: Int) = Instant.parse("2024-01-01T00:00:00Z").plusSeconds(h * 3600L)
      def writeEvents(file: String, rows: Seq[(Long, Int, Double)]): Unit =
        Files.write(java.nio.file.Paths.get(src, file),
          rows.map { case (id, h, v) =>
            s"""{"user_id":7,"event_id":$id,"ts":"${at(h)}","value":$v}"""
          }.mkString("\n").getBytes)
      val schema = new org.apache.spark.sql.types.StructType()
        .add("user_id", "long").add("event_id", "long")
        .add("ts", "timestamp").add("value", "double")
      def query(name: String) = {
        val events = spark.readStream.schema(schema).json(src)
          .withWatermark("ts", "0 seconds").as[WindowTopK.ValuedEvent]
        RecordStream.startSink(
          WindowTopK.admitted(events, k = 1, windowMs = 24L * 3600L * 1000L).toDF(),
          "parquet", name, ck, 100L, outputPath = Some(out))
      }
      writeEvents("b1.json", Seq((0L, 0, 50.0))) // fills the k=1 buffer
      val q1 = query("tk_r1"); q1.processAllAvailable(); q1.stop()
      // restart on the same checkpoint: 10.0 loses to the RECOVERED
      // 50.0 (a fresh query would admit it into an empty buffer);
      // 60.0 beats it
      writeEvents("b2.json", Seq((1L, 1, 10.0), (2L, 2, 60.0)))
      val q2 = query("tk_r2"); q2.processAllAvailable(); q2.stop()
      val kept = spark.read.parquet(out).collect().map(_.getAs[Long]("event_id")).sorted.toSeq
      assert(kept == Seq(0L, 2L),
        s"top-k buffer not recovered across restart (1 should lose to recovered 50.0): $kept")
    }
  }

  test("re-armed processors hold exactly one registered timer per live key") {
    // Each micro-batch moves every key's cleanup timer forward, so each
    // batch must delete the timer the batch before registered. The 24 h
    // watermark delay keeps every superseded timer from firing, so a
    // missed delete would show as extra registered timers.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.{CooldownDedup, QuotaLimiter, WindowTopK}
    withRocksDb {
      def at(h: Int) = Instant.parse("2024-01-01T00:00:00Z").plusSeconds(h * 3600L)
      val hourMs = 3600L * 1000L
      // user_id → its registered timers (every key here leads with user_id)
      def timersByUser(ck: String): Map[Long, Seq[Long]] =
        spark.read.format("statestore").option("readRegisteredTimers", "true").load(ck)
          .collect().toSeq
          .groupMap(_.getStruct(0).getLong(0))(_.getAs[Long]("expiration_timestamp_ms"))
      def run[E](name: String, in: MemoryStream[E], out: org.apache.spark.sql.DataFrame,
                 batches: Seq[Seq[E]]): Map[Long, Seq[Long]] = {
        val ck = tmp(s"ck-$name")
        val q = RecordStream.startSink(out, "memory", name, ck, 100L)
        batches.foreach { b => in.addData(b: _*); q.processAllAvailable() }
        q.stop()
        timersByUser(ck)
      }
      // three batches per key, at 0h, 2h and 4h; only the timer the 4h
      // batch registered may remain
      def one(dueMs: Long) = Map(1L -> Seq(dueMs), 2L -> Seq(dueMs))
      val keyed = MemoryStream[CooldownDedup.KeyedEvent]
      val keyedBatches = Seq(0, 2, 4).map(h => Seq(1L, 2L).map(u =>
        CooldownDedup.KeyedEvent(u, "alert", h * 10L + u, at(h))))
      val cooldown = run("timers_cooldown", keyed,
        CooldownDedup.kept(keyed.toDS().withWatermark("ts", "24 hours"), hourMs).toDF(),
        keyedBatches)
      assert(cooldown == one(at(4).toEpochMilli + hourMs), s"CooldownDedup.kept timers: $cooldown")

      val metered = MemoryStream[CooldownDedup.KeyedEvent]
      val quota = run("timers_quota", metered,
        QuotaLimiter.admitted(metered.toDS().withWatermark("ts", "24 hours"), 3, hourMs).toDF(),
        keyedBatches)
      assert(quota == one(at(6).toEpochMilli), s"QuotaLimiter.admitted timers: $quota")

      val valued = MemoryStream[WindowTopK.ValuedEvent]
      val topk = run("timers_topk", valued,
        WindowTopK.admitted(valued.toDS().withWatermark("ts", "24 hours"), 2, hourMs).toDF(),
        Seq(0, 2, 4).map(h => Seq(1L, 2L).map(u =>
          WindowTopK.ValuedEvent(u, h * 10L + u, at(h), h.toDouble))))
      assert(topk == one(at(5).toEpochMilli + 1), s"WindowTopK.admitted timers: $topk")
    }
  }

  test("Attribution inner join emits lag_sec for in-horizon clicks only") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val imps = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val clicks = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val out = graft.streaming.Attribution.attributed(
      imps.toDF().toDF("imp_id", "user_id", "imp_ts"),
      clicks.toDF().toDF("click_id", "user_id", "click_ts"),
      horizonSec = 600L, delaySec = 300L)
    val q = RecordStream.startSink(out, "memory", "attr_inner_sink", tmp("ck-attr-i"), 100L)
    imps.addData((10L, 1L, ts(0)), (11L, 2L, ts(0)))
    clicks.addData((20L, 1L, ts(5)))   // 5 min after imp 10 → match, lag 300 s
    clicks.addData((21L, 2L, ts(30)))  // 30 min after imp 11 → outside horizon
    q.processAllAvailable()
    val rows = spark.table("attr_inner_sink").collect()
      .map(r => (r.getAs[Long]("imp_id"), r.getAs[Long]("click_id"), r.getAs[Long]("lag_sec")))
    q.stop()
    assert(rows.toSeq == Seq((10L, 20L, 300L)), s"got ${rows.toSeq}")
  }

  test("Attribution left-outer certifies unconverted impressions with nulls after the watermark") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val imps = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val clicks = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val out = graft.streaming.Attribution.attributedLeftOuter(
      imps.toDF().toDF("imp_id", "user_id", "imp_ts"),
      clicks.toDF().toDF("click_id", "user_id", "click_ts"),
      horizonSec = 600L, delaySec = 300L)
    val q = RecordStream.startSink(out, "memory", "attr_outer_sink", tmp("ck-attr-o"), 100L)
    imps.addData((10L, 1L, ts(0)), (11L, 2L, ts(0)))
    clicks.addData((20L, 1L, ts(5)))   // user 1 converts; user 2 never does
    q.processAllAvailable()
    // the null row must NOT appear yet — the horizon is still open
    val early = spark.table("attr_outer_sink").collect()
    assert(!early.exists(_.isNullAt(early.head.fieldIndex("click_id"))),
      s"null row emitted before the watermark closed the horizon: ${early.toSeq}")
    // advance BOTH watermarks far past imp_ts + horizon + delay
    imps.addData((12L, 3L, ts(120)))
    clicks.addData((22L, 3L, ts(200)))  // outside imp 12's horizon: also unmatched
    q.processAllAvailable()
    imps.addData((13L, 4L, ts(400)))    // one more batch so evicted state is flushed
    clicks.addData((23L, 4L, ts(400)))
    q.processAllAvailable()
    val rows = spark.table("attr_outer_sink").collect()
      .map(r => (r.getAs[Long]("imp_id"),
                 if (r.isNullAt(r.fieldIndex("click_id"))) -1L else r.getAs[Long]("click_id")))
    q.stop()
    assert(rows.contains((10L, 20L)), s"matched pair lost: ${rows.toSeq}")
    assert(rows.contains((11L, -1L)),
      s"unconverted impression 11 never certified with a null click: ${rows.toSeq}")
  }
}
