package graft.streaming

import java.time.Instant

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming._

import EventTimers.{expire, inEventOrder, rearm, stored, timerBookEncoder, us}

/** Streaming EWMA control chart — the online twin of the batch q292
  * (`operators/Evaluation.scala`): per metric key, maintain the
  * exponentially-weighted mean AND the exponentially-weighted variance
  * of the one-step residuals, and stamp every event with its smoothed
  * level, residual, and alarm flag (resid² > L²·v̂, after a warmup
  * count so the empty-variance cold start can't alarm on noise).
  *
  * This is the recurrence the batch form deliberately avoids (q292
  * evaluates the closed-form triangular sum because batch has no
  * sequential pass); streaming IS a sequential pass, so the recurrence
  * is the natural — and O(1)-state — implementation: one
  * `ValueState[Gauge]` per key, three doubles and a count, no history.
  * Contrast with storing a window of raw values: the EW pair is the
  * constant-memory form of "level + scale" monitoring at any rate.
  *
  * Determinism: rows fold in `(ts, event_id)` order within each batch,
  * and state carries the fold frontier across batches, so the stamped
  * output is a pure fold over the event sequence — invariant to
  * micro-batch splits (StreamingDepthSpec replays it sequentially and
  * requires parity; `scoredBatch` is the identical fold in batch form).
  * Cleanup: a timer `idleMs` past the newest event clears the key
  * (`TimerBook`, the EventTimers contract).
  */
object EwmaMonitor {

  /** Metric sample keyed by `event_type` (the monitored stream). */
  case class MetricEvent(event_type: String, event_id: Long, ts: Instant, value: Double)

  case class Scored(event_type: String, event_id: Long, ts: Instant, value: Double,
                    ewma: Double, resid: Double, is_alarm: Boolean, n_seen: Long)

  // NOT private: Encoders.product codegen (Janino) can't call accessors on a
  // private case class and silently falls back to interpreted serialization.
  case class Gauge(s: Double, v: Double, n: Long)

  private val gaugeEncoder = Encoders.product[Gauge]

  /** The shared fold step: returns the stamped row and the next gauge.
    * First event of a key sets the level (s₀ = x₀, resid 0, no alarm);
    * after that: resid against the PRIOR level, alarm against the
    * PRIOR variance (never against a variance the current point just
    * inflated), then both gauges roll forward.
    */
  def step(g: Option[Gauge], e: MetricEvent, alpha: Double, beta: Double,
           l2: Double, warmup: Long): (Scored, Gauge) = g match {
    case None =>
      (Scored(e.event_type, e.event_id, e.ts, e.value, e.value, 0.0,
        is_alarm = false, n_seen = 1L), Gauge(e.value, 0.0, 1L))
    case Some(Gauge(s, v, n)) =>
      val resid = e.value - s
      val alarm = n >= warmup && resid * resid > l2 * v
      val s2 = alpha * e.value + (1.0 - alpha) * s
      val v2 = beta * v + (1.0 - beta) * resid * resid
      (Scored(e.event_type, e.event_id, e.ts, e.value, s2, resid, alarm, n + 1L),
        Gauge(s2, v2, n + 1L))
  }

  class EwmaProcessor(alpha: Double, beta: Double, l2: Double, warmup: Long,
                      idleMs: Long)
      extends StatefulProcessor[String, MetricEvent, Scored] {
    @transient private var gauge: ValueState[Gauge] = _
    @transient private var book: ValueState[TimerBook] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      gauge = getHandle.getValueState("gauge", gaugeEncoder, TTLConfig.NONE)
      book = getHandle.getValueState("book", timerBookEncoder, TTLConfig.NONE)
    }

    override def handleInputRows(key: String, rows: Iterator[MetricEvent],
                                 tv: TimerValues): Iterator[Scored] = {
      val out = Vector.newBuilder[Scored]
      var maxUs = 0L
      var g = stored(gauge)
      inEventOrder(rows)(_.ts, _.event_id).foreach { e =>
        maxUs = math.max(maxUs, us(e.ts))
        val (scored, g2) = step(g, e, alpha, beta, l2, warmup)
        out += scored
        g = Some(g2)
      }
      g.foreach(gauge.update)
      if (maxUs > 0L) {
        val due = maxUs / 1000L + idleMs
        book.update(TimerBook(rearm(getHandle, tv, stored(book).map(_.timerMs), due)))
      }
      out.result().iterator
    }

    override def handleExpiredTimer(key: String, tv: TimerValues,
                                    info: ExpiredTimerInfo): Iterator[Scored] =
      expire(stored(book).map(_.timerMs), info) { gauge.clear(); book.clear(); Iterator.empty }
  }

  /** Stamp each metric event with its key's EWMA level, residual, and
    * alarm flag. Call on a watermarked dataset; sets the RocksDB state
    * store on its session ([[RocksDbState.configure]]).
    */
  def scored(events: Dataset[MetricEvent], alpha: Double = 0.3, beta: Double = 0.9,
             l2: Double = 9.0, warmup: Long = 5L,
             idleMs: Long = 24L * 3600L * 1000L): Dataset[Scored] = {
    RocksDbState.configure(events.sparkSession)
    implicit val enc: org.apache.spark.sql.Encoder[Scored] = Encoders.product[Scored]
    events
      .groupByKey(_.event_type)(Encoders.STRING)
      .transformWithState(new EwmaProcessor(alpha, beta, l2, warmup, idleMs),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** Batch twin: the identical fold over each key's full history in one
    * sorted pass (single key shuffle) — the parity yardstick for the
    * streaming form, and the backfill path a monitoring pipeline runs
    * over historical data before going live.
    */
  def scoredBatch(events: Dataset[MetricEvent], alpha: Double = 0.3,
                  beta: Double = 0.9, l2: Double = 9.0,
                  warmup: Long = 5L): Dataset[Scored] = {
    implicit val enc: org.apache.spark.sql.Encoder[Scored] = Encoders.product[Scored]
    events
      .groupByKey(_.event_type)(Encoders.STRING)
      .flatMapGroups { (_, rows) =>
        var g: Option[Gauge] = None
        inEventOrder(rows)(_.ts, _.event_id).map { e =>
          val (scored, g2) = step(g, e, alpha, beta, l2, warmup)
          g = Some(g2)
          scored
        }.iterator
      }
  }
}
