package graft.streaming

import java.time.Instant

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming._

import EventTimers.{expire, inEventOrder, rearm, stored, us}

/** Per-key event-time quota limiting — admit at most `maxPerWindow`
  * events per (user, event_type) per tumbling event-time hour, drop
  * the rest. The ingest-side rate control every collection pipeline
  * runs in front of expensive sinks (alert fan-out, enrichment
  * calls, per-event model scoring); the COUNTING sibling of the
  * dedup family (StreamDedup admits by novelty, CooldownDedup by
  * elapsed time, this by budget).
  *
  * State per key is ONE (windowStart, count) pair — the current
  * tumbling window's budget. Batches replay in (ts, event_id) order;
  * an event in a LATER window resets the counter (tumbling, not
  * sliding — budget does not carry over). Late events from an
  * ALREADY-PASSED window are dropped even if that window's budget
  * had room (the state only knows the newest window — conservative,
  * like CooldownDedup's frontier contract; with a watermark such
  * events are beyond-watermark anyway). State expires via an
  * event-time timer one full window after the tracked window's end:
  * once the watermark passes that, nothing the state could meter
  * remains admissible.
  *
  * Spark-4 `transformWithState` (RocksDB provider): named typed
  * ValueState + explicit timers, like Sessionize and CooldownDedup.
  */
object QuotaLimiter {

  case class Admitted(user_id: Long, event_type: String, event_id: Long,
                      ts: Instant, n_in_window: Long)
  /** `timerMs` is the expiry timer ACTUALLY registered for this key
    * (EventTimers contract).
    */
  case class WindowBudget(windowStartUs: Long, count: Long, timerMs: Long)

  private val windowBudgetEncoder = Encoders.product[WindowBudget]

  class QuotaProcessor(maxPerWindow: Int, windowMs: Long)
      extends StatefulProcessor[(Long, String), CooldownDedup.KeyedEvent, Admitted] {
    private val windowUs = windowMs * 1000L
    @transient private var budget: ValueState[WindowBudget] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      budget = getHandle.getValueState("budget", windowBudgetEncoder, TTLConfig.NONE)

    private def windowStart(eventUs: Long): Long = eventUs - eventUs % windowUs

    override def handleInputRows(key: (Long, String),
                                 rows: Iterator[CooldownDedup.KeyedEvent],
                                 tv: TimerValues): Iterator[Admitted] = {
      val prior = stored(budget)
      var state = prior
      val out = Vector.newBuilder[Admitted]
      inEventOrder(rows)(_.ts, _.event_id).foreach { e =>
        val w = windowStart(us(e.ts))
        state match {
          case Some(b) if w < b.windowStartUs => // late, window already advanced: drop
          case Some(b) if w == b.windowStartUs =>
            if (b.count < maxPerWindow) {
              val nb = b.copy(count = b.count + 1)
              state = Some(nb)
              out += Admitted(e.user_id, e.event_type, e.event_id, e.ts, nb.count)
            } // else: budget exhausted, drop
          case _ => // first event ever, or a newer window: reset the budget
            state = Some(WindowBudget(w, 1, 0L))
            out += Admitted(e.user_id, e.event_type, e.event_id, e.ts, 1)
        }
      }
      state.foreach { b =>
        // inert once wm passes window end + one window of lateness slack
        val timerMs = rearm(getHandle, tv, prior.map(_.timerMs),
          (b.windowStartUs + 2 * windowUs) / 1000L)
        budget.update(b.copy(timerMs = timerMs))
      }
      out.result().iterator
    }

    override def handleExpiredTimer(key: (Long, String), tv: TimerValues,
                                    info: ExpiredTimerInfo): Iterator[Admitted] =
      expire(stored(budget).map(_.timerMs), info) { budget.clear(); Iterator.empty }
  }

  /** Admit ≤ `maxPerWindow` events per key per tumbling `windowMs`
    * event-time window. Call on a watermarked dataset; sets the
    * RocksDB state store on its session ([[RocksDbState.configure]]).
    */
  def admitted(events: Dataset[CooldownDedup.KeyedEvent], maxPerWindow: Int,
               windowMs: Long): Dataset[Admitted] = {
    RocksDbState.configure(events.sparkSession)
    implicit val enc: org.apache.spark.sql.Encoder[Admitted] = Encoders.product[Admitted]
    events
      .groupByKey(e => (e.user_id, e.event_type))(
        Encoders.tuple(Encoders.scalaLong, Encoders.STRING))
      .transformWithState(new QuotaProcessor(maxPerWindow, windowMs),
        TimeMode.EventTime(), OutputMode.Append())
  }
}
