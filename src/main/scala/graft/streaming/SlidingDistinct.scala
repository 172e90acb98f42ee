package graft.streaming

import java.time.Instant

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming._

import EventTimers.{expire, inEventOrder, rearm, stored, timerBookEncoder, us}

/** Per-key sliding-window DISTINCT tracking on `MapState` — the keyed-
  * collection sibling of WindowTopK's ListState (round 10, VERDICT
  * item 5): per user, stamp every event with how many DISTINCT event
  * types the user produced in the sliding window ending at that event,
  * and whether this event's type is new to the window — the behavioral
  * breadth signal (sudden type-diversity spikes flag scripted abuse;
  * narrow repetition flags bots).
  *
  * State per key is a `MapState[event_type, lastSeenUs]` — one entry
  * per type live in the window, evicted per event against the event's
  * own timestamp, so state is O(|event types live in one window|), a
  * vocabulary bound, not history. The map is the RIGHT state shape
  * here (vs a ValueState of a whole map): RocksDB stores each map key
  * separately, so updating one type's timestamp rewrites one entry,
  * not the whole collection — the point of MapState at scale.
  *
  * Determinism: the same (ts, event_id) replay order and per-event
  * eviction contract as WindowTopK — a pure fold over the event
  * sequence, invariant to micro-batch splits; StreamingDepthSpec
  * replays it sequentially and requires parity. Cleanup: a timer one
  * window past the newest map timestamp clears the key (`TimerBook`,
  * the EventTimers contract).
  */
object SlidingDistinct {

  case class Stamped(user_id: Long, event_id: Long, ts: Instant,
                     event_type: String, is_new_type: Boolean, n_distinct: Int)

  class DistinctProcessor(windowMs: Long)
      extends StatefulProcessor[Long, CooldownDedup.KeyedEvent, Stamped] {
    private val windowUs = windowMs * 1000L
    @transient private var seen: MapState[String, Long] = _
    @transient private var book: ValueState[TimerBook] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      seen = getHandle.getMapState("seen", Encoders.STRING, Encoders.scalaLong, TTLConfig.NONE)
      book = getHandle.getValueState("book", timerBookEncoder, TTLConfig.NONE)
    }

    override def handleInputRows(key: Long, rows: Iterator[CooldownDedup.KeyedEvent],
                                 tv: TimerValues): Iterator[Stamped] = {
      val out = Vector.newBuilder[Stamped]
      var maxUs = 0L
      inEventOrder(rows)(_.ts, _.event_id).foreach { e =>
        val now = us(e.ts)
        maxUs = math.max(maxUs, now)
        // evict types whose last sighting fell out of the window
        // ending at THIS event (per-event eviction — the deterministic
        // fold contract). Iterating then mutating: materialize first.
        seen.iterator().toVector.foreach { case (tpe, last) =>
          if (last <= now - windowUs) seen.removeKey(tpe)
        }
        val isNew = !seen.containsKey(e.event_type)
        seen.updateValue(e.event_type, now)
        out += Stamped(e.user_id, e.event_id, e.ts, e.event_type,
                       isNew, seen.keys().size)
      }
      if (maxUs > 0L) {
        val due = (maxUs + windowUs) / 1000L + 1
        book.update(TimerBook(rearm(getHandle, tv, stored(book).map(_.timerMs), due)))
      }
      out.result().iterator
    }

    override def handleExpiredTimer(key: Long, tv: TimerValues,
                                    info: ExpiredTimerInfo): Iterator[Stamped] =
      expire(stored(book).map(_.timerMs), info) { seen.clear(); book.clear(); Iterator.empty }
  }

  /** Stamp each event with its user's live distinct-type breadth over
    * the sliding `windowMs`. Call on a watermarked dataset; sets the
    * RocksDB state store on its session ([[RocksDbState.configure]]).
    */
  def stamped(events: Dataset[CooldownDedup.KeyedEvent], windowMs: Long): Dataset[Stamped] = {
    RocksDbState.configure(events.sparkSession)
    implicit val enc: org.apache.spark.sql.Encoder[Stamped] = Encoders.product[Stamped]
    events
      .groupByKey(_.user_id)(Encoders.scalaLong)
      .transformWithState(new DistinctProcessor(windowMs),
        TimeMode.EventTime(), OutputMode.Append())
  }
}
