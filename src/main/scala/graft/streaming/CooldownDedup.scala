package graft.streaming

import java.time.Instant

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming._

import EventTimers.{expire, inEventOrder, rearm, stored, us}

/** Sliding-cooldown event dedup — the LAST-KEPT-EVENT semantics that
  * the batch gap-session form (q121, `operators/Profiling.scala`)
  * explicitly does NOT implement: q121 suppresses an event when the
  * previous OCCURRENCE is within 12 h (one alert per burst — a
  * steady drip of sub-cooldown events stays suppressed forever),
  * while an alerting pipeline usually wants "re-emit every cooldown
  * during a sustained burst" — suppress only while within the
  * cooldown of the last EMITTED event. That is a running recurrence
  * (kept_i depends on which earlier events were kept), so no window
  * frame expresses it; it needs carried state:
  *
  *  - streaming [[kept]]: `transformWithState` keyed by
  *    (user_id, event_type), state = a named typed `ValueState` holding
  *    the last-kept timestamp (the frontier). Events within a
  *    micro-batch are sorted by (ts, event_id) and replayed through the
  *    recurrence; the state then persists the frontier across batches
  *    and restarts (checkpointed, exactly-once, RocksDB provider).
  *    Cross-batch ORDER contract: an event arriving in a later batch
  *    with ts ≤ lastKept + cooldown is suppressed even if a perfect
  *    global ordering might have kept it (the state knows only the
  *    kept frontier, not every kept timestamp) — the conservative,
  *    alerting-safe direction (never double-alerts). With a
  *    watermark, state expires via an event-time timer once the
  *    watermark passes lastKept + cooldown: any event that could
  *    still be affected by the state would be beyond-watermark late
  *    and already dropped, so retention is bounded by
  *    watermark-delay + cooldown per active key, not by history.
  *
  *  - batch [[keptBatch]]: the same recurrence via `flatMapGroups`
  *    (one sorted pass per key — a batch query has no watermark to
  *    fire timers, same reason Sessionize has a batch twin).
  *    Registered as judged query q136 with a hash-matched DuckDB
  *    oracle since round 8: the recurrence is not a window
  *    frame (that inexpressibility is this operator's reason to
  *    exist) but a recursive CTE replays it one row per key per
  *    iteration; StreamingDepthSpec's sequential reference + the
  *    q121-divergence property hold the batch ↔ streaming parity.
  *
  * Scale: one shuffle by (user_id, event_type); per-key state is a
  * single long regardless of burst length; batch form streams each
  * group through one sorted iterator pass.
  */
object CooldownDedup {

  case class KeyedEvent(user_id: Long, event_type: String, event_id: Long, ts: Instant)
  case class Kept(user_id: Long, event_type: String, event_id: Long, ts: Instant)
  /** `timerMs` is the expiry timer ACTUALLY registered (EventTimers
    * contract): the max-with-watermark branch at registration can
    * diverge from `lastKeptUs / 1000 + cooldownMs`.
    */
  case class Frontier(lastKeptUs: Long, timerMs: Long)

  private val frontierEncoder = Encoders.product[Frontier]

  /** Replay the recurrence over in-order events given a prior
    * frontier; returns (kept events, new frontier).
    */
  private[streaming] def replay(sorted: Seq[KeyedEvent], prior: Option[Long],
                                cooldownUs: Long): (Vector[KeyedEvent], Option[Long]) =
    sorted.foldLeft((Vector.empty[KeyedEvent], prior)) { case ((acc, last), e) =>
      val keep = last.forall(us(e.ts) - _ > cooldownUs)
      if (keep) (acc :+ e, Some(us(e.ts))) else (acc, last)
    }

  /** Batch twin: the same recurrence, one sorted pass per key. */
  def keptBatch(events: Dataset[KeyedEvent], cooldownMs: Long): Dataset[Kept] = {
    import events.sparkSession.implicits._
    val cooldownUs = cooldownMs * 1000L
    events
      .groupByKey(e => (e.user_id, e.event_type))
      .flatMapGroups { (_, it: Iterator[KeyedEvent]) =>
        replay(inEventOrder(it)(_.ts, _.event_id), None, cooldownUs)._1.iterator
          .map(e => Kept(e.user_id, e.event_type, e.event_id, e.ts))
      }
  }

  class CooldownProcessor(cooldownMs: Long)
      extends StatefulProcessor[(Long, String), KeyedEvent, Kept] {
    private val cooldownUs = cooldownMs * 1000L
    @transient private var frontier: ValueState[Frontier] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      frontier = getHandle.getValueState("frontier", frontierEncoder, TTLConfig.NONE)

    override def handleInputRows(key: (Long, String), rows: Iterator[KeyedEvent],
                                 tv: TimerValues): Iterator[Kept] = {
      val prior = stored(frontier)
      val (keptEvents, next) =
        replay(inEventOrder(rows)(_.ts, _.event_id), prior.map(_.lastKeptUs), cooldownUs)
      // state is inert once wm > lastKept + cooldown: any event it
      // could suppress would already be watermark-late
      next.foreach { f =>
        val timerMs = rearm(getHandle, tv, prior.map(_.timerMs), f / 1000L + cooldownMs)
        frontier.update(Frontier(f, timerMs))
      }
      keptEvents.iterator.map(e => Kept(e.user_id, e.event_type, e.event_id, e.ts))
    }

    override def handleExpiredTimer(key: (Long, String), tv: TimerValues,
                                    info: ExpiredTimerInfo): Iterator[Kept] =
      expire(stored(frontier).map(_.timerMs), info) { frontier.clear(); Iterator.empty }
  }

  /** Streaming sliding-cooldown dedup. Call on a dataset that already
    * has `withWatermark("ts", ...)`: the watermark fires the timers that
    * bound state. Sets the RocksDB state store on its session
    * ([[RocksDbState.configure]]).
    */
  def kept(events: Dataset[KeyedEvent], cooldownMs: Long): Dataset[Kept] = {
    RocksDbState.configure(events.sparkSession)
    implicit val keptEnc: org.apache.spark.sql.Encoder[Kept] = Encoders.product[Kept]
    events
      .groupByKey(e => (e.user_id, e.event_type))(
        Encoders.tuple(Encoders.scalaLong, Encoders.STRING))
      .transformWithState(new CooldownProcessor(cooldownMs), TimeMode.EventTime(), OutputMode.Append())
  }
}
