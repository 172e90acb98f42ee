package graft.streaming

import java.time.Instant
import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming._

import EventTimers.{expire, stored, us}

/** Custom stateful sessionization on Spark 4's `transformWithState` —
  * the "streaming state beyond the reference" operator (SURVEY.md §7.3
  * stage 4). The reference had checkpoint plumbing but never a stateful
  * operator (SURVEY.md §2.2); this is the canonical one: group events by
  * user, close a session when `gapMs` passes without activity.
  *
  *  - the open session is a named, typed `ValueState`;
  *  - session expiry is an explicit registered EVENT-TIME TIMER with a
  *    `handleExpiredTimer` callback, at a value derived from the state
  *    (last event + gap), so no timer bookkeeping is stored;
  *  - the runtime requires the RocksDB state store provider, which
  *    [[sessions]] sets, with changelog checkpointing
  *    ([[RocksDbState]]); it is also the provider you'd run at scale
  *    (bounded memory via off-heap blocks).
  *
  * All arithmetic is in epoch MICROseconds (`Instant`, not
  * `java.sql.Timestamp.getTime` which truncates to millis — the events
  * table carries microsecond timestamps and the DuckDB oracle compares
  * them exactly).
  *
  * Scale notes: state is one small fixed-size record per active user key,
  * hash-partitioned by the groupBy shuffle across executors and persisted
  * in the checkpointed state store; the event-time timer + watermark bound
  * state growth (idle keys are evicted when the watermark passes
  * last+gap). Semantics match the built-in `session_window` (end = last
  * event + gap), cross-checked by the oracle-backed batch queries.
  */
object Sessionize {

  case class Event(user_id: Long, ts: Instant, value: Double)
  case class SessionState(startUs: Long, lastUs: Long, n: Long, sum: Double)
  case class Session(user_id: Long, session_start: Instant,
                     session_end: Instant, n_events: Long, sum_value: Double)

  private val sessionStateEncoder = Encoders.product[SessionState]

  private def instant(u: Long): Instant = Instant.ofEpochSecond(u / 1000000L, (u % 1000000L) * 1000L)

  /** Split a user's events into gap-separated sessions (input sorted here). */
  private[streaming] def split(events: Seq[Event], gapUs: Long): Vector[SessionState] =
    events.sortBy(e => us(e.ts)).foldLeft(Vector.empty[SessionState]) { (acc, e) =>
      val t = us(e.ts)
      acc.lastOption match {
        case Some(s) if t - s.lastUs < gapUs =>
          acc.init :+ s.copy(lastUs = t, n = s.n + 1, sum = s.sum + e.value)
        case _ => acc :+ SessionState(t, t, 1, e.value)
      }
    }

  private[streaming] def toSession(uid: Long, s: SessionState, gapUs: Long): Session =
    Session(uid, instant(s.startUs), instant(s.lastUs + gapUs), s.n, s.sum)

  /** Interval-merge a recovered open session with a batch's sessions,
    * ordered by start time. A plain "does the first batch session
    * extend the state" test breaks on late (but within-watermark)
    * events that precede the open session: it would drag lastUs
    * backwards and emit a session that ends before it starts. Sorting +
    * gap-merging with max(lastUs) handles any arrival order.
    */
  private[streaming] def mergeSessions(prior: Seq[SessionState], batch: Seq[Event],
                                       gapUs: Long): Vector[SessionState] = {
    val all = (prior ++ split(batch, gapUs)).sortBy(_.startUs)
    all.tail.foldLeft(Vector(all.head)) { (acc, s) =>
      val prev = acc.last
      if (s.startUs - prev.lastUs < gapUs)
        acc.init :+ prev.copy(lastUs = math.max(prev.lastUs, s.lastUs),
                              n = prev.n + s.n, sum = prev.sum + s.sum)
      else acc :+ s
    }
  }

  class SessionProcessor(gapMs: Long) extends StatefulProcessor[Long, Event, Session] {
    private val gapUs = gapMs * 1000L
    @transient private var open: ValueState[SessionState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      open = getHandle.getValueState("open", sessionStateEncoder, TTLConfig.NONE)

    private def expiryMs(s: SessionState): Long = (s.lastUs + gapUs) / 1000L

    override def handleInputRows(key: Long, rows: Iterator[Event],
                                 tv: TimerValues): Iterator[Session] = {
      val batch = rows.toSeq
      if (batch.isEmpty) Iterator.empty
      else {
        val prior = stored(open).toSeq
        prior.foreach(s => getHandle.deleteTimer(expiryMs(s)))
        val merged = mergeSessions(prior, batch, gapUs)
        // The latest session stays open; everything earlier is closed
        // (any future event that could extend one would be behind the
        // watermark once the timer for the open session fires).
        val (closed, live) = (merged.init, merged.last)
        open.update(live)
        getHandle.registerTimer(expiryMs(live))
        closed.iterator.map(toSession(key, _, gapUs))
      }
    }

    override def handleExpiredTimer(key: Long, tv: TimerValues,
                                    info: ExpiredTimerInfo): Iterator[Session] =
      // A stale timer (session was extended after this timer was set,
      // e.g. across a restart) must not close the live session early.
      expire(stored(open).map(expiryMs), info) {
        val out = toSession(key, open.get(), gapUs)
        open.clear()
        Iterator.single(out)
      }
  }

  /** Streaming sessionize. Call on a dataset that already has
    * `withWatermark("ts", ...)`; a user's session closes and emits when
    * its timer fires (watermark passes last event + gap). Sets the
    * RocksDB state store, transformWithState's state-v2 backend, on
    * its session ([[RocksDbState.configure]]).
    */
  def sessions(events: Dataset[Event], gapMs: Long): Dataset[Session] = {
    RocksDbState.configure(events.sparkSession)
    implicit val sessionEnc: org.apache.spark.sql.Encoder[Session] = Encoders.product[Session]
    events
      .groupByKey(_.user_id)(Encoders.scalaLong)
      .transformWithState(new SessionProcessor(gapMs), TimeMode.EventTime(), OutputMode.Append())
  }

  /** Batch-mode sessionize: a batch query has no watermark to fire the
    * closing timers, which would swallow each user's final open
    * session — so batch uses a plain `flatMapGroups` over the same
    * `split` logic.
    */
  def sessionsBatch(events: Dataset[Event], gapMs: Long): Dataset[Session] = {
    import events.sparkSession.implicits._
    val gapUs = gapMs * 1000L
    events.groupByKey(_.user_id).flatMapGroups { (uid: Long, it: Iterator[Event]) =>
      split(it.toSeq, gapUs).map(toSession(uid, _, gapUs)).iterator
    }
  }
}
