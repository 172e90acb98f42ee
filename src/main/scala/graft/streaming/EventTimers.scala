package graft.streaming

import java.time.Instant

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, StatefulProcessorHandle, TimerValues, ValueState}

/** The cleanup timer a key ACTUALLY registered, kept in a `ValueState`
  * by processors whose own state cannot recompute it.
  */
// NOT private: Encoders.product codegen (Janino) can't call accessors on a
// private case class and silently falls back to interpreted serialization
// (one compilerError stack per micro-batch).
case class TimerBook(timerMs: Long)

/** Event-time plumbing shared by the `transformWithState` processors.
  *
  * Timer contract: each key holds at most ONE registered event-time
  * cleanup timer, and its state records that timer's exact value
  * (`TimerBook`, `CooldownDedup.Frontier.timerMs`,
  * `QuotaLimiter.WindowBudget.timerMs`). The value cannot be recomputed
  * from the rest of the state: registration takes the max with the
  * then-current watermark + 1, which later batches don't know. Keeping
  * it lets [[rearm]] delete the superseded timer instead of leaving one
  * stale no-op timer per (key, batch).
  */
private[streaming] object EventTimers {

  /** Built once per JVM: `Encoders.product` runs Scala reflection, and
    * every task of every batch calls its processor's `init`.
    */
  val timerBookEncoder: Encoder[TimerBook] = Encoders.product[TimerBook]

  /** Epoch MICROseconds — the events tables carry microsecond
    * timestamps (`java.sql.Timestamp.getTime` would truncate to millis).
    */
  def us(t: Instant): Long = t.getEpochSecond * 1000000L + t.getNano / 1000L

  /** Rows in (microsecond ts, event_id) order: the replay order of
    * every per-key fold here, so the output is a pure function of the
    * event sequence whatever the micro-batch split.
    */
  def inEventOrder[E](rows: Iterator[E])(ts: E => Instant, id: E => Long): Vector[E] =
    rows.toVector.sortBy(e => (us(ts(e)), id(e)))

  def stored[S](v: ValueState[S]): Option[S] = if (v.exists()) Some(v.get()) else None

  /** Move the key's timer to `dueMs`, or to the watermark + 1 when
    * `dueMs` is already behind it (a timer must fire after the current
    * watermark). Deletes `priorMs`, the timer registered before, when it
    * is superseded. Returns the timer now registered, for the state.
    */
  def rearm(handle: StatefulProcessorHandle, tv: TimerValues,
            priorMs: Option[Long], dueMs: Long): Long = {
    val timerMs = math.max(dueMs, tv.getCurrentWatermarkInMs() + 1)
    if (!priorMs.contains(timerMs)) {
      priorMs.foreach(handle.deleteTimer)
      handle.registerTimer(timerMs)
    }
    timerMs
  }

  /** On expiry: run `onExpire` (clear the key, emit what closes) only
    * if the firing timer is the key's current one — a stale timer must
    * not clear state a later batch moved the timer on for.
    */
  def expire[T](registeredMs: Option[Long], info: ExpiredTimerInfo)(
      onExpire: => Iterator[T]): Iterator[T] =
    if (registeredMs.exists(_ <= info.getExpiryTimeInMs)) onExpire else Iterator.empty
}
