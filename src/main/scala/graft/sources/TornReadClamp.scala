package graft.sources

/** Clamps a streaming source's latest-version reading to its committed
  * offset. `FrameMaintenance.totalVersions` reads the manifest and the
  * live listing WITHOUT the commit lock, so a concurrent maintenance
  * publish (e.g. a DELETE that has retired the segment but not yet
  * surfaced its manifest entry) can transiently read LOW — observed as a
  * (committed, lower] range crash in the continuous-matview spec.
  * Versions are append-only (rollback MINTS one, never removes), so a
  * reading below the committed offset is always a torn read; clamping
  * makes the trigger a no-op and the next one sees the settled state.
  *
  * A torn read clamps for one or two triggers; a reading that STAYS
  * below the committed offset is durable manifest corruption, which a
  * silent clamp would mask as an eternally idle stream. So the clamp
  * counts consecutive engagements and warns on the 1st and then on each
  * power-of-two count: visible at once, yet a stream stuck for good logs
  * O(log triggers) lines, not one per trigger.
  */
final class TornReadClamp(dir: java.io.File) {
  private var consecutive = 0

  /** `max(from, raw)` for committed offset `from` and reading `raw`. */
  def apply(from: Int, raw: Int): Int = {
    if (raw < from) {
      consecutive += 1
      if ((consecutive & (consecutive - 1)) == 0) // #1, #2, #4, #8, …
        System.err.println(s"[graft] WARNING: totalVersions($dir) read $raw below the " +
          s"committed offset $from (consecutive clamp #$consecutive); treating as " +
          "a torn read — persistent clamping indicates manifest corruption")
    } else consecutive = 0
    math.max(from, raw)
  }
}
