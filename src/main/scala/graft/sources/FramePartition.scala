package graft.sources

import java.time.{Instant, LocalDate, ZoneOffset}

/** Hidden time-partition transforms (round 16, VERDICT r15 item 2) —
  * `CREATE TABLE … PARTITIONED BY (days(ts_us))` (also hours/months/
  * years, optionally combined with the existing `bucket(n, key)`),
  * the commonest 100-TB ingest layout made first-class:
  *
  *  - the WRITE path routes each row to a per-partition segment file —
  *    one task may emit several, named `…-T<value>.bin` so the
  *    partition value is recoverable from the NAME alone;
  *  - the SCAN prunes whole partitions from names + pushed filters on
  *    the SOURCE column (hidden partitioning: queries filter on `ts_us`
  *    and never mention the transform), before any stats are consulted
  *    — so pruning works even for sidecar-less segments and costs zero
  *    metadata reads;
  *  - MAINTENANCE groups by partition: compaction never merges across
  *    partitions, and `CALL compact(…, partition => v)` scopes to one
  *    partition, leaving every other partition's segments untouched —
  *    the partition-grain lifecycle ops time-partitioned retention
  *    needs.
  *
  * The source column is a BIGINT holding EPOCH MICROSECONDS (the
  * engine's ts convention, e.g. `unix_micros(ts)`), declared NOT NULL
  * — a null routing value would need a null partition, which a
  * retention story built on time ranges has no use for. Transform
  * arithmetic is UTC, matching Spark's own days/hours/months/years
  * partition transforms.
  */
case class FrameTimePart(col: String, unit: String) extends Serializable {
  require(FrameTimePart.Units.contains(unit),
    s"unknown partition transform $unit (supported: ${FrameTimePart.Units.mkString(", ")})")

  private def dateOf(us: Long): LocalDate =
    Instant.ofEpochSecond(Math.floorDiv(us, 1000000L)).atZone(ZoneOffset.UTC).toLocalDate

  /** Partition value of an epoch-micros timestamp. */
  def value(us: Long): Long = unit match {
    case "hours"  => Math.floorDiv(us, 3600000000L)
    case "days"   => Math.floorDiv(us, 86400000000L)
    case "months" => val d = dateOf(us); (d.getYear - 1970).toLong * 12 + (d.getMonthValue - 1)
    case "years"  => val d = dateOf(us); (d.getYear - 1970).toLong
  }

  /** INCLUSIVE epoch-micros bounds [lo, hi] covered by a partition
    * value — the synthetic min/max the scan feeds to the same
    * conservative `mayMatch` rule sidecar stats use.
    */
  def boundsUs(pv: Long): (Long, Long) = unit match {
    case "hours" => (pv * 3600000000L, pv * 3600000000L + 3600000000L - 1)
    case "days"  => (pv * 86400000000L, pv * 86400000000L + 86400000000L - 1)
    case "months" =>
      val y = 1970 + Math.floorDiv(pv, 12).toInt
      val m = Math.floorMod(pv, 12).toInt + 1
      val lo = LocalDate.of(y, m, 1).atStartOfDay(ZoneOffset.UTC).toInstant
      val hi = LocalDate.of(y, m, 1).plusMonths(1).atStartOfDay(ZoneOffset.UTC).toInstant
      (lo.getEpochSecond * 1000000L, hi.getEpochSecond * 1000000L - 1)
    case "years" =>
      val lo = LocalDate.of(1970 + pv.toInt, 1, 1).atStartOfDay(ZoneOffset.UTC).toInstant
      val hi = LocalDate.of(1971 + pv.toInt, 1, 1).atStartOfDay(ZoneOffset.UTC).toInstant
      (lo.getEpochSecond * 1000000L, hi.getEpochSecond * 1000000L - 1)
  }
}

object FrameTimePart {
  val Units: Set[String] = Set("hours", "days", "months", "years")

  /** Partition-value token embedded in segment names by the write path
    * (`…-T<value>.bin`); maintenance suffixes (`.c<g>`/`.d<g>`/dv)
    * append AFTER the stem, so the token survives every rename.
    */
  private val TokenRe = "-T(-?\\d+)".r

  def token(pv: Long): String = s"-T$pv"

  /** Partition value embedded in a segment name; None for
    * pre-transform / foreign segments (which then never
    * partition-prune — strictly conservative).
    */
  def valueOf(name: String): Option[Long] =
    TokenRe.findFirstMatchIn(name).map(_.group(1).toLong)

  /** From table/reader options (set by the catalog from the
    * descriptor): `partitionCol` + `partitionUnit`.
    */
  def fromOptions(options: org.apache.spark.sql.util.CaseInsensitiveStringMap): Option[FrameTimePart] =
    for {
      c <- Option(options.get("partitionCol"))
      u <- Option(options.get("partitionUnit"))
    } yield FrameTimePart(c, u)

  /** Conservative partition pruning: a segment whose name carries a
    * partition value survives iff the pushed filters allow SOME
    * timestamp inside the partition's [lo, hi] range — evaluated by
    * the exact same [[FrameFilter.mayMatch]] rule as sidecar
    * min/max (synthetic single-field stats, zero file opens). Unnamed
    * segments always survive.
    */
  def prune(part: FrameTimePart, segments: Array[java.io.File],
            pushed: Array[org.apache.spark.sql.sources.Filter]): Array[java.io.File] = {
    if (pushed.isEmpty) return segments
    segments.filter { f =>
      valueOf(f.getName) match {
        case None => true
        case Some(pv) =>
          val (lo, hi) = part.boundsUs(pv)
          val synthetic = Map(part.col -> ((0L, Long.box(lo): Any, Long.box(hi): Any)))
          pushed.forall(FrameFilter.mayMatch(1L, synthetic, _))
      }
    }
  }
}
