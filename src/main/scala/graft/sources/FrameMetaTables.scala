package graft.sources

import java.io.File

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read.{LocalScan, Scan, ScanBuilder}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** SQL metadata tables for frame logs (round 14) — the inspection
  * surface every lakehouse format grows (`t.files` / `t.history` in
  * Iceberg, `DESCRIBE HISTORY` in Delta), served through the normal
  * multipart-name path:
  *
  * {{{
  * SELECT * FROM cat.ns.t.segments   -- one row per physical segment
  * SELECT * FROM cat.ns.t.history    -- the version event log
  * }}}
  *
  * Rows are built on the driver from names, sidecars, and the
  * maintenance manifest — O(segments)/O(events) metadata, never data —
  * and executed as a [[LocalScan]].
  */
/** Named version tags (round 16) — `_tags.json` maps a human name to
  * an addressable version, the Iceberg-tag rung: `FOR VERSION AS OF
  * 'validated'` resolves through the catalog, `CALL create_tag` /
  * `drop_tag` maintain them, and `CALL rollback` accepts either form.
  * Tags pin NOTHING physically — expiry can still invalidate the
  * snapshot a tag names (resolution then fails loudly); they are pure
  * metadata, one tiny JSON file, atomic-swap updated.
  */
object FrameTags {
  val TagsFile = "_tags.json"

  /** Tag name → version; empty when the file is absent or unreadable. */
  def read(dir: File): Map[String, Int] = {
    val f = new File(dir, TagsFile)
    if (!f.isFile) return Map.empty
    try {
      FrameJson.fields(FrameJson.read(f)).map { case (name, v) => name -> FrameJson.asInt(v) }.toMap
    } catch { case scala.util.control.NonFatal(_) => Map.empty }
  }

  def write(dir: File, tags: Map[String, Int]): Unit = {
    val n = FrameJson.newObject()
    tags.toSeq.sortBy(_._1).foreach { case (name, v) => n.put(name, v) }
    FrameJson.write(new File(dir, TagsFile))(n)
  }

  /** Resolve a `VERSION AS OF` argument: a bare integer is a version,
    * anything else must be a tag name.
    */
  def resolveVersionArg(dir: File, arg: String): Int =
    scala.util.Try(arg.trim.toInt).getOrElse {
      read(dir).getOrElse(arg.trim,
        throw new IllegalArgumentException(
          s"'$arg' is neither a version number nor a tag of ${dir.getName} " +
            s"(tags: ${read(dir).keys.toSeq.sorted.mkString(", ")})"))
    }
}

object FrameMetaTables {
  val Segments = "segments"
  val History = "history"
  val Tags = "tags"
  val Partitions = "partitions"
  val names: Set[String] = Set(Segments, History, Tags, Partitions)

  val SegmentsSchema: StructType = StructType(Seq(
    StructField("name", StringType, nullable = false),
    StructField("location", StringType, nullable = false), // live | history
    StructField("bytes", LongType, nullable = false),
    StructField("frames", LongType, nullable = true),      // from the sidecar
    StructField("publish_ms", LongType, nullable = false),
    StructField("bucket", IntegerType, nullable = true),
    StructField("has_bloom", BooleanType, nullable = false)))

  val HistorySchema: StructType = StructType(Seq(
    StructField("version", IntegerType, nullable = true), // NULL for compactions
    StructField("kind", StringType, nullable = false),    // append | delete | compact
    StructField("detail", StringType, nullable = false),
    StructField("publish_ms", LongType, nullable = false)))

  val TagsSchema: StructType = StructType(Seq(
    StructField("tag", StringType, nullable = false),
    StructField("version", IntegerType, nullable = false)))

  /** Partition-grain observability (round 16): one row per live
    * (time-partition value, bucket ordinal) pair — the operational view
    * a time-partitioned retention/compaction policy is driven from.
    * Rows/dv counts come from the stats ledger (one metadata read) and
    * deletion-vector headers; NULL partition/bucket = segments without
    * that token (unpartitioned/unbucketed tables collapse to one row).
    */
  val PartitionsSchema: StructType = StructType(Seq(
    StructField("partition", LongType, nullable = true),
    StructField("bucket", IntegerType, nullable = true),
    StructField("n_segments", LongType, nullable = false),
    StructField("bytes", LongType, nullable = false),
    StructField("n_rows", LongType, nullable = true),      // ledger/sidecars; NULL if any segment lacks stats
    StructField("dv_positions", LongType, nullable = false)))

  def schemaOf(name: String): StructType = name match {
    case Segments   => SegmentsSchema
    case History    => HistorySchema
    case Tags       => TagsSchema
    case Partitions => PartitionsSchema
    case other    => throw new IllegalArgumentException(s"unknown metadata table $other")
  }

  /** Bucket count declared by the table descriptor (0 = unbucketed /
    * no descriptor — path-based logs cannot be bucketed).
    */
  private def descriptorBuckets(dir: File): Int =
    try FrameCatalog.readDescriptor(dir).bucket.fold(0)(_._2)
    catch { case scala.util.control.NonFatal(_) => 0 }

  private def segmentRow(f: File, location: String): InternalRow = {
    val stats = AvroFrameStats.readFull(f)
    new GenericInternalRow(Array[Any](
      UTF8String.fromString(f.getName),
      UTF8String.fromString(location),
      f.length(),
      stats.map(_._1: java.lang.Long).orNull,
      f.lastModified(),
      AvroFrames.bucketOf(f.getName).map(Int.box).orNull,
      stats.exists(_._3.nonEmpty)))
  }

  def rows(name: String, dir: File): Array[InternalRow] = name match {
    case Segments =>
      val live = AvroFrames.listSegments(dir.getAbsolutePath)
        .map(segmentRow(_, "live"))
      val hist = Option(new File(dir, FrameMaintenance.HistoryDirName).listFiles())
        .getOrElse(Array.empty)
        .filter(f => f.isFile && !f.getName.endsWith(".stats"))
        .sortBy(_.getName)
        .map(segmentRow(_, "history"))
      live ++ hist
    case History =>
      FrameMaintenance.historyRows(dir).map { case (v, kind, detail, ms) =>
        new GenericInternalRow(Array[Any](
          if (v < 0) null else Int.box(v),
          UTF8String.fromString(kind),
          UTF8String.fromString(detail),
          ms)): InternalRow
      }.toArray
    case Tags =>
      FrameTags.read(dir).toSeq.sortBy(_._1).map { case (tag, v) =>
        new GenericInternalRow(Array[Any](
          UTF8String.fromString(tag), v)): InternalRow
      }.toArray
    case Partitions =>
      val stats = new FrameStatsView(dir)
      val dvs = AvroFrames.liveDvMap(dir.getAbsolutePath)
      // the -p##### token is a BUCKET ordinal only on bucketed tables
      // (elsewhere it is the writing task's partition id) — consult
      // the descriptor before reporting it
      val bucketed = FrameMetaTables.descriptorBuckets(dir) > 0
      AvroFrames.listSegments(dir.getAbsolutePath)
        .groupBy(f => (FrameTimePart.valueOf(f.getName),
          if (bucketed) AvroFrames.bucketOf(f.getName) else None))
        .toSeq
        .sortBy { case ((pv, b), _) => (pv.getOrElse(Long.MinValue), b.getOrElse(-1)) }
        .map { case ((pv, b), segs) =>
          val rows = segs.map(f => stats.read(f).map(_._1))
          val dvCount = segs.flatMap(f => dvs.get(f.getName))
            .map(FrameDv.count(_).toLong).sum
          new GenericInternalRow(Array[Any](
            pv.map(Long.box).orNull,
            b.map(Int.box).orNull,
            segs.length.toLong,
            segs.map(_.length()).sum,
            if (rows.forall(_.isDefined)) Long.box(rows.flatten.sum - dvCount) else null,
            dvCount)): InternalRow
        }.toArray
    case other => throw new IllegalArgumentException(s"unknown metadata table $other")
  }
}

class FrameMetaTable(metaName: String, dir: File) extends Table with SupportsRead {
  override def name(): String = s"frame_meta($metaName, ${dir.getAbsolutePath})"
  override def schema(): StructType = FrameMetaTables.schemaOf(metaName)
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new LocalScan {
      override def rows(): Array[InternalRow] = FrameMetaTables.rows(metaName, dir)
      override def readSchema(): StructType = FrameMetaTables.schemaOf(metaName)
      override def description(): String = name()
    }: Scan
}
