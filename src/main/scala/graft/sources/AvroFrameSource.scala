package graft.sources

import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import org.apache.avro.Schema
import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
import org.apache.avro.io.DecoderFactory
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{MetadataColumn, SupportsMetadataColumns, SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{Expression => VExpression, Expressions, Literal => VLiteral, NamedReference, Transform}
import org.apache.spark.sql.connector.expressions.aggregate.{AggregateFunc, Aggregation, Count, CountStar, Max, Min}
import org.apache.spark.sql.connector.expressions.filter.{Predicate => VPredicate}
import org.apache.spark.sql.connector.expressions.{SortDirection, SortOrder => VSortOrder}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, Statistics, SupportsPushDownAggregates, SupportsPushDownFilters, SupportsPushDownLimit, SupportsPushDownRequiredColumns, SupportsPushDownTopN, SupportsReportStatistics, SupportsRuntimeV2Filtering}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxFiles, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, WriteBuilder}
import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 provider for framed-Avro record logs — the engine's
  * own pluggable source (SURVEY §2.2 C1's engine-builder rung, VERDICT
  * r12 item 2), and the closest offline analog to the reference's
  * Kafka+registry transport (`Processor.java:118-138`): each file is a
  * sequence of `[4-byte BE frame length][Confluent-framed Avro body]`
  * records (magic byte + BE schema id + Avro binary —
  * [[graft.streaming.AvroRecords.frame]]'s exact wire format), i.e. a
  * topic-partition segment dumped to disk.
  *
  * Usage:
  * {{{
  * spark.read.format("graft.sources.AvroFrameDataSource")
  *   .option("path", dir)
  *   .option("avroSchema", writerSchemaJson)   // the registry entry
  *   .option("schemaId", "7")                  // expected embedded id
  *   .load()
  * }}}
  *
  * Scale/pushdown design — what makes this a real source, not a UDF in
  * a trench coat:
  *  - one [[InputPartition]] per file segment: a 1000-executor cluster
  *    reads a 100 TB log with file-grain parallelism, like the Kafka
  *    connector's partition-grain splits;
  *  - `SupportsPushDownRequiredColumns`: only the projected fields are
  *    converted to Spark values (Avro decode is sequential, but field
  *    CONVERSION — UTF8String allocation etc. — is per-column and
  *    dominates for wide records);
  *  - `SupportsPushDownFilters`: comparison/null filters on top-level
  *    primitive fields are evaluated on the decoded record BEFORE row
  *    materialization, so non-matching frames never allocate a row or
  *    cross the scan boundary (Spark does NOT re-evaluate what we
  *    accept — null semantics below mirror SQL exactly: a NULL field
  *    fails every comparison);
  *  - malformed frames (bad magic, unexpected id, truncated body) are
  *    counted and skipped, the same null-on-malformed convention as
  *    the streaming decode path, surfaced as a task metric;
  *  - ONE read path: every row-shaped split is a segment chain (a
  *    single segment is a chain of one), and every reader — row
  *    ([[AvroFrameReader]]), columnar ([[AvroFrameColumnarReader]],
  *    which every batch row scan uses) and pushed-aggregate — decodes
  *    through the same [[FrameSegmentWalk]] under the same
  *    [[FrameProjection]], so the bloom gate, deletion vectors, pushed
  *    filters and task metrics cannot drift between them;
  *  - MICRO_BATCH_READ: the same directory reads as a STREAMING source
  *    (`spark.readStream.format(...)`) with real offset management —
  *    see [[AvroFrameMicroBatchStream]]. Batch and stream share the
  *    scan builder, so pruning/pushdown apply identically.
  */
class AvroFrameDataSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val data = AvroFrames.sparkSchema(AvroFrames.writerSchema(options))
    if (options.getBoolean("changeFeed", false)) FrameChanges.changeSchema(data)
    else data
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: JMap[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    if (opts.getBoolean("changeFeed", false)) new AvroFrameChangesTable(schema, opts)
    else new AvroFrameTable(schema, opts)
  }

  override def supportsExternalMetadata(): Boolean = false
}

class AvroFrameTable(schema: StructType, options: CaseInsensitiveStringMap)
    extends Table with SupportsRead with SupportsWrite with SupportsMetadataColumns
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations {
  override def name(): String = s"avro_frames(${options.get("path")})"
  override def schema(): StructType = schema

  private val opts = new FrameTableOptions(options)

  /** Group-based row-level operations — SQL `UPDATE` / `MERGE INTO`,
    * and `DELETE` conditions the sidecar filters cannot express
    * (translatable DELETEs still take the metadata-only
    * [[deleteWhere]] fast path via OptimizeMetadataOnlyDeleteFromTable).
    * The rewrite is copy-on-write at SEGMENT granularity: the
    * operation's scan reads affected groups whole (runtime group
    * filtering narrows them to segments actually containing matches),
    * Spark computes their new contents, and the commit retires exactly
    * the scanned segments (one delete version, originals to
    * `_history/`) while publishing the rewritten rows as ordinary
    * appends — so time travel, version replay, and the tailing
    * stream's offsets all keep working. See [[FrameRowLevelOperation]].
    */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    require(!isSnapshot, "row-level operations on a time-travel snapshot are not allowed")
    // merge-on-read tables run DELTA-based operations (round 15):
    // changed rows only — deletes become deletion vectors, inserts
    // ordinary appends ([[FrameDeltaOperation]]). Bucketed and sorted
    // tables keep the group rewrite: their physical invariants
    // (one-bucket-per-segment routing, per-segment sort) are preserved
    // by republishing whole groups through the clustered/sorted write.
    val delta = opts.mergeOnRead && opts.bucket.isEmpty && opts.sortedBy.isEmpty &&
      opts.timePart.isEmpty
    () =>
      if (delta) new FrameDeltaOperation(info.command(), schema, options)
      else new FrameRowLevelOperation(info.command(), schema, options)
  }

  private def isSnapshot: Boolean =
    options.get("segmentFiles") != null || options.get("asOfSegments") != null ||
      options.get("asOfTimestampMs") != null

  /** Row-level DELETE (`DELETE FROM cat.ns.t WHERE …`) — the DSv2
    * delete rung. Accepted when every conjunct is a filter the engine
    * evaluates exactly ([[FrameFilter.supported]], plus the bare
    * `DELETE FROM t` always-true case) and the relation is the CURRENT
    * table (a time-travel snapshot is immutable by definition).
    * Execution is [[FrameMaintenance.deleteWhere]]: metadata-only for
    * segments whose sidecar proves all rows match, executor-side
    * rewrite for straddling segments, originals retained in
    * `_history/` so `TIMESTAMP AS OF` still reaches the pre-delete
    * state until expiry.
    */
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    !isSnapshot && filters.forall {
      case org.apache.spark.sql.sources.AlwaysTrue() => true
      case f => FrameFilter.supported(schema, f)
    }

  override def deleteWhere(filters: Array[Filter]): Unit = {
    val real = filters.filterNot(_.isInstanceOf[org.apache.spark.sql.sources.AlwaysTrue])
    if (real.isEmpty) FrameMaintenance.deleteAll(new java.io.File(opts.path))
    else opts.deleteWhere(real)
  }

  override def truncateTable(): Boolean = { FrameMaintenance.deleteAll(
    new java.io.File(options.get("path"))); true }
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.STREAMING_WRITE,
      TableCapability.TRUNCATE, TableCapability.OVERWRITE_BY_FILTER)
  override def newScanBuilder(caseInsensitiveOptions: CaseInsensitiveStringMap): ScanBuilder =
    new AvroFrameScanBuilder(schema, options)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    // catalog writes (INSERT INTO) carry no per-write options — the
    // table's own options supply path/avroSchema/schemaId
    new AvroFrameWriteBuilder(info, options)

  /** Declared table partitioning: the bucket transform for bucketed
    * tables (`PARTITIONED BY (bucket(n, key))` round-trips through
    * DESCRIBE; the scan reports the matching KeyGroupedPartitioning).
    */
  override def partitioning(): Array[Transform] = {
    val time: Option[Transform] = opts.timePart.map { tp =>
      tp.unit match {
        case "hours"  => Expressions.hours(tp.col)
        case "days"   => Expressions.days(tp.col)
        case "months" => Expressions.months(tp.col)
        case "years"  => Expressions.years(tp.col)
      }
    }
    val bucket: Option[Transform] = opts.bucket.map { case (k, n) => Expressions.bucket(n, k) }
    (time.toSeq ++ bucket.toSeq).toArray
  }

  /** Surfaced by DESCRIBE TABLE EXTENDED: the wire contract (schema
    * id), the log location, and the bucket layout.
    */
  override def properties(): java.util.Map[String, String] = {
    val m = new java.util.HashMap[String, String]()
    Option(options.get("path")).foreach(m.put("path", _))
    Option(options.get("schemaId")).foreach(m.put("schemaId", _))
    Option(options.get("bucketKey")).foreach(m.put("bucketKey", _))
    Option(options.get("buckets")).foreach(m.put("buckets", _))
    Option(options.get("bloomColumns")).foreach(m.put("bloomColumns", _))
    Option(options.get("bloomExpectedItems")).foreach(m.put("bloomExpectedItems", _))
    Option(options.get("deleteMode")).foreach(m.put("deleteMode", _))
    Option(options.get("sortedBy")).foreach(m.put("sortedBy", _))
    Option(options.get("partitionCol")).foreach(m.put("partitionCol", _))
    Option(options.get("partitionUnit")).foreach(m.put("partitionUnit", _))
    m
  }

  /** Record provenance — the `topic`/`partition`/`offset` analog of the
    * Kafka source's envelope (SURVEY §1.4), hidden unless selected:
    * `_segment` is the segment file name, `_frame_offset` the 0-based
    * frame ordinal within it (malformed frames occupy positions, like
    * unconsumable log entries occupy offsets — a reprocessing tool can
    * name them exactly).
    */
  override def metadataColumns(): Array[MetadataColumn] = Array(
    new MetadataColumn {
      override def name(): String = AvroFrames.SegmentMetaCol
      override def dataType(): DataType = StringType
      override def isNullable: Boolean = false
      override def comment(): String = "segment file name this frame was read from"
    },
    new MetadataColumn {
      override def name(): String = AvroFrames.OffsetMetaCol
      override def dataType(): DataType = LongType
      override def isNullable: Boolean = false
      override def comment(): String = "0-based frame ordinal within the segment"
    })
}

/** A frame table's options, parsed in one place for the table, its
  * scans and every write path (batch, streaming, group rewrite,
  * delta). Write builders layer their per-write options over the
  * table's ([[FrameTableOptions.merged]]): catalog writes (INSERT
  * INTO) carry none, so the table supplies path/avroSchema/schemaId.
  * Everything parses on first use, so a read never fails on a
  * write-only setting.
  */
final class FrameTableOptions(raw: CaseInsensitiveStringMap) {
  def path: String = raw.get("path")
  def avroSchema: String = raw.get("avroSchema")
  def historyJson: String = raw.get("avroSchemaHistory")
  lazy val schemaId: Int =
    Option(raw.get("schemaId")).map(_.toInt).getOrElse(AvroFrames.DefaultSchemaId)
  lazy val bucket: Option[(String, Int)] =
    for { k <- Option(raw.get("bucketKey")); n <- Option(raw.get("buckets")) } yield (k, n.toInt)
  lazy val sortedBy: Option[String] = Option(raw.get("sortedBy"))
  lazy val timePart: Option[FrameTimePart] = FrameTimePart.fromOptions(raw)
  def mergeOnRead: Boolean = "merge-on-read".equalsIgnoreCase(raw.get("deleteMode"))
  lazy val dvFoldThreshold: Double = Option(raw.get("dvFoldThreshold")).map(_.toDouble)
    .getOrElse(FrameMaintenance.DefaultDvFoldThreshold)

  /** Write-time Bloom filter config, validated against the writer
    * schema: bloom columns must exist and be INT/BIGINT/STRING.
    */
  lazy val bloom: Option[BloomSpec] = Option(raw.get("bloomColumns")).map { csv =>
    val cols = csv.split(',').map(_.trim).filter(_.nonEmpty)
    val schema = AvroFrames.sparkSchema(new Schema.Parser().parse(avroSchema))
    cols.foreach { c =>
      require(schema.fieldNames.contains(c), s"unknown bloom column $c")
      require(Set[DataType](IntegerType, LongType, StringType).contains(schema(c).dataType),
        s"bloom column $c must be INT/BIGINT/STRING, got ${schema(c).dataType}")
    }
    BloomSpec(cols, Option(raw.get("bloomExpectedItems")).map(_.toLong)
      .getOrElse(AvroFrameWrite.DefaultBloomExpectedItems.toLong))
  }

  /** Filtered DELETE (and the delete half of REPLACE WHERE): deletion
    * vectors on merge-on-read tables (round 15: straddling segments get
    * a position sidecar instead of a rewrite — O(deleted rows), folded
    * by compaction), the copy-on-write rewrite otherwise.
    */
  def deleteWhere(filters: Array[Filter]): Unit = {
    val spark = org.apache.spark.sql.SparkSession.active
    val dir = new java.io.File(path)
    if (mergeOnRead)
      FrameMaintenance.deleteWhereMoR(spark, dir, avroSchema, schemaId, filters,
        historyJson, dvFoldThreshold)
    else FrameMaintenance.deleteWhere(spark, dir, avroSchema, schemaId, filters, historyJson)
  }
}

object FrameTableOptions {
  /** Per-write options over the table's own. */
  def merged(table: CaseInsensitiveStringMap, write: CaseInsensitiveStringMap): FrameTableOptions =
    new FrameTableOptions(new CaseInsensitiveStringMap((table.asScala ++ write.asScala).asJava))
}

class AvroFrameScanBuilder(fullSchema: StructType, options: CaseInsensitiveStringMap,
                           onPlanned: Array[java.io.File] => Unit = _ => (),
                           filtersPruneOnly: Boolean = false)
    extends ScanBuilder with SupportsPushDownRequiredColumns with SupportsPushDownFilters
    with SupportsPushDownAggregates with SupportsPushDownLimit with SupportsPushDownTopN {

  private var required: StructType = fullSchema
  private var pushed: Array[Filter] = Array.empty
  private var pruneOnly: Array[Filter] = Array.empty
  private var aggs: Option[Seq[FrameAgg]] = None
  private var limit: Int = 0 // 0 = no pushed limit
  private var topN: Option[FrameTopN] = None

  override def pruneColumns(requiredSchema: StructType): Unit =
    // once an aggregation is pushed the scan's output IS the aggregate
    // schema; a later prune call must not clobber it
    if (aggs.isEmpty) required = requiredSchema

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    if (filtersPruneOnly) {
      // row-level operation scans (UPDATE/MERGE/DELETE group rewrite):
      // affected groups must be read WHOLE — the rewrite preserves
      // their unmatched rows — so the condition prunes SEGMENTS only,
      // never rows. Everything is returned as not-pushed: Spark keeps
      // row-filtering responsibility wherever it needs it.
      pruneOnly = filters.filter(FrameFilter.supported(fullSchema, _))
      return filters
    }
    val (sup, unsup) = filters.partition(FrameFilter.supported(fullSchema, _))
    pushed = sup
    unsup // Spark evaluates these post-scan; the pushed ones it trusts to us
  }

  override def pushedFilters(): Array[Filter] = pushed

  /** Complete pushdown — the scan returns the FINAL aggregate row,
    * computed purely from stats sidecars with zero segment files
    * opened — is claimed only when it is provably exact: no pushed row
    * filters (a filter could exclude the min/max row) and every segment
    * has a sidecar. Sidecar-presence is re-checked per segment at read
    * time with a decode fallback, so a foreign segment appearing
    * between planning and execution cannot produce a wrong answer.
    */
  override def supportCompletePushDown(aggregation: Aggregation): Boolean =
    pushed.isEmpty && allSidecars &&
      AvroFrameAggs.translate(fullSchema, aggregation).isDefined

  /** Accept MIN/MAX/COUNT/COUNT(*) (non-distinct, no GROUP BY) on
    * non-binary top-level fields. With pushed filters this degrades to
    * per-segment decode-and-aggregate — still a scale win: one row per
    * segment crosses the scan instead of every matching frame.
    */
  override def pushAggregation(aggregation: Aggregation): Boolean =
    AvroFrameAggs.translate(fullSchema, aggregation) match {
      case some @ Some(_) => aggs = some; true
      case None           => false
    }

  /** LIMIT n: readers stop after n emitted rows, and — when no row
    * filters are pushed — segment planning stops once the kept prefix's
    * sidecar row counts already prove ≥ n rows, so a LIMIT 100 on a
    * million-segment log plans a handful of splits. Partial by
    * contract: Spark re-applies the global limit.
    */
  override def pushLimit(l: Int): Boolean =
    if (aggs.isDefined || l <= 0) false
    else { limit = l; true }

  /** ORDER BY … LIMIT n: each reader keeps only its n best rows in a
    * bounded heap, so a global top-n over a million-segment log ships
    * n rows PER SPLIT across the scan boundary instead of every row —
    * Spark's TakeOrderedAndProject merges. Partial by contract
    * (isPartiallyPushed), so correctness never depends on the heap.
    * Accepted for sort keys that are top-level orderable primitives;
    * declined under a pushed aggregate (the aggregate IS the output).
    */
  override def pushTopN(orders: Array[VSortOrder], l: Int): Boolean = {
    if (aggs.isDefined || l <= 0 || filtersPruneOnly) return false
    val keys = orders.map { o =>
      o.expression() match {
        case nr: NamedReference if nr.fieldNames.length == 1 &&
            fullSchema.fieldNames.contains(nr.fieldNames()(0)) &&
            (fullSchema(nr.fieldNames()(0)).dataType match {
              case _: StringType | _: IntegerType | _: LongType | _: FloatType |
                   _: DoubleType | _: BooleanType => true
              case _ => false
            }) =>
          Some(FrameSortKey(nr.fieldNames()(0),
            o.direction() == SortDirection.ASCENDING,
            o.nullOrdering() == org.apache.spark.sql.connector.expressions.NullOrdering.NULLS_FIRST))
        case _ => None
      }
    }
    if (keys.exists(_.isEmpty)) return false
    topN = Some(FrameTopN(keys.flatten.toSeq, l))
    true
  }

  override def isPartiallyPushed(): Boolean = true

  // the scan's segment universe: an explicit snapshot file list (time
  // travel through maintenance history), the authoritative ledger's
  // live set (round 17 — zero directory listings), or the live
  // directory listing as the unledgered fallback
  private lazy val builderLive: Option[Map[String, FrameStatsLedger.Entry]] =
    if (AvroFrames.explicitFiles(options).isDefined) None
    else AvroFrames.ledgerLiveSet(options.get("path"))

  private lazy val universe: Array[java.io.File] =
    AvroFrames.explicitFiles(options).getOrElse {
      val path = options.get("path")
      builderLive match {
        case Some(entries) => entries.keys.toArray.sorted.map(new java.io.File(path, _))
        case None          => AvroFrames.listSegments(path)
      }
    }

  // ledger-first stats access: ONE metadata read for the whole builder
  // (shared with the universe), per-segment sidecar fallback for
  // unledgered names
  private lazy val builderStats =
    new FrameStatsView(new java.io.File(options.get("path")), builderLive)

  private lazy val allSidecars: Boolean = universe.forall(builderStats.has)

  override def build(): Scan = {
    val opts = new FrameTableOptions(options)
    new AvroFrameScan(opts.path, opts.avroSchema, opts.schemaId,
      required, pushed,
      Option(options.get("maxSegmentsPerTrigger")).map(_.toInt).getOrElse(0),
      aggs, aggs.isDefined && pushed.isEmpty && allSidecars, limit, topN,
      FrameAsOf(Option(options.get("asOfSegments")).map(_.toInt),
        Option(options.get("asOfTimestampMs")).map(_.toLong)),
      AvroFrames.explicitFiles(options).map(_.map(_.getAbsolutePath)),
      opts.bucket, onPlanned, pruneOnly, opts.historyJson, opts.sortedBy, opts.timePart)
  }
}

/** Time-travel cut over the segment list (batch reads only): first-n
  * segments (`VERSION AS OF` — the log's version IS its segment
  * count) or publish-mtime ≤ t (`TIMESTAMP AS OF`). Applied BEFORE
  * stat-pruning/statistics, so every downstream feature (pushdown,
  * sidecar aggregates, limit truncation) sees only the historical
  * slice.
  */
case class FrameAsOf(segments: Option[Int], tsMs: Option[Long]) {
  def cut(all: Array[java.io.File]): Array[java.io.File] = {
    val bySeg = segments.fold(all)(n => all.take(n))
    tsMs.fold(bySeg)(t => bySeg.filter(_.lastModified() <= t))
  }
  def isCurrent: Boolean = segments.isEmpty && tsMs.isEmpty
}

class AvroFrameScan(path: String, avroSchemaJson: String, schemaId: Int,
                    required: StructType, pushed: Array[Filter],
                    maxSegmentsPerTrigger: Int = 0,
                    aggs: Option[Seq[FrameAgg]] = None,
                    aggComplete: Boolean = false,
                    limit: Int = 0,
                    topN: Option[FrameTopN] = None,
                    asOf: FrameAsOf = FrameAsOf(None, None),
                    explicitFiles: Option[Array[String]] = None,
                    bucketSpec: Option[(String, Int)] = None,
                    onPlanned: Array[java.io.File] => Unit = _ => (),
                    pruneOnly: Array[Filter] = Array.empty,
                    historyJson: String = null,
                    sortedBy: Option[String] = None,
                    timePart: Option[FrameTimePart] = None)
    extends Scan with Batch with SupportsReportStatistics with SupportsRuntimeV2Filtering
    with org.apache.spark.sql.connector.read.SupportsReportPartitioning
    with org.apache.spark.sql.connector.read.SupportsReportOrdering {
  require(path != null, "option `path` is required")
  require(avroSchemaJson != null, "option `avroSchema` is required")

  /** The batch scan's segment universe: an explicit snapshot file list
    * (maintenance-aware time travel resolved by the catalog — may span
    * the live dir AND `_history/`, and may carry the snapshot's
    * deletion vectors), else the time-travel slice of the live
    * listing. Vectors are split out of the explicit list and paired by
    * base name ([[dvFor]]); data segments alone flow through pruning,
    * statistics, and split planning.
    */
  private def explicitSplit: Option[(Array[java.io.File], Map[String, java.io.File])] =
    explicitFiles.map(fs => FrameDv.split(fs.map(new java.io.File(_))))

  /** Which time-partition ledger SHARDS this scan needs: only a
    * current-snapshot read of a time-partitioned table with pushed
    * filters can skip shards (a time-travel cut needs the complete
    * name-ordered set for its VERSION prefix semantics). Strictly
    * conservative — shard selection uses the exact same
    * bounds-vs-mayMatch rule as [[FrameTimePart.prune]], which re-runs
    * on the result anyway. Runtime (DPP) filters arrive after this
    * resolution and prune on top of it.
    */
  private def shardKeep: Option[Long => Boolean] =
    if (!asOf.isCurrent) None
    else timePart.flatMap { tp =>
      val fs = dataFilters(pushed ++ pruneOnly)
      if (fs.isEmpty) None
      else Some((pv: Long) => {
        val (lo, hi) = tp.boundsUs(pv)
        val synthetic = Map(tp.col -> ((0L, Long.box(lo): Any, Long.box(hi): Any)))
        fs.forall(FrameFilter.mayMatch(1L, synthetic, _))
      })
    }

  /** The ledger-derived live set (round 17): one authoritative-ledger
    * read serves the segment universe, the publish instants, the
    * deletion vectors, AND the planning stats — the data directory is
    * never listed on this path. None = no authoritative ledger; every
    * consumer falls back to the pre-round-17 directory listing.
    * Resolved once per scan instance = plan-time snapshot isolation.
    */
  private lazy val ledgerLive: Option[Map[String, FrameStatsLedger.Entry]] =
    if (explicitFiles.isDefined) None
    else AvroFrames.ledgerLiveSet(path, shardKeep)

  private lazy val segmentsAsOfV: Array[java.io.File] =
    explicitSplit.map(_._1).getOrElse {
      ledgerLive match {
        case Some(entries) =>
          // VERSION prefix cut over name order; TIMESTAMP cut over the
          // recorded publish instants (= commit mtimes) — no stat calls
          val names = entries.keys.toArray.sorted
          val byVersion = asOf.segments.fold(names)(n => names.take(n))
          val byTime = asOf.tsMs.fold(byVersion)(t =>
            byVersion.filter(n => entries(n).publishMs <= t))
          byTime.map(n => new java.io.File(path, n))
        case None => asOf.cut(AvroFrames.listSegments(path))
      }
    }

  private def segmentsAsOf(): Array[java.io.File] = segmentsAsOfV

  /** Active deletion vector per base segment name for this scan's
    * universe. Explicit snapshots carry their own (version-exact)
    * vectors; a current live read pairs the live vectors; a raw
    * `asOfTimestampMs` cut applies only vectors published by the
    * cutoff (a vector minted later must not delete rows from an
    * earlier snapshot); the legacy `asOfSegments` prefix cut predates
    * maintenance entirely and applies none (the catalog's VERSION AS
    * OF resolves maintenance-aware snapshots through the manifest
    * instead).
    */
  private def dvFor(): Map[String, java.io.File] = dvForV

  private lazy val dvForV: Map[String, java.io.File] =
    explicitSplit.map(_._2).getOrElse {
      if (asOf.segments.isDefined) Map.empty
      else ledgerLive match {
        case Some(entries) =>
          // vector associations travel on the ledger entries — same
          // zero-listing read as the segment universe; the tsMs cut
          // uses the recorded vector publish instant
          entries.collect {
            case (base, e) if e.dv.isDefined && asOf.tsMs.forall(e.dvMs <= _) =>
              base -> new java.io.File(path, e.dv.get)
          }
        case None =>
          val m = AvroFrames.liveDvMap(path)
          asOf.tsMs.fold(m)(t => m.filter(_._2.lastModified() <= t))
      }
    }

  /** Ledger-first stats for every planning decision this scan makes:
    * the scan's own live-set entries are handed over, so on an
    * authoritative table the stats come from the SAME single ledger
    * read that produced the universe; segments the ledger doesn't know
    * fall back to their own sidecars.
    */
  private lazy val statsView = new FrameStatsView(new java.io.File(path), ledgerLive)

  /** Exact live row count of a segment from metadata alone: sidecar
    * frames minus vector cardinality (vectors hold decodable positions
    * only). None without a sidecar.
    */
  private def liveRowCount(f: java.io.File, dvs: Map[String, java.io.File]): Option[Long] =
    statsView.read(f).map { case (frames, _) =>
      frames - dvs.get(f.getName).map(FrameDv.count(_).toLong).getOrElse(0L)
    }

  /** Runtime (DPP-style) filters, v1-converted. COARSE-grained by the
    * [[SupportsRuntimeV2Filtering]] contract: used only to prune whole
    * segments via sidecar stats — rows that survive but don't match are
    * re-filtered by the consuming join, so conservative pruning is the
    * only sound move, and it is free (no file opens).
    */
  @volatile private var runtime: Array[Filter] = Array.empty

  override def filterAttributes(): Array[NamedReference] =
    // never under a pushed aggregate: segment pruning is row-dropping
    // there (the aggregate IS the output — no downstream join re-filters)
    if (aggs.isDefined) Array.empty
    else required.fieldNames.map(Expressions.column)

  // the same gate as pushed filters: stats describe only orderable
  // columns (a binary column's sidecar counts every value as a null)
  override def filter(predicates: Array[VPredicate]): Unit =
    runtime = runtime ++ predicates.flatMap(AvroFrames.v2ToV1).filter(FrameFilter.supported(required, _))

  private def pruneFilters: Array[Filter] = pushed ++ runtime ++ pruneOnly

  // last planning outcome, for reportDriverMetrics (planInputPartitions
  // always runs before Spark collects driver metrics)
  @volatile private var lastPlanned: Int = -1
  @volatile private var lastUniverse: Int = -1

  override def supportedCustomMetrics(): Array[org.apache.spark.sql.connector.metric.CustomMetric] =
    Array(new FrameScanMetrics.SegmentsPlanned, new FrameScanMetrics.SegmentsPruned,
      new FrameScanMetrics.FramesEmitted, new FrameScanMetrics.FramesMalformed,
      new FrameScanMetrics.SegmentsBloomSkipped)

  override def reportDriverMetrics(): Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    if (lastPlanned < 0) Array.empty
    else Array(FrameScanMetrics.Value("segments_planned", lastPlanned.toLong),
      FrameScanMetrics.Value("segments_pruned", (lastUniverse - lastPlanned).toLong))

  /** Runtime filters on the `_segment` metadata column prune by FILE
    * NAME, not by sidecar stats (the sidecar has no such field) — the
    * group-filter channel of row-level operations: Spark's
    * RowLevelOperationRuntimeGroupFiltering injects
    * `_segment IN (<matched groups>)` so only affected segments are
    * read AND replaced.
    */
  private def applySegmentNameFilters(segs: Array[java.io.File],
                                      fs: Array[Filter]): Array[java.io.File] =
    fs.foldLeft(segs) { (acc, f) =>
      f match {
        case In(c, vs) if c == AvroFrames.SegmentMetaCol =>
          val names = vs.collect { case s: String => s }.toSet
          acc.filter(x => names.contains(x.getName))
        case EqualTo(c, v: String) if c == AvroFrames.SegmentMetaCol =>
          acc.filter(_.getName == v)
        case _ => acc
      }
    }

  private def dataFilters(fs: Array[Filter]): Array[Filter] =
    fs.filterNot {
      case In(c, _)      => c == AvroFrames.SegmentMetaCol
      case EqualTo(c, _) => c == AvroFrames.SegmentMetaCol
      case _             => false
    }

  /** Surviving segments after stat-pruning, then — under a pushed
    * LIMIT with no row filters AND no runtime filters — truncated once
    * the kept prefix's sidecar counts prove ≥ limit rows (sidecar-less
    * segments count as unknown: they stay, but contribute nothing to
    * the proof). Runtime (DPP) filters disable truncation outright:
    * they prune whole segments, but a pushed LIMIT semantically applies
    * BEFORE the consuming join — truncating the pruned list could
    * return fewer than min(limit, total) rows.
    */
  private def plannedSegments(): Array[java.io.File] = {
    // hidden-partition pruning first (round 16): partition values parse
    // from segment NAMES, so whole time partitions drop before any
    // stats are consulted — works for sidecar-less segments too
    val byName = applySegmentNameFilters(segmentsAsOf(), pruneFilters)
    val byPartition = timePart.fold(byName)(tp =>
      FrameTimePart.prune(tp, byName, dataFilters(pruneFilters)))
    val kept = statsView.prune(byPartition, dataFilters(pruneFilters))
    if (limit <= 0 || pruneFilters.nonEmpty) kept
    else {
      // the proof must count LIVE rows: a deletion vector's positions
      // never reach the consumer, so sidecar counts are discounted by
      // vector cardinality (else the truncation could under-ship)
      val dvs = dvFor()
      var proven = 0L
      val out = Array.newBuilder[java.io.File]
      var i = 0
      while (i < kept.length && proven < limit) {
        out += kept(i)
        proven += liveRowCount(kept(i), dvs).getOrElse(0L)
        i += 1
      }
      out.result()
    }
  }

  /** Planner integration: size/row estimates from the SURVIVING (post
    * stat-pruning) segments — file bytes are exact; row counts come
    * from the stats sidecars where present. Catalyst's
    * V2ScanRelation.computeStats consumes this, so a small (or
    * well-pruned) frame table under the broadcast threshold gets a
    * BroadcastHashJoin automatically instead of shuffling the big
    * side — at 100 TB the same mechanism that makes dimension joins
    * against parquet cheap applies to the engine's own format.
    */
  override def estimateStatistics(): Statistics = {
    if (aggs.isDefined) {
      // aggregate pushdown: output is one row (complete) or one row
      // per surviving segment (partial) — report that, not raw bytes
      val n = if (aggComplete) 1L
        else math.max(1L, statsView.prune(segmentsAsOf(), pushed).length.toLong)
      return new Statistics {
        override def sizeInBytes(): java.util.OptionalLong =
          java.util.OptionalLong.of(n * 64L)
        override def numRows(): java.util.OptionalLong =
          java.util.OptionalLong.of(n)
      }
    }
    val kept = statsView.prune(segmentsAsOf(), pushed)
    val bytes = kept.map(_.length()).sum
    val sidecars = kept.map(statsView.read)
    val complete = sidecars.nonEmpty && sidecars.forall(_.isDefined)
    // per-column null counts + min/max merged across the surviving
    // sidecars — CBO-grade column statistics for free (claimed only
    // under complete sidecar coverage, like the row count; values in
    // Catalyst internal form at the column's Spark type)
    val colStats: java.util.Map[NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics] =
      if (!complete) java.util.Collections.emptyMap()
      else {
        val read = sidecars.flatten
        val m = new java.util.HashMap[NamedReference,
          org.apache.spark.sql.connector.read.colstats.ColumnStatistics]()
        required.fields.filter(f => read.forall(_._2.contains(f.name))).foreach { f =>
          var nulls = 0L
          var mn: Any = null
          var mx: Any = null
          read.foreach { case (_, fields) =>
            val (n, lo, hi) = fields(f.name)
            nulls += n
            if (lo != null && (mn == null || FrameFilter.compare(lo, mn) < 0)) mn = lo
            if (hi != null && (mx == null || FrameFilter.compare(hi, mx) > 0)) mx = hi
          }
          val (minV, maxV) =
            (AvroFrameStats.toCatalyst(mn, f.dataType), AvroFrameStats.toCatalyst(mx, f.dataType))
          m.put(Expressions.column(f.name),
            new org.apache.spark.sql.connector.read.colstats.ColumnStatistics {
              override def nullCount(): java.util.OptionalLong = java.util.OptionalLong.of(nulls)
              override def min(): java.util.Optional[Object] =
                java.util.Optional.ofNullable(minV.asInstanceOf[Object])
              override def max(): java.util.Optional[Object] =
                java.util.Optional.ofNullable(maxV.asInstanceOf[Object])
            })
        }
        m
      }
    new Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(bytes)
      override def numRows(): java.util.OptionalLong =
        // only claim a row count when EVERY surviving segment has a
        // sidecar — a partial sum would understate and could flip a
        // join the wrong way. Deletion-vector cardinalities are
        // subtracted: vectored rows never reach the consumer.
        if (complete) {
          val dvs = dvFor()
          java.util.OptionalLong.of(kept.map(f => liveRowCount(f, dvs).getOrElse(0L)).sum)
        } else java.util.OptionalLong.empty()
      override def columnStats(): java.util.Map[NamedReference,
          org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = colStats
    }
  }

  override def readSchema(): StructType = aggs match {
    case Some(s) => AvroFrameAggs.outputSchema(s)
    case None    => required
  }

  override def toBatch: Batch = this

  // surfaced in .explain() — the PlanSpec/SourcesSpec hook proving the
  // projection, filters, aggregates, limit, AND stat-pruning actually
  // reached the source
  override def description(): String = {
    val all = segmentsAsOf()
    val kept = plannedSegments()
    s"AvroFrameScan path=$path, ReadSchema=${readSchema().fieldNames.mkString("[", ",", "]")}, " +
      s"PushedFilters=${pushed.mkString("[", ", ", "]")}, " +
      aggs.map(s => s"PushedAggregates=${s.mkString("[", ", ", "]")} " +
        s"(${if (aggComplete) "complete, sidecar-only" else "partial, per-segment"}), ").getOrElse("") +
      (if (limit > 0) s"PushedLimit=$limit, " else "") +
      topN.map(t => s"PushedTopN=${t.keys.map(k =>
        k.col + (if (k.asc) " ASC" else " DESC")).mkString("[", ",", "]")} LIMIT ${t.limit}, ")
        .getOrElse("") +
      (if (runtime.nonEmpty) s"RuntimeFilters=${runtime.mkString("[", ", ", "]")}, " else "") +
      s"Segments=${kept.length}/${all.length} after stat-pruning"
  }

  /** Bucketed read, validated: claimed only when every segment of the
    * scan universe carries a parseable in-range bucket ordinal in its
    * name (a foreign segment downgrades the WHOLE scan to unknown
    * partitioning — correctness first). Validation runs on the
    * UNPRUNED universe so [[outputPartitioning]] (consulted at plan
    * time) and [[planInputPartitions]] (after runtime filters) agree.
    * Pushed aggregates collapse the output to summary rows, which no
    * longer carry the bucket structure.
    */
  private lazy val bucketedRead: Option[(String, Int)] =
    bucketSpec.filter { case (_, n) =>
      aggs.isEmpty && {
        val segs = segmentsAsOf()
        segs.nonEmpty &&
          segs.forall(f => AvroFrames.bucketOf(f.getName).exists(b => b >= 0 && b < n))
      }
    }

  /** Storage-partitioned-join contract: a bucketed table reports
    * `KeyGroupedPartitioning(bucket(n, key), n)` with one input split
    * per bucket ([[AvroFrameBucketPartition]] carries the bucket
    * ordinal as its partition key). Two frame tables bucketed the same
    * way then join with ZERO exchange on either side (with
    * `spark.sql.sources.v2.bucketing.enabled=true`) — at 100 TB the
    * difference between shuffling both fact tables and shuffling
    * nothing. The bucket function itself is served by the catalog
    * ([[FrameFunctions]] `bucket`), bit-equal to the write placement.
    */
  override def outputPartitioning(): org.apache.spark.sql.connector.read.partitioning.Partitioning =
    bucketedRead match {
      case Some((key, n)) =>
        new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
          Array(Expressions.bucket(n, key)), n)
      case None =>
        new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(0)
    }

  /** Per-partition ordering of a `sortedBy` table (round 15,
    * `SupportsReportOrdering`): every write locally sorts its tasks on
    * the column (RequiresDistributionAndOrdering), so each SEGMENT is
    * individually ordered — and a split is one segment, so the split
    * is ordered. Claimed only when it provably holds:
    *
    *  - no pushed aggregate (summary rows carry no row order);
    *  - no maintenance artifact that breaks segment-level order in the
    *    universe: compaction CONCATENATES sorted inputs (`.c<gen>`)
    *    and z-order rewrites re-sort on the z-value (`.z<gen>-…`) —
    *    both drop the claim conservatively (delete rewrites `.d<gen>`
    *    keep it: a subsequence of a sorted segment is sorted);
    *  - bucketed reads chain a bucket's segments into one split, so
    *    every bucket must hold at most ONE live segment (true after a
    *    single clustered insert, or per-bucket compaction down to one
    *    bin — whose `.c` name then drops the claim until re-sorted).
    *
    * With KeyGroupedPartitioning + this ordering, a storage-partitioned
    * sort-merge join on the sort column elides BOTH its exchanges and
    * both its sorts — the fully-zero-overhead bucketed join.
    */
  override def outputOrdering(): Array[VSortOrder] =
    sortedBy match {
      case Some(c) if aggs.isEmpty && orderingHolds =>
        Array(Expressions.sort(Expressions.column(c), SortDirection.ASCENDING))
      case _ => Array.empty
    }

  private def orderingHolds: Boolean = {
    val segs = segmentsAsOf()
    val orderSafe = segs.forall { f =>
      val n = f.getName
      !n.matches(".*\\.c\\d+.*") && !n.matches(".*\\.z\\d+-.*")
    }
    orderSafe && (bucketedRead match {
      case Some(_) =>
        segs.groupBy(f => AvroFrames.bucketOf(f.getName)).forall(_._2.length <= 1)
      case None => true
    })
  }

  // stat-pruning: sidecar min/max/null-counts written by the DSv2
  // write path prove whole segments irrelevant to the pushed filters —
  // they are never opened (the parquet row-group-stats / Iceberg
  // manifest pattern; strictly conservative, sidecar-less segments
  // always survive)
  override def planInputPartitions(): Array[InputPartition] = {
    val dvs = dvFor()
    def dvPath(f: java.io.File): Option[String] = dvs.get(f.getName).map(_.getAbsolutePath)
    // round 17: per-split bloom-probe hint — tasks whose segment the
    // ledger proves bloom-less (for the pushed columns) skip the
    // executor-side sidecar probe entirely
    def probe(f: java.io.File): Boolean = statsView.probeBloom(f, pushed)
    aggs match {
      case Some(_) if aggComplete =>
        // one split carrying the full surviving segment list: the reader
        // combines sidecars executor-side and emits THE final row —
        // sidecar reads are O(bytes of metadata), no segment is opened
        // (vectored segments fall back to a decode inside the reader)
        val segs = plannedSegments()
        lastPlanned = segs.length; lastUniverse = segmentsAsOf().length
        Array(AvroFrameAggPartition(segs.map(_.getAbsolutePath).toSeq,
          segs.map(dvPath).toSeq, segs.map(probe).toSeq))
      case Some(_) =>
        // partial: one split per segment, each emitting exactly one
        // partial row (Spark's final aggregate merges). A split is
        // planned even when everything pruned away: the rewritten
        // count = SUM(partial counts) must see a 0, not an empty input.
        val segs = plannedSegments()
        lastPlanned = segs.length; lastUniverse = segmentsAsOf().length
        if (segs.isEmpty) Array(AvroFrameAggPartition(Seq.empty))
        else segs.map(f => AvroFrameAggPartition(Seq(f.getAbsolutePath),
          Seq(dvPath(f)), Seq(probe(f))): InputPartition)
      case None => bucketedRead match {
        case Some((_, n)) =>
          // one split per bucket (including empty buckets — both sides of
          // a storage-partitioned join must report identical values);
          // stat-pruned segments just drop out of their bucket's file list
          val segs = plannedSegments()
          lastPlanned = segs.length; lastUniverse = segmentsAsOf().length
          onPlanned(segs)
          val byBucket = segs.groupBy(f => AvroFrames.bucketOf(f.getName).get)
          (0 until n).map { b =>
            val fs = byBucket.getOrElse(b, Array.empty)
            AvroFrameBucketPartition(fs.map(_.getAbsolutePath).toSeq, b,
              fs.map(dvPath).toSeq, fs.map(probe).toSeq): InputPartition
          }.toArray
        case None =>
          val segs = plannedSegments()
          lastPlanned = segs.length; lastUniverse = segmentsAsOf().length
          onPlanned(segs)
          segs.map(f => AvroFramePartition(f.getAbsolutePath, dvPath(f),
            probe(f)): InputPartition)
      }
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new AvroFrameReaderFactory(avroSchemaJson, schemaId,
      required.fieldNames, pushed, aggs, limit, historyJson, topN, columnar = true)

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new AvroFrameMicroBatchStream(path, avroSchemaJson, schemaId,
      required.fieldNames, pushed, maxSegmentsPerTrigger, historyJson)
}

/** One segment split; `dv` is the absolute path of the segment's
  * active deletion vector (round 15) — positions in it are skipped by
  * every reader, so a merge-on-read DELETE is invisible above the scan.
  * `probeBloom` (round 17) is the driver's ledger-derived hint for the
  * executor-side bloom gate: false = the segment provably carries no
  * bloom payload on any pushed equality column (or the driver already
  * verified it), so the task skips the sidecar probe before decode.
  */
case class AvroFramePartition(file: String, dv: Option[String] = None,
                              probeBloom: Boolean = true) extends FrameChainSplit {
  override def files: Seq[String] = Seq(file)
  override def dvs: Seq[Option[String]] = Seq(dv)
  override def probes: Seq[Boolean] = Seq(probeBloom)
}

/** A split read as one segment chain, in log order: deletion vectors
  * and bloom-probe hints run parallel to `files` (missing = no vector /
  * probe). A single-segment split is a chain of one.
  */
sealed trait FrameChainSplit extends InputPartition {
  def files: Seq[String]
  def dvs: Seq[Option[String]]
  def probes: Seq[Boolean]
}

/** Split for a bucketed read: all surviving segments of one bucket
  * (with their deletion vectors, parallel to `files`; empty = none),
  * keyed by the bucket ordinal — the [[HasPartitionKey]] handle Spark's
  * storage-partitioned join groups and aligns on.
  */
case class AvroFrameBucketPartition(files: Seq[String], bucket: Int,
                                    dvs: Seq[Option[String]] = Seq.empty,
                                    probes: Seq[Boolean] = Seq.empty)
    extends FrameChainSplit with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): InternalRow =
    new GenericInternalRow(Array[Any](bucket))
}

/** Split for a pushed-aggregation read: the segment files whose
  * contributions this split combines into one emitted row (deletion
  * vectors parallel to `files`; empty = none). Complete mode ships the
  * whole surviving list in one split; partial mode one segment per
  * split (empty list = the zero row).
  */
case class AvroFrameAggPartition(files: Seq[String],
                                 dvs: Seq[Option[String]] = Seq.empty,
                                 probes: Seq[Boolean] = Seq.empty) extends InputPartition

/** A pushed aggregate the frame source can answer. Min/Max carry the
  * Spark-facing column type so sidecar values (normalized to
  * Long/Double/String/Boolean at write) convert back exactly.
  */
sealed trait FrameAgg extends Serializable
case object FrameCountStar extends FrameAgg { override def toString = "COUNT(*)" }
case class FrameCountCol(col: String) extends FrameAgg { override def toString = s"COUNT($col)" }
case class FrameMin(col: String, t: DataType) extends FrameAgg { override def toString = s"MIN($col)" }
case class FrameMax(col: String, t: DataType) extends FrameAgg { override def toString = s"MAX($col)" }

/** Translation + schema plumbing for [[SupportsPushDownAggregates]]. */
object AvroFrameAggs {

  /** The aggregation, iff EVERY function is answerable: MIN/MAX/COUNT
    * (non-distinct) on non-binary top-level fields, COUNT(*), and no
    * GROUP BY. One untranslatable function declines the whole push —
    * Spark must not split an aggregate between engine and source.
    * Binary fields are excluded even for COUNT: the write path records
    * payload bytes as null in the sidecar (no orderable stats), so
    * their null counts don't mean SQL NULL.
    */
  def translate(schema: StructType, a: Aggregation): Option[Seq[FrameAgg]] = {
    def col(e: VExpression): Option[String] = e match {
      case nr: NamedReference if nr.fieldNames.length == 1 &&
          schema.fieldNames.contains(nr.fieldNames()(0)) &&
          schema(nr.fieldNames()(0)).dataType != BinaryType =>
        Some(nr.fieldNames()(0))
      case _ => None
    }
    if (a.groupByExpressions.nonEmpty) return None
    val out: Array[Option[FrameAgg]] = a.aggregateExpressions.map {
      case _: CountStar            => Some(FrameCountStar)
      case c: Count if !c.isDistinct => col(c.column).map(FrameCountCol)
      case m: Min => col(m.column).map(c => FrameMin(c, schema(c).dataType))
      case m: Max => col(m.column).map(c => FrameMax(c, schema(c).dataType))
      case _      => None
    }
    if (out.nonEmpty && out.forall(_.isDefined)) Some(out.flatten.toSeq) else None
  }

  /** Scan output schema under a pushed aggregation — positional
    * contract with Spark's rewrite (no group-bys, so just the agg
    * outputs in order; counts LongType non-null, min/max column-typed
    * nullable).
    */
  def outputSchema(aggs: Seq[FrameAgg]): StructType =
    StructType(aggs.zipWithIndex.map {
      case (FrameCountStar, i)    => StructField(s"count_star_$i", LongType, nullable = false)
      case (FrameCountCol(c), i)  => StructField(s"count_${c}_$i", LongType, nullable = false)
      case (FrameMin(c, t), i)    => StructField(s"min_${c}_$i", t, nullable = true)
      case (FrameMax(c, t), i)    => StructField(s"max_${c}_$i", t, nullable = true)
    })
}

/** Offset = how many VERSIONS of the log have been fully consumed
  * (round 14: logical versions — every appended segment mints one,
  * every DELETE mints one, compaction mints none — instead of
  * positions in the live listing, which maintenance shifts). On a
  * never-maintained log version count == live segment count, so the
  * wire format (a bare integer in the checkpoint offset log) and the
  * semantics of existing checkpoints are unchanged; under maintenance
  * the offset stays meaningful: a tailing stream survives compaction
  * of segments it has or hasn't consumed (unconsumed originals resolve
  * from `_history/` until expiry).
  */
case class SegmentOffset(segments: Int) extends Offset {
  override def json(): String = segments.toString
}

/** The version-offset plumbing the row stream and the change-feed
  * stream share: offsets are [[SegmentOffset]] version counts in the
  * checkpoint's offset log; a positive per-trigger cap becomes the
  * default `ReadMaxFiles` limit; under `Trigger.AvailableNow` the
  * version count is snapshotted once at start and drained in
  * admission-bounded batches (without [[SupportsTriggerAvailableNow]]
  * MicroBatchExecution downgrades to Trigger.Once semantics and ignores
  * the read limit); and every version reading passes the
  * [[TornReadClamp]]. Each stream supplies its initial offset, its
  * admission rule and its partitions.
  */
trait FrameVersionStream extends MicroBatchStream with SupportsTriggerAvailableNow {

  protected def dir: java.io.File
  protected def maxPerTrigger: Int

  /** End offset of a batch from version `from` that may admit at most
    * `max` units, with `total` versions available.
    */
  protected def admit(from: Int, total: Int, max: Int): Int

  @volatile private var availableNowCap: Option[Int] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(FrameMaintenance.totalVersions(dir))

  override def deserializeOffset(json: String): Offset = SegmentOffset(json.trim.toInt)

  override def getDefaultReadLimit: ReadLimit =
    if (maxPerTrigger > 0) ReadLimit.maxFiles(maxPerTrigger) else ReadLimit.allAvailable()

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) should be called instead (SupportsAdmissionControl)")

  private lazy val clamp = new TornReadClamp(dir)

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val from = start.asInstanceOf[SegmentOffset].segments
    val total = clamp(from, availableNowCap.getOrElse(FrameMaintenance.totalVersions(dir)))
    limit match {
      case f: ReadMaxFiles => SegmentOffset(admit(from, total, f.maxFiles()))
      case _               => SegmentOffset(total)
    }
  }

  override def reportLatestOffset(): Offset =
    SegmentOffset(FrameMaintenance.totalVersions(dir))

  override def commit(end: Offset): Unit = () // offset log is the source of truth
  override def stop(): Unit = ()
}

/** MicroBatchStream over a framed-Avro segment log — O1's transport as
  * a REAL pluggable streaming source with its own offset management,
  * the closest offline analog to `KafkaUtils.createDirectStream`
  * (reference `Processor.java:136-138`):
  *
  *  - contract: segments are immutable once written and their names
  *    lexicographically increase in append order (standard log-segment
  *    naming, e.g. `segment-%09d`); a micro-batch is a contiguous
  *    VERSION range of the log's event history (round 14 — stable
  *    under compaction/delete maintenance, see [[SegmentOffset]]);
  *  - offsets persist in the query's checkpoint offset log
  *    ([[SegmentOffset]]) — restart resumes after the last committed
  *    batch, exactly-once end-to-end with an idempotent sink
  *    (SourcesSpec restart test);
  *  - admission control: `maxSegmentsPerTrigger` bounds each batch via
  *    [[SupportsAdmissionControl]] (the `maxOffsetsPerTrigger` /
  *    `maxFilesPerTrigger` analog), so a 1000-executor backfill drains
  *    a deep backlog in bounded slices instead of one giant batch;
  *  - column pruning and filter pushdown apply per batch — the scan
  *    builder runs BEFORE `toMicroBatchStream`, so streaming reads
  *    decode only required fields and drop non-matching frames before
  *    row materialization, same as batch.
  */
class AvroFrameMicroBatchStream(path: String, avroSchemaJson: String,
                                schemaId: Int, requiredCols: Array[String],
                                pushed: Array[Filter], maxSegmentsPerTrigger: Int,
                                historyJson: String = null)
    extends FrameVersionStream {

  override protected def dir = new java.io.File(path)
  override protected def maxPerTrigger: Int = maxSegmentsPerTrigger

  override def initialOffset(): Offset = SegmentOffset(0)

  // admission bounds APPENDS (files), not versions: the end offset is
  // the version of the max-th unconsumed append, plus any
  // version-minting deletes sitting between it and the next append
  // (they carry no data — draining them keeps the offset monotone past
  // maintenance-only stretches of history)
  override protected def admit(from: Int, total: Int, max: Int): Int = {
    val pending = FrameMaintenance.appendVersions(dir)
      .filter { case (_, v) => v > from && v <= total }
    if (pending.length <= max) total else pending(max)._2 - 1
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[SegmentOffset].segments
    val e = end.asInstanceOf[SegmentOffset].segments
    // the batch is the logical appends minted in (s, e] — version
    // offsets are stable under maintenance, so a compaction between
    // offset commit and replay cannot shift the committed range. Each
    // name resolves live-first then _history/ (a compacted-away
    // unconsumed segment reads its retained original; expiry past a
    // lagging reader fails loudly). Stat-pruning then drops
    // provably-irrelevant segments inside the range — safe: a pruned
    // segment is still covered by the committed offsets, its frames
    // just cannot match
    val batch = FrameMaintenance.appendVersions(dir)
      .filter { case (_, v) => v > s && v <= e }
      .map { case (n, _) => FrameMaintenance.resolvePhysical(dir, n) }
    // one ledger read per micro-batch; segments the batch resolved from
    // `_history/` are no longer ledgered and fall back to their
    // (retired-alongside) sidecars
    new FrameStatsView(dir).prune(batch.toArray, pushed)
      .map(f => AvroFramePartition(f.getAbsolutePath): InputPartition)
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new AvroFrameReaderFactory(avroSchemaJson, schemaId, requiredCols, pushed,
      historyJson = historyJson)
}

class AvroFrameReaderFactory(avroSchemaJson: String, schemaId: Int,
                             requiredCols: Array[String], pushed: Array[Filter],
                             aggs: Option[Seq[FrameAgg]] = None, limit: Int = 0,
                             historyJson: String = null,
                             topN: Option[FrameTopN] = None,
                             columnar: Boolean = false)
    extends PartitionReaderFactory {

  /** Columnar output (round 15) for plain row-scan splits — set by
    * the batch scan; the micro-batch stream builds its factory
    * row-shaped. Pushed aggregates emit one summary row and pushed TopN
    * keeps a row heap, both stay on the row reader. Spark requires ALL
    * splits of a scan to agree, which holds: a scan plans either
    * all-chain or all-agg splits.
    */
  override def supportColumnarReads(partition: InputPartition): Boolean =
    columnar && aggs.isEmpty && topN.isEmpty && partition.isInstanceOf[FrameChainSplit]

  override def createColumnarReader(partition: InputPartition): PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] =
    partition match {
      case s: FrameChainSplit =>
        new AvroFrameColumnarReader(s.files, s.dvs, avroSchemaJson, schemaId,
          requiredCols, pushed, limit, historyJson, s.probes)
      case other => throw new IllegalStateException(s"not a columnar split: $other")
    }

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    partition match {
      case AvroFrameAggPartition(files, dvs, probes) =>
        new AvroFrameAggReader(files, avroSchemaJson, schemaId, aggs.get, pushed,
          historyJson, dvs, probes)
      case s: FrameChainSplit =>
        wrapTopN(new AvroFrameReader(s.files, s.dvs, avroSchemaJson, schemaId,
          requiredCols, pushed, limit, historyJson, s.probes))
    }

  /** Bounded-heap decoration of a row reader for a pushed TopN. */
  private def wrapTopN(inner: PartitionReader[InternalRow]): PartitionReader[InternalRow] =
    topN match {
      case Some(t) => new FrameTopNReader(inner, t, requiredCols,
        AvroFrames.sparkSchema(new Schema.Parser().parse(avroSchemaJson)))
      case None    => inner
    }
}

/** Scan observability (round 14): DSv2 custom metrics surfaced in the
  * Spark UI's SQL tab per scan node — the operational counters a log
  * reader needs: how many segments the planner kept vs pruned
  * (driver-side), and how many frames each task emitted vs skipped as
  * malformed (task-side, summed). Names match between
  * [[AvroFrameScan.supportedCustomMetrics]] and the reported values.
  */
object FrameScanMetrics {
  class SegmentsPlanned extends org.apache.spark.sql.connector.metric.CustomSumMetric {
    override def name(): String = "segments_planned"
    override def description(): String = "segments planned after stat/bloom pruning"
  }
  class SegmentsPruned extends org.apache.spark.sql.connector.metric.CustomSumMetric {
    override def name(): String = "segments_pruned"
    override def description(): String = "segments pruned by sidecar stats/blooms"
  }
  class FramesEmitted extends org.apache.spark.sql.connector.metric.CustomSumMetric {
    override def name(): String = "frames_emitted"
    override def description(): String = "frames decoded and emitted as rows"
  }
  class FramesMalformed extends org.apache.spark.sql.connector.metric.CustomSumMetric {
    override def name(): String = "frames_malformed"
    override def description(): String = "malformed frames skipped (bad magic/id/body)"
  }
  class SegmentsBloomSkipped extends org.apache.spark.sql.connector.metric.CustomSumMetric {
    override def name(): String = "segments_bloom_skipped"
    override def description(): String =
      "segments skipped executor-side by their own Bloom sidecars (no data file opened)"
  }
  case class Value(metricName: String, v: Long)
      extends org.apache.spark.sql.connector.metric.CustomTaskMetric {
    override def name(): String = metricName
    override def value(): Long = v
  }
}

/** One sort key of a pushed TopN: column, direction, null placement. */
case class FrameSortKey(col: String, asc: Boolean, nullsFirst: Boolean)
case class FrameTopN(keys: Seq[FrameSortKey], limit: Int)

/** Keeps only the `limit` best rows of the wrapped reader in a bounded
  * heap (worst-on-top), then replays them. Sort keys are read from the
  * MATERIALIZED row (Spark guarantees the required columns include the
  * order-by columns when it pushes a partial TopN), compared in
  * Catalyst value form. Memory is O(limit) per split by construction.
  */
class FrameTopNReader(inner: PartitionReader[InternalRow], topN: FrameTopN,
                      requiredCols: Array[String], tableSchema: StructType)
    extends PartitionReader[InternalRow] {

  private val keyIdx: Array[Int] = topN.keys.map(k => requiredCols.indexOf(k.col)).toArray
  require(keyIdx.forall(_ >= 0),
    s"pushed TopN keys ${topN.keys.map(_.col)} must be in the read schema " +
      requiredCols.mkString("[", ",", "]"))

  /** Total order on rows per the pushed keys; rows compare EQUAL past
    * the keys (any of them may be kept — Spark's final sort decides).
    */
  private val cmp = new java.util.Comparator[InternalRow] {
    override def compare(a: InternalRow, b: InternalRow): Int = {
      var i = 0
      while (i < keyIdx.length) {
        val k = topN.keys(i)
        val t = tableSchema.find(_.name == k.col)
          .map(_.dataType).getOrElse(StringType)
        val an = a.isNullAt(keyIdx(i)); val bn = b.isNullAt(keyIdx(i))
        val c =
          if (an && bn) 0
          else if (an) { if (k.nullsFirst) -1 else 1 }
          else if (bn) { if (k.nullsFirst) 1 else -1 }
          else {
            val raw = t match {
              case _: IntegerType => Integer.compare(a.getInt(keyIdx(i)), b.getInt(keyIdx(i)))
              case _: LongType    => java.lang.Long.compare(a.getLong(keyIdx(i)), b.getLong(keyIdx(i)))
              case _: FloatType   => java.lang.Float.compare(a.getFloat(keyIdx(i)), b.getFloat(keyIdx(i)))
              case _: DoubleType  => java.lang.Double.compare(a.getDouble(keyIdx(i)), b.getDouble(keyIdx(i)))
              case _: BooleanType => java.lang.Boolean.compare(a.getBoolean(keyIdx(i)), b.getBoolean(keyIdx(i)))
              case _              => a.getUTF8String(keyIdx(i)).compareTo(b.getUTF8String(keyIdx(i)))
            }
            if (k.asc) raw else -raw
          }
        if (c != 0) return c
        i += 1
      }
      0
    }
  }

  private var replay: java.util.Iterator[InternalRow] = null
  private var current: InternalRow = null

  private def fill(): Unit = {
    // worst-first heap: peek is the weakest kept row
    val heap = new java.util.PriorityQueue[InternalRow](
      math.max(1, topN.limit), cmp.reversed())
    while (inner.next()) {
      val row = inner.get().copy() // readers reuse row buffers
      if (heap.size < topN.limit) heap.add(row)
      else if (cmp.compare(row, heap.peek()) < 0) { heap.poll(); heap.add(row) }
    }
    replay = heap.iterator()
  }

  override def next(): Boolean = {
    if (replay == null) fill()
    if (replay.hasNext) { current = replay.next(); true } else false
  }

  override def get(): InternalRow = current
  override def close(): Unit = inner.close()

  override def currentMetricsValues(): Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    inner.currentMetricsValues()
}

/** Sequential decoder over one segment file: streams length-prefixed
  * frames, decodes each body with a reused per-schema-id
  * GenericDatumReader / decoder, counts-and-skips malformed frames.
  * Scans open it through [[FrameSegmentWalk]]; the change feed and
  * maintenance rewrites drive it directly.
  *
  * Multi-schema (round 14, schema evolution): `schemas` is the
  * registry — embedded id → writer schema — and every frame resolves
  * against ONE reader schema (the table's latest): Avro schema
  * resolution fills fields the writer lacked with their declared
  * defaults (ADD COLUMN ⇒ nullable ⇒ null), so a log whose frames
  * span schema versions reads as one uniform relation, exactly the
  * Confluent registry consume path (reference `Processor.java:128-130`
  * id-lookup semantics). Unknown ids stay malformed-skip.
  */
class FrameDecoder(file: String, readerSchema: Schema, schemas: Map[Int, Schema]) {

  /** Single-schema convenience: writer == reader, one known id. */
  def this(file: String, writerSchema: Schema, schemaId: Int) =
    this(file, writerSchema, Map(schemaId -> writerSchema))

  /** Active deletion vector (round 15): positions in it are skipped by
    * [[nextRecord]] — a merge-on-read DELETE is invisible to every
    * record-level consumer. Callers driving [[nextFrameBytes]]
    * directly (the change feed's byte walks) manage positions
    * themselves.
    */
  var deleted: FrameDv.Cursor = null

  private val readers: Map[Int, GenericDatumReader[GenericRecord]] =
    schemas.map { case (id, w) =>
      id -> new GenericDatumReader[GenericRecord](w, readerSchema)
    }
  private val in = new java.io.DataInputStream(
    new java.io.BufferedInputStream(AvroFrames.openWithHistoryFallback(file), 1 << 16))
  private var record: GenericRecord = null
  private var decoder: org.apache.avro.io.BinaryDecoder = null
  var malformed: Long = 0L
  /** 0-based ordinal of the LAST frame returned by readFrame — the
    * record's offset within its segment (malformed frames occupy
    * positions, like unconsumable entries occupy Kafka offsets).
    */
  var position: Long = -1L

  /** Next well-formed record, or null at end-of-segment. The returned
    * record is REUSED by the next call — consume before advancing.
    */
  def nextRecord(): GenericRecord = {
    while (true) {
      val frame = nextFrameBytes()
      if (frame == null) return null
      if (deleted == null || !deleted.contains(position)) {
        val rec = decodeFrame(frame)
        if (rec != null) return rec
      }
    }
    null
  }

  /** Next RAW frame body (length prefix stripped), or null at end of
    * segment — the byte-level view the change-data-feed's subsequence
    * walk diffs on (maintenance rewrites copy raw frame bytes, so
    * surviving rows are byte-identical between original and rewrite).
    */
  def nextFrameBytes(): Array[Byte] = {
    val b0 = in.read()
    if (b0 < 0) return null
    val len = (b0 << 24) | (in.read() << 16) | (in.read() << 8) | in.read()
    if (len < 0) { malformed += 1; return null } // corrupt length: stop
    val buf = new Array[Byte](len)
    in.readFully(buf)
    position += 1
    buf
  }

  /** Decode one raw frame body (magic byte + BE schema id + Avro
    * binary) to a REUSED GenericRecord; null (counted malformed) on
    * bad magic / foreign id / decode failure.
    */
  def decodeFrame(frame: Array[Byte]): GenericRecord =
    if (frame.length < 5 || frame(0) != graft.streaming.AvroRecords.MagicByte) {
      malformed += 1; null
    } else {
      val id = ((frame(1) & 0xff) << 24) | ((frame(2) & 0xff) << 16) |
               ((frame(3) & 0xff) << 8) | (frame(4) & 0xff)
      readers.get(id) match {
        case None => malformed += 1; null
        case Some(r) =>
          try {
            decoder = DecoderFactory.get().binaryDecoder(frame, 5, frame.length - 5, decoder)
            record = r.read(record, decoder)
            record
          } catch { case scala.util.control.NonFatal(_) => malformed += 1; null }
      }
    }

  def close(): Unit = in.close()
}

/** The read projection of a split, built once per reader: the
  * table's CURRENT schema as the Avro reader schema (frames written
  * under earlier schema versions resolve against it — missing fields
  * take their declared null defaults, the ADD COLUMN contract), the
  * schema registry, each required column's record position and Spark
  * type, and the compiled pushed filters. Metadata columns materialize
  * from the reader's own state, not the decoded record: the k-th entry
  * of `metaCols` is encoded as position -(k+1).
  */
private[sources] final class FrameProjection(
    avroSchemaJson: String, schemaId: Int, historyJson: String,
    requiredCols: Array[String], val pushed: Array[Filter],
    metaCols: Seq[(String, DataType)] = FrameProjection.ScanMeta) {
  val readerSchema: Schema = new Schema.Parser().parse(avroSchemaJson)
  val schemas: Map[Int, Schema] = AvroFrames.schemaHistory(avroSchemaJson, schemaId, historyJson)
  val fieldPos: Map[String, Int] =
    readerSchema.getFields.asScala.map(f => f.name() -> f.pos()).toMap
  val requiredPos: Array[Int] = requiredCols.map { c =>
    val k = metaCols.indexWhere(_._1 == c)
    if (k >= 0) -(k + 1) else fieldPos(c)
  }
  val requiredTypes: Array[DataType] = {
    val spark = AvroFrames.sparkSchema(readerSchema)
    requiredCols.map(c => metaCols.collectFirst { case (`c`, t) => t }
      .getOrElse(spark(c).dataType))
  }
  private val preds: Array[GenericRecord => Boolean] =
    pushed.map(FrameFilter.compile(fieldPos, _))

  def matches(rec: GenericRecord): Boolean = preds.forall(_(rec))
}

private[sources] object FrameProjection {
  /** The scan's metadata columns, at positions [[MetaSeg]] and [[MetaOff]]. */
  val ScanMeta: Seq[(String, DataType)] =
    Seq(AvroFrames.SegmentMetaCol -> StringType, AvroFrames.OffsetMetaCol -> LongType)
  val MetaSeg = -1
  val MetaOff = -2
}

/** The one walk over a split's segment chain (log order), shared by
  * the row, columnar and pushed-aggregate readers. It owns every
  * per-segment step:
  *
  *  - the executor-side bloom gate (round 16): a segment whose own
  *    sidecar proves no row matches the pushed equality filters is
  *    never opened; the split's ledger-derived probe hint (round 17)
  *    spares bloom-less members the sidecar read;
  *  - opening the [[FrameDecoder]] with the schema registry and the
  *    segment's deletion vector;
  *  - the pushed-filter test on each decoded record;
  *  - the malformed and bloom-skip tallies, and the three task metrics.
  *
  * `dvs` and `probes` run parallel to `files` (missing = no vector /
  * probe). The first segment opens at construction.
  */
private[sources] final class FrameSegmentWalk(
    files: Seq[String], dvs: Seq[Option[String]], probes: Seq[Boolean],
    proj: FrameProjection) {
  private var idx = 0
  private var dec: FrameDecoder = null
  private var malformedClosed = 0L
  /** Members skipped by the bloom gate. */
  var bloomSkipped = 0L
  /** Members opened for decode. */
  var opened = 0L
  /** Rows the owning reader emitted — its `frames_emitted`. */
  var emitted = 0L
  /** File name of the segment the last record came from. */
  var segment: UTF8String = null

  open()

  private def open(): Unit = {
    while (idx < files.length && (idx >= probes.length || probes(idx)) &&
        AvroFrameStats.bloomBlocked(files(idx), proj.pushed)) {
      bloomSkipped += 1
      idx += 1
    }
    if (idx < files.length) {
      val f = files(idx)
      dec = new FrameDecoder(f, proj.readerSchema, proj.schemas)
      if (idx < dvs.length) dvs(idx).foreach(d => dec.deleted = FrameDv.cursor(d))
      segment = UTF8String.fromString(new java.io.File(f).getName)
      opened += 1
      idx += 1
    }
  }

  private def closeSegment(): Unit =
    if (dec != null) { malformedClosed += dec.malformed; dec.close(); dec = null }

  /** Next record passing the pushed filters, or null once the chain is
    * exhausted. The record is REUSED by the next call.
    */
  def next(): GenericRecord = {
    while (dec != null) {
      val rec = dec.nextRecord()
      if (rec == null) { closeSegment(); open() }
      else if (proj.matches(rec)) return rec
    }
    null
  }

  /** Frame ordinal of the last returned record within its segment. */
  def position: Long = dec.position

  def malformed: Long = malformedClosed + (if (dec != null) dec.malformed else 0L)

  def close(): Unit = closeSegment()

  def metrics: Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    Array(FrameScanMetrics.Value("frames_emitted", emitted),
      FrameScanMetrics.Value("frames_malformed", malformed),
      FrameScanMetrics.Value("segments_bloom_skipped", bloomSkipped))
}

/** Row reader over a split's segment chain (a single-segment split is
  * a chain of one): applies the pushed filters on each decoded record
  * and materializes ONLY the required columns; a pushed LIMIT stops
  * decoding after `limit` emitted rows across the chain (sound: Spark
  * re-applies the global limit, and any n rows satisfy an unordered
  * LIMIT n). Exposed as a plain class so SourcesSpec can drive it
  * directly and count what crosses the scan boundary.
  */
class AvroFrameReader(files: Seq[String], dvs: Seq[Option[String]],
                      avroSchemaJson: String, schemaId: Int,
                      requiredCols: Array[String], pushed: Array[Filter],
                      limit: Int = 0, historyJson: String = null,
                      probes: Seq[Boolean] = Seq.empty)
    extends PartitionReader[InternalRow] {

  private val proj = new FrameProjection(avroSchemaJson, schemaId, historyJson,
    requiredCols, pushed)
  private val walk = new FrameSegmentWalk(files, dvs, probes, proj)
  private var current: InternalRow = null
  def malformed: Long = walk.malformed // visible to SourcesSpec
  def bloomSkipped: Long = walk.bloomSkipped // visible to FrameBloomSpec

  override def next(): Boolean = {
    if (limit > 0 && walk.emitted >= limit) return false
    val rec = walk.next()
    if (rec == null) return false
    val pos = proj.requiredPos
    val row = new GenericInternalRow(pos.length)
    var i = 0
    while (i < pos.length) {
      val p = pos(i)
      row.update(i,
        if (p == FrameProjection.MetaSeg) walk.segment
        else if (p == FrameProjection.MetaOff) walk.position
        else AvroFrames.convert(rec.get(p), proj.requiredTypes(i)))
      i += 1
    }
    current = row
    walk.emitted += 1
    true
  }

  override def get(): InternalRow = current
  override def close(): Unit = walk.close()

  override def currentMetricsValues(): Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    walk.metrics
}

/** Reader for a pushed-aggregation split: emits EXACTLY ONE row — the
  * aggregate over its segment list. Per segment, the contribution
  * comes from the stats sidecar when that is provably exact (no pushed
  * row filters, sidecar readable); otherwise the segment is decoded
  * with the filters applied — so a complete-pushdown plan normally
  * opens ZERO segment files, and a foreign sidecar-less segment
  * degrades that one segment to a decode, never to a wrong answer.
  */
class AvroFrameAggReader(files: Seq[String], avroSchemaJson: String,
                         schemaId: Int, aggs: Seq[FrameAgg],
                         pushed: Array[Filter], historyJson: String = null,
                         dvs: Seq[Option[String]] = Seq.empty,
                         probes: Seq[Boolean] = Seq.empty)
    extends PartitionReader[InternalRow] {

  private val proj = new FrameProjection(avroSchemaJson, schemaId, historyJson,
    Array.empty, pushed)
  private var done = false
  // the walk over the segments metadata cannot answer; null until next()
  private var walk: FrameSegmentWalk = null
  def decodedSegments: Long = if (walk == null) 0L else walk.opened // visible to SourcesSpec

  // running state per agg: counts as Long, min/max in the stats value
  // domain (Long / Double / String / Boolean, ints and floats widened —
  // the same normalization the write path applies)
  private val counts = new Array[Long](aggs.length)
  private val extremes = new Array[Any](aggs.length)

  /** Can this sidecar answer EVERY pushed agg exactly? Our write path
    * always records nulls+min+max per field; a foreign sidecar missing
    * a field entry — or missing min/max while non-null rows exist —
    * cannot (min=null must MEAN all-null, not unrecorded).
    */
  private def sidecarAnswers(frames: Long, fields: Map[String, (Long, Any, Any)]): Boolean =
    aggs.forall {
      case FrameCountStar   => true
      case FrameCountCol(c) => fields.contains(c)
      case FrameMin(c, _)   => fields.get(c).exists { case (nulls, mn, _) => mn != null || nulls == frames }
      case FrameMax(c, _)   => fields.get(c).exists { case (nulls, _, mx) => mx != null || nulls == frames }
    }

  private def observeSidecar(frames: Long, fields: Map[String, (Long, Any, Any)]): Unit = {
    var i = 0
    while (i < aggs.length) {
      aggs(i) match {
        case FrameCountStar    => counts(i) += frames
        case FrameCountCol(c)  => counts(i) += frames - fields(c)._1
        case FrameMin(c, _)    => Option(fields(c)._2).foreach(merge(i, _, -1))
        case FrameMax(c, _)    => Option(fields(c)._3).foreach(merge(i, _, 1))
      }
      i += 1
    }
  }

  private def merge(i: Int, v: Any, sign: Int): Unit =
    if (extremes(i) == null || FrameFilter.compare(v, extremes(i)) * sign > 0)
      extremes(i) = v

  private def normalize(v: Any): Any = v match {
    case x: java.lang.Integer => Long.box(x.longValue)
    case x: java.lang.Float   => Double.box(x.doubleValue)
    case s: CharSequence      => s.toString
    case other                => other
  }

  private val aggPos: Array[Int] = aggs.map {
    case FrameCountCol(c) => proj.fieldPos(c)
    case FrameMin(c, _)   => proj.fieldPos(c)
    case FrameMax(c, _)   => proj.fieldPos(c)
    case FrameCountStar   => -1
  }.toArray

  private def observeRecord(rec: GenericRecord): Unit = {
    var i = 0
    while (i < aggs.length) {
      aggs(i) match {
        case FrameCountStar   => counts(i) += 1
        case FrameCountCol(_) => if (rec.get(aggPos(i)) != null) counts(i) += 1
        case FrameMin(_, _) =>
          val v = rec.get(aggPos(i)); if (v != null) merge(i, normalize(v), -1)
        case FrameMax(_, _) =>
          val v = rec.get(aggPos(i)); if (v != null) merge(i, normalize(v), 1)
      }
      i += 1
    }
  }

  /** Fold a segment's contribution from metadata alone, if exact. A
    * vectored segment's sidecar describes the PRE-delete superset
    * (stale min/max, stale null counts) — the decode path is the exact
    * one, EXCEPT for pure COUNT(*): vectors hold decodable positions
    * only, so `frames − |dv|` is the exact live count and the segment
    * still never opens.
    */
  private def answeredByMetadata(f: String, dv: Option[String]): Boolean =
    pushed.isEmpty && (
      if (dv.isEmpty)
        AvroFrameStats.read(new java.io.File(f)).exists { case (frames, fields) =>
          sidecarAnswers(frames, fields) && { observeSidecar(frames, fields); true }
        }
      else aggs.forall(_ == FrameCountStar) &&
        AvroFrameStats.read(new java.io.File(f)).exists { case (frames, _) =>
          val live = frames - FrameDv.count(new java.io.File(dv.get))
          counts.indices.foreach(counts(_) += live)
          true
        })

  override def next(): Boolean = {
    if (done) return false
    // every segment metadata cannot answer decodes through one walk —
    // whose bloom gate skips segments proving zero matching rows (they
    // contribute nothing to any pushed aggregate)
    val rest = files.indices.filterNot(i => answeredByMetadata(files(i), dvs.lift(i).flatten))
    walk = new FrameSegmentWalk(rest.map(files), rest.map(dvs.lift(_).flatten),
      rest.map(probes.lift(_).getOrElse(true)), proj)
    try {
      var rec = walk.next()
      while (rec != null) { observeRecord(rec); rec = walk.next() }
    } finally walk.close()
    done = true
    true
  }

  override def get(): InternalRow = {
    val row = new GenericInternalRow(aggs.length)
    var i = 0
    while (i < aggs.length) {
      aggs(i) match {
        case FrameCountStar | FrameCountCol(_) => row.update(i, counts(i))
        case FrameMin(_, t) => row.update(i, toCatalyst(extremes(i), t))
        case FrameMax(_, t) => row.update(i, toCatalyst(extremes(i), t))
      }
      i += 1
    }
    row
  }

  private def toCatalyst(v: Any, t: DataType): Any = AvroFrameStats.toCatalyst(v, t)

  override def close(): Unit = ()

  override def currentMetricsValues(): Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    if (walk == null) Array.empty else walk.metrics
}

/** Shared helpers: Avro→Spark schema mapping, value conversion, and
  * the segment writer used by tests/fixtures to produce the on-disk
  * format.
  */
object AvroFrames {

  val DefaultSchemaId = 1

  /** Metadata column names (hidden unless selected — the Kafka
    * envelope's partition/offset analog).
    */
  val SegmentMetaCol = "_segment"
  val OffsetMetaCol = "_frame_offset"

  /** Data-directory listings performed by this JVM — the observability
    * hook the round-17 live-set contract counts: planning a query on a
    * ledgered (authoritative) table must not move this AT ALL, however
    * many segments are live. Listings remain on the write/bootstrap/
    * maintenance/repair paths only.
    */
  private[graft] val dirListings = new java.util.concurrent.atomic.AtomicLong(0)

  /** Segment files of a log directory in lexicographic (= append)
    * order; metadata files (`_SUCCESS`, dotfiles) excluded.
    */
  def listSegments(path: String): Array[java.io.File] = {
    dirListings.incrementAndGet()
    Option(new java.io.File(path).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && !f.getName.startsWith("_") &&
        !f.getName.startsWith(".") && !f.getName.endsWith(".stats") &&
        !FrameDv.isDvName(f.getName))
      .sortBy(_.getName)
  }

  /** Open a planned file, falling back to its `_history/` copy if
    * maintenance retired it between planning and the task's open
    * (round 15): retirement MOVES files (byte-identical, retained
    * until explicit expiry), so the fallback gives a racing reader
    * exactly the snapshot it planned — plan-time snapshot isolation
    * without any reader-side locking. A file missing from history too
    * (expired under a running reader) still fails loudly.
    */
  def openWithHistoryFallback(path: String): java.io.FileInputStream =
    try new java.io.FileInputStream(path)
    catch {
      case e: java.io.FileNotFoundException =>
        val f = new java.io.File(path)
        val hist = new java.io.File(
          new java.io.File(f.getParentFile, FrameMaintenance.HistoryDirName), f.getName)
        try new java.io.FileInputStream(hist)
        catch { case _: java.io.FileNotFoundException => throw e }
    }

  /** Live deletion vectors of a log, keyed by base segment name — one
    * directory listing, max gen per base (exactly one per base by the
    * retire discipline; max-gen wins defensively).
    */
  def liveDvMap(path: String): Map[String, java.io.File] = {
    dirListings.incrementAndGet()
    Option(new java.io.File(path).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && FrameDv.isDvName(f.getName))
      .groupBy(f => FrameDv.baseOf(f.getName))
      .map { case (base, fs) =>
        base -> fs.maxBy(f => f.getName.substring(f.getName.lastIndexOf("dv") + 2).toInt)
      }
  }

  /** Ledger-derived live set for PLANNING (round 17): the live segment
    * entries (names, publish instants, deletion vectors, stats) read
    * from the table's authoritative stats ledger — zero data-directory
    * listings. None when the table has no authoritative ledger (v1 /
    * foreign / bootstrap-pending), in which case callers fall back to
    * [[listSegments]]/[[liveDvMap]]. `keepPv` optionally prunes which
    * time-partition SHARDS are parsed (strictly conservative: the
    * result is a superset of the in-window live set, and downstream
    * name-token partition pruning re-drops the rest).
    */
  def ledgerLiveSet(path: String, keepPv: Option[Long => Boolean] = None)
      : Option[Map[String, FrameStatsLedger.Entry]] =
    FrameStatsLedger.readLive(new java.io.File(path), keepPv)
      .collect { case ls if ls.authoritative => ls.entries }

  /** Explicit snapshot file list from the `segmentFiles` option
    * (newline-joined absolute paths, in log order) — set by the
    * catalog when maintenance history makes a time-travel slice span
    * more than a live-listing prefix. Empty string = empty snapshot.
    */
  def explicitFiles(options: CaseInsensitiveStringMap): Option[Array[java.io.File]] =
    Option(options.get("segmentFiles")).map(
      _.split('\n').filter(_.nonEmpty).map(new java.io.File(_)))

  private val BucketRe = "-p(\\d{5})".r

  /** Bucket ordinal embedded in a segment name by the bucketed write
    * path (partition id == bucket under the required clustered
    * distribution). Survives maintenance renames (`.c<g>`/`.d<g>`
    * suffixes keep the original stem).
    */
  def bucketOf(name: String): Option[Int] =
    BucketRe.findFirstMatchIn(name).map(_.group(1).toInt)

  private val BatchStampRe = "^segment-(\\d{13})-".r

  /** Next batch-publish stamp for a log: monotone over the stamps
    * already in the log (max existing + 1) and never behind the wall
    * clock — so segment names keep increasing in append order even if
    * the driver clock steps backwards between jobs (the lexicographic
    * contract the tailing reader's offsets and `VERSION AS OF` prefix
    * semantics depend on). Streaming epoch names (UUID-first) don't
    * match the stamp pattern and are simply not consulted.
    */
  def nextBatchStampMs(path: String): Long = {
    val maxExisting = listSegments(path).iterator
      .flatMap(f => BatchStampRe.findFirstMatchIn(f.getName).map(_.group(1).toLong))
      .foldLeft(0L)(math.max)
    math.max(System.currentTimeMillis(), maxExisting + 1)
  }

  /** One batch job's name stamp: the zero-padded [[nextBatchStampMs]]
    * plus the query id's head.
    */
  def batchStamp(path: String, queryId: String): String =
    f"${nextBatchStampMs(path)}%013d-${queryId.take(8)}"

  def writerSchema(options: CaseInsensitiveStringMap): Schema = {
    val json = options.get("avroSchema")
    require(json != null, "option `avroSchema` (writer schema JSON) is required")
    new Schema.Parser().parse(json)
  }

  /** The log's schema registry: embedded id → writer schema, parsed
    * from the `avroSchemaHistory` option (JSON array of
    * `{"id":n,"schema":"<avro json>"}` — written by the catalog after
    * ALTER TABLE ADD COLUMNS). Null/absent history = the single
    * current (schemaId → avroSchema) entry; the current entry is
    * always ensured present.
    */
  def schemaHistory(avroSchemaJson: String, schemaId: Int,
                    historyJson: String): Map[Int, Schema] = {
    val latest = new Schema.Parser().parse(avroSchemaJson)
    val base = Map(schemaId -> latest)
    if (historyJson == null || historyJson.isEmpty) return base
    FrameJson.historyOf(FrameJson.parse(historyJson))
      .map { case (id, schema) => id -> new Schema.Parser().parse(schema) }.toMap ++ base
  }

  /** Serialize a schema history for the `avroSchemaHistory` option /
    * descriptor (inverse of [[schemaHistory]]).
    */
  def historyJson(entries: Seq[(Int, String)]): String =
    FrameJson.render(FrameJson.historyNode(entries))

  /** Avro→Spark type mapping for the supported subset: primitives plus
    * 2-branch `[null, T]` unions (nullable T). Anything else fails fast
    * at schema inference, driver-side.
    */
  def sparkSchema(schema: Schema): StructType = {
    require(schema.getType == Schema.Type.RECORD,
      s"top-level Avro schema must be a record, got ${schema.getType}")
    StructType(schema.getFields.asScala.toSeq.map { f =>
      val (tpe, nullable) = fieldType(f.schema())
      StructField(f.name(), tpe, nullable)
    })
  }

  private def fieldType(s: Schema): (DataType, Boolean) = s.getType match {
    case Schema.Type.UNION =>
      val branches = s.getTypes.asScala
      require(branches.size == 2 && branches.exists(_.getType == Schema.Type.NULL),
        s"only [null, T] unions supported, got $s")
      val inner = branches.find(_.getType != Schema.Type.NULL).get
      (primitive(inner), true)
    case _ => (primitive(s), false)
  }

  private def primitive(s: Schema): DataType = s.getType match {
    case Schema.Type.STRING  => StringType
    case Schema.Type.INT     => IntegerType
    case Schema.Type.LONG    => LongType
    case Schema.Type.FLOAT   => FloatType
    case Schema.Type.DOUBLE  => DoubleType
    case Schema.Type.BOOLEAN => BooleanType
    case Schema.Type.BYTES   => BinaryType
    case other => throw new IllegalArgumentException(
      s"unsupported Avro field type for the frame source: $other")
  }

  /** Spark schema → Avro writer-schema JSON (the inverse of
    * [[sparkSchema]]): nullable fields become `[null, T]` unions with
    * a null default. Used by the catalog's CREATE TABLE to derive the
    * wire schema from SQL columns. Round-trips exactly:
    * `sparkSchema(parse(avroSchemaFor(s, n))) == s` up to nullability.
    */
  def avroSchemaFor(schema: StructType, recordName: String): String = {
    val nameRe = "[A-Za-z_][A-Za-z0-9_]*"
    require(recordName.matches(nameRe), s"invalid Avro record name: $recordName")
    val fields = schema.fields.map { f =>
      require(f.name.matches(nameRe), s"invalid Avro field name: ${f.name}")
      val prim = f.dataType match {
        case StringType  => "\"string\""
        case IntegerType => "\"int\""
        case LongType    => "\"long\""
        case FloatType   => "\"float\""
        case DoubleType  => "\"double\""
        case BooleanType => "\"boolean\""
        case BinaryType  => "\"bytes\""
        case other => throw new IllegalArgumentException(
          s"column ${f.name}: type $other has no frame-source Avro mapping")
      }
      val tpe = if (f.nullable) s"""["null",$prim]""" else prim
      val dflt = if (f.nullable) ""","default":null""" else ""
      s"""{"name":"${f.name}","type":$tpe$dflt}"""
    }
    s"""{"type":"record","name":"$recordName","fields":[${fields.mkString(",")}]}"""
  }

  /** Rename a top-level field in a writer-schema JSON, preserving
    * field order, types, docs, and defaults exactly (round 15, RENAME
    * COLUMN / DROP COLUMN tombstones). Sound because Avro binary
    * encodes no field names: the bytes decode identically under the
    * renamed schema, and name-based resolution then matches the new
    * name. No-op if the field is absent (history entries predating an
    * ADD simply don't carry it).
    */
  def renameField(schemaJson: String, from: String, to: String): String = {
    val s = new Schema.Parser().parse(schemaJson)
    if (!s.getFields.asScala.exists(_.name() == from)) return schemaJson
    val fields = s.getFields.asScala.map { f =>
      new Schema.Field(if (f.name() == from) to else f.name(),
        f.schema(), f.doc(),
        if (f.hasDefaultValue) f.defaultVal() else null)
    }
    Schema.createRecord(s.getName, s.getDoc, s.getNamespace, false,
      fields.toList.asJava).toString
  }

  /** Decoded Avro value → Catalyst internal value. */
  def convert(v: Any, t: DataType): Any = v match {
    case null => null
    case s: CharSequence => UTF8String.fromString(s.toString)
    case b: java.nio.ByteBuffer =>
      val arr = new Array[Byte](b.remaining()); b.duplicate().get(arr); arr
    case other => other // Int/Long/Float/Double/Boolean box straight through
  }

  /** Best-effort V2 Predicate → V1 Filter for runtime (DPP-style)
    * filtering: IN and binary comparisons with a single-name column
    * reference on the left and literals on the right. Anything else →
    * None (the scan just doesn't prune on it — sound, runtime filters
    * are an optimization). String literals arrive as UTF8String
    * (catalyst internal form) and convert to String to match the
    * sidecar stats domain.
    */
  def v2ToV1(p: VPredicate): Option[Filter] = {
    def col(e: VExpression): Option[String] = e match {
      case nr: NamedReference if nr.fieldNames.length == 1 => Some(nr.fieldNames()(0))
      case _ => None
    }
    def lit(e: VExpression): Option[Any] = e match {
      case l: VLiteral[_] => Some(l.value match {
        case u: UTF8String => u.toString
        case v             => v
      })
      case _ => None
    }
    val cs = p.children()
    p.name() match {
      case "IN" if cs.length >= 2 =>
        val vs = cs.tail.map(lit)
        for (c <- col(cs.head); if vs.forall(_.isDefined)) yield In(c, vs.map(_.get))
      case n @ ("=" | ">" | ">=" | "<" | "<=") if cs.length == 2 =>
        for (c <- col(cs(0)); v <- lit(cs(1))) yield n match {
          case "="  => EqualTo(c, v)
          case ">"  => GreaterThan(c, v)
          case ">=" => GreaterThanOrEqual(c, v)
          case "<"  => LessThan(c, v)
          case "<=" => LessThanOrEqual(c, v)
        }
      case _ => None
    }
  }

  /** Write one segment file of length-prefixed Confluent-framed Avro
    * records — the format [[AvroFrameReader]] reads. Callers pass the
    * already-framed bodies ([[graft.streaming.AvroRecords.frame]]).
    */
  def writeSegment(file: java.io.File, frames: Iterator[Array[Byte]]): Unit = {
    val out = new java.io.DataOutputStream(
      new java.io.BufferedOutputStream(new java.io.FileOutputStream(file), 1 << 16))
    try frames.foreach { fr => out.writeInt(fr.length); out.write(fr) }
    finally out.close()
  }

  /** Encode a GenericRecord to Confluent-framed bytes. */
  def frameRecord(schemaId: Int, rec: GenericRecord): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val enc = org.apache.avro.io.EncoderFactory.get().binaryEncoder(bos, null)
    new org.apache.avro.generic.GenericDatumWriter[GenericRecord](rec.getSchema)
      .write(rec, enc)
    enc.flush()
    graft.streaming.AvroRecords.frame(schemaId, bos.toByteArray)
  }
}
