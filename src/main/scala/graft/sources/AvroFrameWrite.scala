package graft.sources

import java.io.File

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.avro.Schema
import org.apache.avro.generic.GenericData
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, SupportsTruncate, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types._

/** DSv2 WRITE path for the framed-Avro segment log (round 13) — the
  * sink half of the connector, with the commit protocol that makes a
  * distributed write exactly-once:
  *
  *  - each task writes to a HIDDEN temp file (`.inprogress-…`, which
  *    [[AvroFrames.listSegments]] never lists), so a failed or
  *    speculatively-duplicated task leaves no visible data;
  *  - the task's `commit()` returns the temp name + gathered segment
  *    STATISTICS (row count, per-field min/max/null-count) as the
  *    [[WriterCommitMessage]];
  *  - the driver's job-level `commit(messages)` writes each `….stats`
  *    sidecar and renames every temp to its visible `segment-…` name
  *    through the one publish step every commit path shares
  *    ([[FrameMaintenance.publishAppends]]) — nothing becomes readable
  *    unless the WHOLE job succeeded; `abort()` deletes the temps.
  *    `mode("overwrite")` truncates (deletes existing segments) inside
  *    the same driver commit, before the publish.
  *
  * The sidecars are the manifest-statistics pattern (parquet row-group
  * stats / Iceberg manifests): the read side uses them to PRUNE whole
  * segments whose min/max prove a pushed filter can never match —
  * at 100 TB that's the difference between scanning a shard and
  * skipping it. Segments without a sidecar (foreign writers) are
  * simply never pruned; pruning is strictly conservative.
  */
object AvroFrameWrite {

  /** Per-field stats: nulls + min/max for orderable primitives. It
    * owns the mapping from Avro values to the stats domain — text
    * (`Utf8` or `String`) observes as `String`, and binary counts as a
    * null (binary fields carry nulls only).
    */
  final class FieldStats {
    var nulls: Long = 0L
    var min: Any = null // Long | Double | String | Boolean
    var max: Any = null

    /** Stats seeded from (nulls, min, max) summaries — one per merged
      * sidecar, or one to re-key a single field.
      */
    def this(summaries: Iterable[(Long, Any, Any)]) = {
      this()
      summaries.foreach { case (n, mn, mx) => nulls += n; Seq(mn, mx).filter(_ != null).foreach(observe) }
    }

    /** Observe one Avro value; returns it in the stats domain (null for
      * binary, integers widened to long, floats to double) — the value
      * [[putBloom]] takes.
      */
    def observe(v: Any): Any = {
      val c = v match {
        case s: CharSequence        => s.toString
        case _: java.nio.ByteBuffer => null
        case i: java.lang.Integer   => i.longValue: java.lang.Long
        case f: java.lang.Float     => f.doubleValue: java.lang.Double
        case o                      => o
      }
      if (c == null) nulls += 1
      else {
        if (min == null || FrameFilter.compare(c, min) < 0) min = c
        if (max == null || FrameFilter.compare(c, max) > 0) max = c
      }
      c
    }
  }

  /** Add a stats-domain value to a field's Bloom filter, if it has one:
    * longs and strings are indexed; other types and nulls are not.
    */
  def putBloom(b: org.apache.spark.util.sketch.BloomFilter, v: Any): Unit =
    if (b != null) v match {
      case x: java.lang.Long => b.putLong(x.longValue)
      case s: String         => b.putString(s)
      case _                 => ()
    }

  /** JSON for a segment's stats sidecar. `blooms` (round 14) carries
    * optional per-field serialized Bloom filters (base64) — the
    * point-lookup pruning index for high-cardinality columns whose
    * min/max spans everything (see [[FrameStatsView.prune]]). Readers
    * that predate the field skip it (unknown-key tolerance).
    */
  def statsJson(frames: Long, fields: Seq[(String, FieldStats)],
                blooms: Map[String, String] = Map.empty): String =
    FrameJson.render(statsNode(frames, fields, blooms))

  /** The sidecar document [[statsJson]] renders. */
  def statsNode(frames: Long, fields: Seq[(String, FieldStats)],
                blooms: Map[String, String]): ObjectNode = {
    val doc = FrameJson.newObject().put("frames", frames)
    val out = doc.putObject("fields")
    fields.foreach { case (name, st) =>
      val n = FrameJson.statNode(st.nulls, st.min, st.max)
      blooms.get(name).foreach(n.put("bloom", _))
      out.set[JsonNode](name, n)
    }
    doc
  }

  /** Serialize a Bloom filter to the sidecar's base64 form. */
  def bloomToB64(b: org.apache.spark.util.sketch.BloomFilter): String = {
    val bos = new java.io.ByteArrayOutputStream()
    b.writeTo(bos)
    java.util.Base64.getEncoder.encodeToString(bos.toByteArray)
  }

  /** Default expected-items sizing for write-time Bloom filters. ONE
    * fixed size per table (not per segment) keeps every segment's
    * filter bit-compatible, so compaction can merge them by OR instead
    * of dropping them.
    */
  val DefaultBloomExpectedItems = 100000
  val BloomFpp = 0.01

  /** Every (tmpName, finalName, statsJson) the job's tasks produced.
    * Empty partitions commit a no-op message: nothing to publish —
    * filtering them here, not just at the writer, keeps a sparse
    * dataframe write from minting phantom files.
    */
  def parts(messages: Array[WriterCommitMessage]): Seq[(String, String, String)] =
    messages.toSeq.collect { case m: AvroFrameCommitMessage => m }.flatMap(_.parts)

  /** Job abort for every DSv2 write: the hidden temps go, nothing was visible. */
  def dropTemps(path: String, messages: Array[WriterCommitMessage]): Unit =
    parts(messages).foreach { case (tmpName, _, _) => new File(path, tmpName).delete() }

  /** Physical truncate (`mode("overwrite")` / `INSERT OVERWRITE`):
    * deletes every segment and sidecar, and starts a NEW table lineage —
    * the maintenance manifest, retained history, the stats ledger and
    * version TAGS go too: stale entries/tags referencing the wiped
    * lineage would corrupt snapshot replay / pruning / tag reads (a
    * surviving tag would silently address the NEW lineage's version
    * numbers).
    */
  def truncate(dir: File): Unit = {
    Option(dir.listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.startsWith("segment-") || f.getName.endsWith(".stats"))
      .foreach(_.delete())
    new File(dir, FrameMaintenance.ManifestFile).delete()
    FrameStatsLedger.drop(dir)
    new File(dir, FrameTags.TagsFile).delete()
    val hist = new File(dir, FrameMaintenance.HistoryDirName)
    Option(hist.listFiles()).getOrElse(Array.empty).foreach(_.delete())
    hist.delete()
  }
}

class AvroFrameWriteBuilder(info: LogicalWriteInfo,
                            tableOpts: org.apache.spark.sql.util.CaseInsensitiveStringMap =
                              org.apache.spark.sql.util.CaseInsensitiveStringMap.empty())
    extends WriteBuilder with org.apache.spark.sql.connector.write.SupportsOverwrite {
  // per-write options win; catalog writes (INSERT INTO) carry none, so
  // the owning table's options supply path/avroSchema/schemaId
  private val o = FrameTableOptions.merged(tableOpts, info.options())
  private var doTruncate = false
  private var overwriteFilters: Array[Filter] = Array.empty
  override def truncate(): WriteBuilder = { doTruncate = true; this }

  /** Filter-based overwrite (`INSERT INTO t REPLACE WHERE cond …` /
    * `df.writeTo(t).overwrite(cond)`): matching rows are deleted
    * through [[FrameTableOptions.deleteWhere]] — metadata-only where
    * sidecars prove whole segments match, executor rewrite (or a
    * deletion vector) for straddlers — inside the SAME job commit that
    * publishes the new segments, so the replace slice swaps in one
    * command. The delete mints one version and each appended segment
    * mints one, so `TIMESTAMP AS OF` still reaches the pre-replace
    * state until expiry. An always-true condition degrades to the
    * physical TRUNCATE (new lineage), exactly like `INSERT OVERWRITE`.
    */
  override def overwrite(filters: Array[Filter]): WriteBuilder = {
    val real = filters.filterNot(_.isInstanceOf[org.apache.spark.sql.sources.AlwaysTrue])
    if (real.isEmpty) { doTruncate = true; return this }
    val schema = AvroFrames.sparkSchema(
      new Schema.Parser().parse(Option(o.avroSchema).getOrElse(
        throw new IllegalArgumentException("option `avroSchema` is required to write"))))
    val unsupported = real.filterNot(FrameFilter.supported(schema, _))
    require(unsupported.isEmpty,
      s"REPLACE WHERE condition not supported by the frame source: " +
        s"${unsupported.mkString(", ")} (comparisons/null tests on top-level " +
        "orderable columns only)")
    overwriteFilters = real
    this
  }

  private def checkedSchema(): String = {
    val schemaJson = o.avroSchema
    require(schemaJson != null, "option `avroSchema` is required to write")
    val expected = AvroFrames.sparkSchema(new Schema.Parser().parse(schemaJson))
    val got = info.schema()
    require(got.fields.map(f => (f.name, f.dataType)).toSeq ==
            expected.fields.map(f => (f.name, f.dataType)).toSeq,
      s"write schema must match the Avro writer schema field-for-field:\n" +
        s"  got      $got\n  expected $expected")
    schemaJson
  }

  override def build(): Write = AvroFrameWriteBuilder.shaped(o,
    new AvroFrameBatchWrite(o.path, checkedSchema(), o.schemaId, info.queryId(),
      o.bloom, o.timePart, dir => {
        if (doTruncate) AvroFrameWrite.truncate(dir)
        // REPLACE WHERE: retire the matching slice first, then publish
        // the replacement segments — one command, both halves in this
        // driver commit
        if (overwriteFilters.nonEmpty) o.deleteWhere(overwriteFilters)
      }), {
      // the log is append-only: complete/update output modes would need
      // per-epoch truncation, which breaks the tailing reader's offsets
      require(!doTruncate && overwriteFilters.isEmpty,
        "frame-log streaming writes are append-only " +
        "(use outputMode(\"append\"))")
      new AvroFrameStreamingWrite(o.path, checkedSchema(), o.schemaId,
        info.queryId(), o.bloom, o.timePart)
    })
}

object AvroFrameWriteBuilder {
  /** ASC/NULLS FIRST sort order for a sorted-table write — Spark's
    * default sort semantics, matched by the scan's reported ordering.
    */
  def sortOrderFor(sortedBy: Option[String]): Array[org.apache.spark.sql.connector.expressions.SortOrder] =
    sortedBy.map(c => Array(
      org.apache.spark.sql.connector.expressions.Expressions.sort(
        org.apache.spark.sql.connector.expressions.Expressions.column(c),
        org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING)))
      .getOrElse(Array.empty)

  /** The one physical write shape of a frame table, for inserts and
    * group rewrites alike:
    *
    *  - bucketed: Spark CLUSTERS the incoming rows by the bucket key
    *    into exactly n partitions (HashPartitioning → partition id =
    *    pmod(murmur3(key), n), the same function the scan's reported
    *    bucket(n, key) transform computes), so task partitionId IS the
    *    bucket and each segment holds one bucket — the
    *    storage-partitioned-join write discipline;
    *  - `sortedBy`: each task's rows sort on the column before writing,
    *    so every segment is individually ordered (the scan's reported
    *    ordering contract, [[AvroFrameScan.outputOrdering]]);
    *  - plain: no requirement at all.
    *
    * Streaming writes exist for the plain shape only: the epoch write
    * path neither bucket-routes nor sorts rows, which would break the
    * reported KeyGroupedPartitioning / per-segment ordering.
    */
  def shaped(o: FrameTableOptions, batch: => BatchWrite,
             streaming: => org.apache.spark.sql.connector.write.streaming.StreamingWrite): Write =
    new Write with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {
      override def requiredDistribution(): org.apache.spark.sql.connector.distributions.Distribution =
        o.bucket match {
          case Some((key, _)) =>
            org.apache.spark.sql.connector.distributions.Distributions.clustered(
              Array(org.apache.spark.sql.connector.expressions.Expressions.column(key)))
          case None => org.apache.spark.sql.connector.distributions.Distributions.unspecified()
        }
      override def requiredNumPartitions(): Int = o.bucket.fold(0)(_._2)
      override def requiredOrdering(): Array[org.apache.spark.sql.connector.expressions.SortOrder] =
        sortOrderFor(o.sortedBy)
      override def toBatch: BatchWrite = batch
      override def toStreaming: org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
        def refuse(kind: String, why: String): Nothing =
          throw new UnsupportedOperationException(s"streaming writes to a $kind frame table " +
            s"are unsupported: the epoch write path does not $why")
        if (o.bucket.isDefined) refuse("BUCKETED",
          "bucket-route rows, which would break the reported KeyGroupedPartitioning")
        if (o.sortedBy.isDefined) refuse("SORTED",
          "sort rows, which would break the scan's reported per-segment ordering")
        streaming
      }
    }
}

/** One task's publishable files. Unpartitioned tasks fill the three
  * head fields (empty tmpName = empty task); a TIME-PARTITIONED task
  * (round 16) may emit several per-partition files, carried in `more`.
  * Commit sites iterate [[parts]], which normalizes both shapes.
  */
case class AvroFrameCommitMessage(tmpName: String, finalName: String,
                                  statsJson: String,
                                  more: Seq[(String, String, String)] = Nil)
    extends WriterCommitMessage {
  def parts: Seq[(String, String, String)] =
    (if (tmpName.nonEmpty) Seq((tmpName, finalName, statsJson)) else Nil) ++ more
}

/** Write-time Bloom filter config: which columns get one, and the
  * fixed expected-items sizing (one size per table keeps segment
  * filters bit-compatible for compaction merge).
  */
case class BloomSpec(cols: Array[String], expectedItems: Long) extends Serializable

/** Batch job commit, shared by inserts and group rewrites: tasks write
  * hidden temps under one monotonic stamp; the driver commit first runs
  * `beforePublish` (truncate / REPLACE WHERE delete / group retire),
  * then publishes every temp through [[FrameMaintenance.publishAppends]].
  */
class AvroFrameBatchWrite(path: String, avroSchemaJson: String, schemaId: Int,
                          queryId: String, bloom: Option[BloomSpec] = None,
                          part: Option[FrameTimePart] = None,
                          beforePublish: File => Unit = _ => ()) extends BatchWrite {
  require(path != null, "option `path` is required")

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    // visible names must increase lexicographically in APPEND order —
    // the tailing reader's and the version cut's contract. A bare
    // query UUID sorts arbitrarily between jobs, so batch publishes
    // under a zero-padded job timestamp (one stamp per job, driver
    // side: segments of one insert stay adjacent, later inserts sort
    // after). The stamp is derived MONOTONICALLY from the log itself —
    // max(existing stamp + 1, wall clock) — so a clock regression
    // between jobs (NTP step, different driver host) cannot make a
    // later insert sort before an earlier one. Streaming keeps
    // deterministic epoch names instead — replay dedup needs them
    // stable across re-runs.
    val stamp = AvroFrames.batchStamp(path, queryId)
    new AvroFrameWriterFactory(path, avroSchemaJson, schemaId, stamp, bloom, part)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val dir = new File(path)
    beforePublish(dir)
    FrameMaintenance.publishAppends(dir, AvroFrameWrite.parts(messages))
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    AvroFrameWrite.dropTemps(path, messages)
}

/** Streaming write into the segment log — the sink half of the Kafka
  * analog, so a Structured Streaming query can APPEND to the same log
  * another query tails ([[AvroFrameMicroBatchStream]]). Exactly-once
  * across restarts without a transaction service: segment names embed
  * the stable streaming query id and the epoch
  * (`segment-<queryId>-e<epoch>-p<part>`), so a replayed epoch (sink
  * re-commit after a crash between sink commit and offset-log commit)
  * finds its segment names already present and drops the replacement
  * temps — idempotent re-commit, the same dedup-by-(queryId, batchId)
  * contract Spark's own sinks implement. Zero-padded epoch numbers
  * keep names lexicographically increasing in append order, which is
  * exactly the reader's segment-ordering contract (one writer query
  * per log, like one producer per partition for ordering).
  */
class AvroFrameStreamingWrite(path: String, avroSchemaJson: String, schemaId: Int,
                              queryId: String, bloom: Option[BloomSpec] = None,
                              part: Option[FrameTimePart] = None)
    extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {
  require(path != null, "option `path` is required")

  override def createStreamingWriterFactory(info: PhysicalWriteInfo)
      : org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory =
    new AvroFrameStreamingWriterFactory(path, avroSchemaJson, schemaId, queryId, bloom, part)

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val dir = new File(path)
    // replayed epoch: the first commit's segment stands — dropping the
    // re-run's temp is what makes the sink exactly-once (and the first
    // commit's publish mtime and ledger entry stand with it)
    val (replayed, fresh) = AvroFrameWrite.parts(messages)
      .partition { case (_, finalName, _) => new File(dir, finalName).isFile }
    replayed.foreach { case (tmpName, _, _) => new File(dir, tmpName).delete() }
    FrameMaintenance.publishAppends(dir, fresh)
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    AvroFrameWrite.dropTemps(path, messages)
}

class AvroFrameStreamingWriterFactory(path: String, avroSchemaJson: String,
                                      schemaId: Int, queryId: String,
                                      bloom: Option[BloomSpec] = None,
                                      part: Option[FrameTimePart] = None)
    extends org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
                            epochId: Long): DataWriter[InternalRow] =
    // epoch baked into the name tag: the final name is stable per
    // (queryId, epoch, partition, partition-value), which is what
    // replay dedup keys on
    new AvroFrameDataWriter(path, avroSchemaJson, schemaId,
      f"$queryId-e$epochId%09d", partitionId, taskId, bloom, part)
}

class AvroFrameWriterFactory(path: String, avroSchemaJson: String,
                             schemaId: Int, queryId: String,
                             bloom: Option[BloomSpec] = None,
                             part: Option[FrameTimePart] = None) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new AvroFrameDataWriter(path, avroSchemaJson, schemaId, queryId, partitionId, taskId,
      bloom, part)
}

/** Task-side writer: length-prefixed framed-Avro records into hidden
  * temp files, stats gathered inline. Empty partitions emit no file.
  *
  * Time-partitioned tables (round 16, `part` defined): each row routes
  * to its partition's own file — one task may emit several, each named
  * with the `-T<value>` token the scan's partition pruning parses. The
  * per-file state (stream, stats, blooms) lives in one [[Sink]] per
  * partition value; unpartitioned tasks use a single sink keyed 0.
  */
class AvroFrameDataWriter(path: String, avroSchemaJson: String, schemaId: Int,
                          queryId: String, partitionId: Int, taskId: Long,
                          bloom: Option[BloomSpec] = None,
                          part: Option[FrameTimePart] = None)
    extends DataWriter[InternalRow] {

  private val writerSchema = new Schema.Parser().parse(avroSchemaJson)
  private val sparkSchema = AvroFrames.sparkSchema(writerSchema)
  private val fieldTypes: Array[DataType] = sparkSchema.fields.map(_.dataType)
  private val fieldNames: Array[String] = sparkSchema.fieldNames
  private val partPos: Int = part.map { tp =>
    val i = fieldNames.indexOf(tp.col)
    require(i >= 0 && fieldTypes(i) == LongType,
      s"partition column ${tp.col} must be a BIGINT field of the table")
    i
  }.getOrElse(-1)

  /** Per-output-file state. `token` is "" (unpartitioned) or the
    * partition's `-T<value>` name token.
    */
  private final class Sink(token: String) {
    // temp is dot-prefixed: invisible to listSegments until job commit;
    // taskId in the name keeps speculative attempts from colliding
    val tmpName = f".inprogress-$queryId-p$partitionId%05d-t$taskId$token"
    val finalName = f"segment-$queryId-p$partitionId%05d$token.bin"
    val stats: Array[AvroFrameWrite.FieldStats] =
      fieldNames.map(_ => new AvroFrameWrite.FieldStats)
    // bloom builders: position -> filter (null = none), fixed-size per the table spec
    val blooms: Array[org.apache.spark.util.sketch.BloomFilter] = fieldNames.map(c =>
      bloom.filter(_.cols.contains(c)).map(spec => org.apache.spark.util.sketch.BloomFilter
        .create(spec.expectedItems, AvroFrameWrite.BloomFpp)).orNull)
    var frames = 0L
    val out = new java.io.DataOutputStream(new java.io.BufferedOutputStream(
      new java.io.FileOutputStream(new File(path, tmpName)), 1 << 16))
    def statsJson: String = AvroFrameWrite.statsJson(frames, fieldNames.zip(stats).toSeq,
      fieldNames.zip(blooms).collect { case (c, b) if b != null => c -> AvroFrameWrite.bloomToB64(b) }.toMap)
  }

  private val sinks = scala.collection.mutable.LinkedHashMap.empty[Long, Sink]

  private def sinkFor(row: InternalRow): Sink = {
    val key = if (partPos < 0) 0L else {
      require(!row.isNullAt(partPos),
        s"partition column ${part.get.col} is NULL — time-partitioned tables " +
          "require a NOT NULL routing value")
      part.get.value(row.getLong(partPos))
    }
    sinks.getOrElseUpdate(key,
      new Sink(if (partPos < 0) "" else FrameTimePart.token(key)))
  }

  override def write(row: InternalRow): Unit = {
    val sink = sinkFor(row)
    val rec = new GenericData.Record(writerSchema)
    var i = 0
    while (i < fieldTypes.length) {
      val v = if (row.isNullAt(i)) null else fieldTypes(i) match {
        case StringType  => row.getUTF8String(i).toString
        case IntegerType => Int.box(row.getInt(i))
        case LongType    => Long.box(row.getLong(i))
        case FloatType   => Float.box(row.getFloat(i))
        case DoubleType  => Double.box(row.getDouble(i))
        case BooleanType => Boolean.box(row.getBoolean(i))
        case BinaryType  => java.nio.ByteBuffer.wrap(row.getBinary(i))
        case other => throw new IllegalStateException(s"unwritable type $other")
      }
      AvroFrameWrite.putBloom(sink.blooms(i), sink.stats(i).observe(v))
      rec.put(i, v)
      i += 1
    }
    sink.frames += 1
    val frame = AvroFrames.frameRecord(schemaId, rec)
    sink.out.writeInt(frame.length)
    sink.out.write(frame)
  }

  override def commit(): WriterCommitMessage = {
    sinks.values.foreach(_.out.close())
    val parts = sinks.values.filter(_.frames > 0L)
      .map(s => (s.tmpName, s.finalName, s.statsJson)).toSeq
    sinks.values.filter(_.frames == 0L)
      .foreach(s => new File(path, s.tmpName).delete())
    parts match {
      case Seq() => AvroFrameCommitMessage("", "", "") // empty: nothing to publish
      case (t, f, j) +: rest => AvroFrameCommitMessage(t, f, j, rest)
    }
  }

  override def abort(): Unit = {
    sinks.values.foreach { s =>
      s.out.close()
      new File(path, s.tmpName).delete()
    }
  }

  override def close(): Unit = ()
}

/** Sidecar parsing + conservative segment pruning against pushed
  * filters — the read-side consumer of the write path's statistics.
  */
object AvroFrameStats {

  /** (frames, fieldName -> (nulls, min, max)); min/max typed Long /
    * Double / String / Boolean as written. None if the sidecar is
    * absent or unreadable (⇒ never prune).
    */
  def read(segment: File): Option[(Long, Map[String, (Long, Any, Any)])] =
    readFull(segment).map { case (frames, fields, _) => (frames, fields) }

  /** Sidecar FILE opens performed by this JVM — the observability hook
    * the round-16 O(1)-planning-metadata spec counts: on a ledgered
    * table, planning a query must not move this by more than a small
    * constant however many segments are live.
    */
  private[graft] val sidecarOpens = new java.util.concurrent.atomic.AtomicLong(0)

  /** Full sidecar including the per-field Bloom filter base64 payloads
    * (round 14) — kept as strings here; [[blooms]] deserializes on
    * demand so callers that only need min/max never pay the decode.
    */
  def readFull(segment: File): Option[(Long, Map[String, (Long, Any, Any)], Map[String, String])] = {
    val f = new File(segment.getParentFile, segment.getName + ".stats")
    if (!f.isFile) return None
    sidecarOpens.incrementAndGet()
    try parseStatsJson(java.nio.file.Files.readString(f.toPath))
    catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Parse a stats sidecar's JSON body (shared with the ledger, which
    * folds commit-message statsJson in without any file read). None on
    * malformed input.
    */
  def parseStatsJson(json: String): Option[(Long, Map[String, (Long, Any, Any)], Map[String, String])] =
    try {
      val doc = FrameJson.requireObject(FrameJson.parse(json))
      val fields = doc.path("fields")
      Some((FrameJson.long(doc, "frames", 0L), FrameJson.statsOf(fields),
        FrameJson.fields(fields).flatMap { case (name, f) =>
          Option(f.get("bloom")).map(b => name -> FrameJson.statValue(b).asInstanceOf[String])
        }.toMap))
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Deserialize a sidecar's Bloom payloads. Unreadable filters are
    * dropped (⇒ that column just never bloom-prunes).
    */
  def blooms(b64: Map[String, String]): Map[String, org.apache.spark.util.sketch.BloomFilter] =
    b64.flatMap { case (c, s) =>
      try Some(c -> org.apache.spark.util.sketch.BloomFilter.readFrom(
        new java.io.ByteArrayInputStream(java.util.Base64.getDecoder.decode(s))))
      catch { case scala.util.control.NonFatal(_) => None }
    }

  /** Executor-side bloom gate (round 16): judged from the segment's
    * OWN sidecar, can any row satisfy the pushed filters' equality
    * shapes? Readers call this BEFORE opening the data file, so a
    * point lookup on a bloom-indexed table costs each task one small
    * sidecar read instead of a full-segment decode — the distributed
    * half of bloom pruning, complementing the driver-side residual
    * check (which is capped at [[FrameStatsView.MaxDriverBloomOpens]]
    * per plan; beyond the cap, THIS gate still catches every
    * non-matching segment, just executor-side). Conservative-false:
    * no blooms / no equality filters / unreadable sidecar = not
    * blocked.
    */
  def bloomBlocked(file: String, pushed: Array[Filter]): Boolean =
    pushed.exists(FrameFilter.bloomColumns(_).nonEmpty) && {
      bloomProbeReads.incrementAndGet()
      readFull(new File(file)) match {
        case Some((_, _, b64)) if b64.nonEmpty =>
          val bf = blooms(b64)
          !pushed.forall(FrameFilter.bloomMayMatch(bf, _))
        case _ => false
      }
    }

  /** Sidecar reads performed by [[bloomBlocked]] in this JVM — the
    * observability hook for the split-level probe hint (round 17):
    * a plan whose splits carry `probeBloom = false` (the ledger knows
    * no relevant bloom payload exists) must not move this at all.
    */
  private[graft] val bloomProbeReads = new java.util.concurrent.atomic.AtomicLong(0)

  /** Stats-domain value → Catalyst internal value at the column's
    * Spark type (narrowing the write path's Int→Long / Float→Double
    * widening back — exact, the widened value originated at the
    * narrower width). Shared by the pushed-aggregation reader and the
    * scan's reported column statistics.
    */
  def toCatalyst(v: Any, t: DataType): Any = (v, t) match {
    case (null, _)                           => null
    case (x: java.lang.Long, IntegerType)    => Int.box(x.intValue)
    case (x: java.lang.Long, LongType)       => x
    case (x: java.lang.Double, FloatType)    => Float.box(x.floatValue)
    case (x: java.lang.Double, DoubleType)   => x
    case (s: String, FloatType | DoubleType) => toCatalyst(java.lang.Double.valueOf(s), t) // NaN, ±Infinity
    case (s: String, StringType)             => org.apache.spark.unsafe.types.UTF8String.fromString(s)
    case (b: java.lang.Boolean, BooleanType) => b
    case (x, tt) => throw new IllegalStateException(
      s"stats value ${x.getClass} does not fit column type $tt")
  }
}

/** Group-based row-level operation over the segment log — the DSv2
  * machinery behind SQL `UPDATE`, `MERGE INTO`, and non-translatable
  * `DELETE` conditions (`AvroFrameTable.newRowLevelOperationBuilder`).
  * Copy-on-write at SEGMENT granularity:
  *
  *  1. Spark plans a [[org.apache.spark.sql.connector.read.Scan]]
  *     through [[newScanBuilder]]. The command's condition reaches it
  *     in PRUNE-ONLY mode — affected groups must be read WHOLE (their
  *     unmatched rows are preserved verbatim by the rewrite), so the
  *     condition may drop segments but never rows. Spark's runtime
  *     group filtering then injects `_segment IN (<matched groups>)`,
  *     narrowing the read-and-replace set to segments actually
  *     containing matches; the scan reports the FINAL planned set back
  *     here ([[plannedGroups]]).
  *  2. Spark computes the new contents of those groups and writes them
  *     through [[newWriteBuilder]]'s [[AvroFrameBatchWrite]], whose
  *     job commit first retires exactly the scanned segments (ONE delete
  *     version, originals to `_history/` — pre-op snapshots stay
  *     addressable) and publishes the rewritten rows as ordinary
  *     appends. Bucketed tables keep their invariant: the write
  *     requires the same clustered-by-bucket distribution as a normal
  *     insert, so rewritten segments stay one-bucket-per-file.
  *
  * At 100 TB the cost is proportional to the AFFECTED segments (read
  * whole, rewritten whole), never the table — the standard
  * copy-on-write trade; translatable DELETEs dodge even that via the
  * metadata-only fast path (OptimizeMetadataOnlyDeleteFromTable).
  */
class FrameRowLevelOperation(
    cmd: org.apache.spark.sql.connector.write.RowLevelOperation.Command,
    schema: StructType,
    tableOpts: org.apache.spark.sql.util.CaseInsensitiveStringMap)
    extends org.apache.spark.sql.connector.write.RowLevelOperation {

  /** Absolute paths of the segments the operation's scan planned —
    * null until planInputPartitions ran; the write refuses to commit
    * without it (the replaced set must be EXACTLY what was read).
    */
  @volatile private[sources] var plannedGroups: Array[String] = _

  override def command(): org.apache.spark.sql.connector.write.RowLevelOperation.Command = cmd

  override def requiredMetadataAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions
      .column(AvroFrames.SegmentMetaCol))

  override def newScanBuilder(options: org.apache.spark.sql.util.CaseInsensitiveStringMap)
      : org.apache.spark.sql.connector.read.ScanBuilder =
    new AvroFrameScanBuilder(schema, tableOpts,
      onPlanned = segs => plannedGroups = segs.map(_.getAbsolutePath),
      filtersPruneOnly = true)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = new WriteBuilder {
    override def build(): Write = {
      val o = new FrameTableOptions(tableOpts)
      require(o.avroSchema != null, "option `avroSchema` is required to write")
      AvroFrameWriteBuilder.shaped(o,
        new AvroFrameBatchWrite(o.path, o.avroSchema, o.schemaId, info.queryId(),
          o.bloom, o.timePart, dir => {
            val groups = Option(plannedGroups).getOrElse(
              throw new IllegalStateException(
                "replace-groups write committed before the operation's scan planned its groups"))
            FrameMaintenance.retireSegments(dir, groups.toSeq.map(p => new File(p).getName))
          }),
        throw new UnsupportedOperationException("row-level operations are batch-only"))
    }
  }
}
