package graft.sources

import java.io.File

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.expressions.NamedReference
import org.apache.spark.sql.connector.write.{DeltaBatchWrite, DeltaWrite, DeltaWriteBuilder, DeltaWriter, DeltaWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RowLevelOperation, WriterCommitMessage}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Delta-based row-level operations (round 15) — merge-on-read
  * UPDATE / MERGE / DELETE via [[SupportsDelta]]: where the group-based
  * path rewrites every AFFECTED SEGMENT whole (copy-on-write), the
  * delta path ships only the CHANGED ROWS. The row ID is the engine's
  * record provenance — `(_segment, _frame_offset)`, the Kafka
  * (partition, offset) analog the scan already exposes as metadata
  * columns — so Spark's rewrite plans emit per-row actions and the
  * commit translates them exactly:
  *
  *  - DELETE actions accumulate FRAME POSITIONS per segment and
  *    publish as cumulative deletion vectors ([[FrameDv]]) — one `dv`
  *    manifest entry, one version, prior vectors retired for time
  *    travel;
  *  - UPDATE is represented as DELETE + INSERT
  *    (`representUpdateAsDeleteAndInsert` — matching the change feed's
  *    representation, now ROW-exact instead of group-grain);
  *  - INSERT actions write ordinary segments through the same task
  *    temp / stats / rename commit as a batch insert.
  *
  * At 100 TB: a MERGE touching 0.1% of rows in every segment costs
  * O(changed rows) — positions + appended bytes — instead of
  * copy-on-write's O(every touched segment). Engaged for
  * `deleteMode='merge-on-read'` tables without a bucket or sort layout
  * (bucketed/sorted tables keep the group rewrite, which preserves
  * their physical invariants); the scan pushes the command's condition
  * as ordinary row filters, so only candidate segments decode.
  *
  * Commit safety: the publish runs under the maintenance commit lock
  * with CAS validation against the manifest length captured at job
  * start — concurrent maintenance that rewrites segments mid-operation
  * would invalidate the collected positions, so a conflicting commit
  * fails loudly rather than publishing stale vectors (plain appends
  * don't touch the manifest and interleave safely).
  */
class FrameDeltaOperation(
    cmd: RowLevelOperation.Command,
    schema: StructType,
    tableOpts: CaseInsensitiveStringMap)
    extends RowLevelOperation with org.apache.spark.sql.connector.write.SupportsDelta {

  override def command(): RowLevelOperation.Command = cmd

  override def rowId(): Array[NamedReference] = Array(
    org.apache.spark.sql.connector.expressions.Expressions.column(AvroFrames.SegmentMetaCol),
    org.apache.spark.sql.connector.expressions.Expressions.column(AvroFrames.OffsetMetaCol))

  override def representUpdateAsDeleteAndInsert(): Boolean = true

  override def requiredMetadataAttributes(): Array[NamedReference] = Array.empty

  /** Ordinary scan with FULL filter pushdown: a delta operation reads
    * only matching rows (their row IDs travel to the writer), unlike
    * the group path's whole-group prune-only reads.
    */
  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : org.apache.spark.sql.connector.read.ScanBuilder =
    new AvroFrameScanBuilder(schema, tableOpts)

  override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder =
    new DeltaWriteBuilder {
      override def build(): DeltaWrite = new DeltaWrite {
        override def toBatch: DeltaBatchWrite = {
          val o = new FrameTableOptions(tableOpts)
          new FrameDeltaBatchWrite(o.path, o.avroSchema, o.schemaId, info.queryId(),
            o.bloom, o.dvFoldThreshold)
        }
      }
    }
}

/** One task's contribution: the inserted-rows temp (if any rows were
  * inserted) and the deleted positions per segment name.
  */
case class FrameDeltaCommitMessage(insertTmp: String, insertFinal: String,
                                   insertStats: String,
                                   deletes: Map[String, Array[Int]])
    extends WriterCommitMessage

class FrameDeltaBatchWrite(path: String, avroSchemaJson: String, schemaId: Int,
                           queryId: String, bloom: Option[BloomSpec],
                           dvFoldThreshold: Double =
                             FrameMaintenance.DefaultDvFoldThreshold)
    extends DeltaBatchWrite {
  require(path != null, "option `path` is required")
  private val dir = new File(path)
  // CAS snapshot: the manifest version this operation's scan read
  // against; the commit validates it under the lock
  private val manifestLenAtStart = FrameMaintenance.readManifest(dir).length

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DeltaWriterFactory = {
    val stamp = AvroFrames.batchStamp(path, queryId)
    new FrameDeltaWriterFactory(path, avroSchemaJson, schemaId, stamp, bloom)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val msgs = messages.collect { case m: FrameDeltaCommitMessage => m }
    // merged per-segment delete positions across all tasks (dedup
    // defensively; Spark's MERGE cardinality check precedes us)
    val deletes: Map[String, Array[Int]] =
      msgs.flatMap(_.deletes.toSeq).groupBy(_._1)
        .map { case (seg, xs) => seg -> xs.flatMap(_._2).distinct.sorted.toArray }
    FrameMaintenance.publishDeltaCommit(dir, manifestLenAtStart, deletes,
      msgs.filter(_.insertTmp.nonEmpty)
        .map(m => (m.insertTmp, m.insertFinal, m.insertStats)).toSeq)
    // auto-fold: vectors this operation grew past the threshold fold
    // into real bytes now (version-neutral compaction of exactly those
    // segments)
    if (deletes.valuesIterator.exists(_.nonEmpty))
      FrameMaintenance.autoFoldVectors(
        org.apache.spark.sql.SparkSession.active, dir, dvFoldThreshold)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    messages.collect { case m: FrameDeltaCommitMessage if m.insertTmp.nonEmpty => m }
      .foreach(m => new File(dir, m.insertTmp).delete())
}

class FrameDeltaWriterFactory(path: String, avroSchemaJson: String, schemaId: Int,
                              stamp: String, bloom: Option[BloomSpec])
    extends DeltaWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DeltaWriter[InternalRow] =
    new FrameDeltaWriter(path, avroSchemaJson, schemaId, stamp, partitionId, taskId, bloom)
}

/** Task-side delta writer: inserts stream into a hidden temp segment
  * (identical discipline to a batch insert); deletes accumulate the
  * `(segment, position)` row IDs. UPDATE arrives pre-split as
  * delete + insert (`representUpdateAsDeleteAndInsert`).
  */
class FrameDeltaWriter(path: String, avroSchemaJson: String, schemaId: Int,
                       stamp: String, partitionId: Int, taskId: Long,
                       bloom: Option[BloomSpec])
    extends DeltaWriter[InternalRow] {

  private val inserts =
    new AvroFrameDataWriter(path, avroSchemaJson, schemaId, stamp, partitionId, taskId, bloom)
  private val deletes =
    scala.collection.mutable.Map.empty[String, scala.collection.mutable.ArrayBuffer[Int]]

  /** `id` carries the rowId projection in [[FrameDeltaOperation.rowId]]
    * order: (_segment STRING, _frame_offset BIGINT).
    */
  override def delete(meta: InternalRow, id: InternalRow): Unit = {
    val seg = id.getUTF8String(0).toString
    val pos = id.getLong(1)
    deletes.getOrElseUpdate(seg, scala.collection.mutable.ArrayBuffer.empty) += pos.toInt
  }

  override def update(meta: InternalRow, id: InternalRow, row: InternalRow): Unit =
    throw new IllegalStateException(
      "updates are represented as delete+insert (representUpdateAsDeleteAndInsert)")

  override def insert(row: InternalRow): Unit = inserts.write(row)

  override def commit(): WriterCommitMessage = {
    val im = inserts.commit().asInstanceOf[AvroFrameCommitMessage]
    FrameDeltaCommitMessage(im.tmpName, im.finalName, im.statsJson,
      deletes.map { case (s, ps) => s -> ps.toArray }.toMap)
  }

  override def abort(): Unit = inserts.abort()
  override def close(): Unit = inserts.close()
}
