package graft.sources

import org.apache.spark.sql.connector.read.PartitionReader
import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.{ColumnarBatch, ColumnVector}

/** Columnar read path for the frame source (round 15, VERDICT r14
  * item 4): the row reader materializes one boxed
  * `GenericInternalRow` per frame, which every operator above unwraps
  * through virtual `InternalRow` calls; this reader decodes the same
  * frames but writes the projected fields straight into reused
  * `OnHeapColumnVector`s and ships 4K-row [[ColumnarBatch]]es. Spark
  * plans a `ColumnarToRow` transition (itself codegen'd, reading
  * primitives out of the vectors with no boxing), so the scan joins
  * the vectorized side of the engine the way the built-in parquet
  * reader does. Decode stays row-at-a-time — Avro binary is
  * sequential by nature — the win is on the MATERIALIZATION side:
  * no per-row allocation, no per-field boxing, monomorphic vector
  * writes.
  *
  * Every batch row scan reads through it (single-segment and bucket
  * splits alike are segment chains). Pushed aggregates emit one
  * summary row, pushed TopN keeps a row heap, and the streaming path
  * feeds micro-batch machinery — the reader factory builds those
  * splits row-shaped. Projection, pushed filters, deletion vectors,
  * multi-schema decode, the bloom gate and the task metrics come from
  * the same [[FrameProjection]] and [[FrameSegmentWalk]] as the row
  * reader, so the two paths cannot drift; LIMIT bounds the chain total
  * in both.
  */
class AvroFrameColumnarReader(files: Seq[String], dvs: Seq[Option[String]],
                              avroSchemaJson: String, schemaId: Int,
                              requiredCols: Array[String], pushed: Array[Filter],
                              limit: Int = 0, historyJson: String = null,
                              probes: Seq[Boolean] = Seq.empty)
    extends PartitionReader[ColumnarBatch] {

  private val BatchRows = 4096

  private val proj = new FrameProjection(avroSchemaJson, schemaId, historyJson,
    requiredCols, pushed)
  private val requiredPos = proj.requiredPos
  private val requiredTypes = proj.requiredTypes
  private val walk = new FrameSegmentWalk(files, dvs, probes, proj)

  private val vectors: Array[OnHeapColumnVector] =
    requiredTypes.map(t => new OnHeapColumnVector(BatchRows, t))
  private val batch = new ColumnarBatch(vectors.map(v => v: ColumnVector).toArray)

  override def next(): Boolean = {
    var n = 0
    var more = true
    while (more && n < BatchRows && (limit <= 0 || walk.emitted < limit)) {
      val rec = walk.next()
      if (rec == null) more = false
      else {
        if (n == 0) vectors.foreach(_.reset())
        var i = 0
        while (i < requiredPos.length) {
          val p = requiredPos(i)
          val v = vectors(i)
          if (p == FrameProjection.MetaSeg) v.putByteArray(n, walk.segment.getBytes)
          else if (p == FrameProjection.MetaOff) v.putLong(n, walk.position)
          else {
            val value = rec.get(p)
            if (value == null) v.putNull(n)
            else requiredTypes(i) match {
              case IntegerType => v.putInt(n, value.asInstanceOf[java.lang.Integer].intValue)
              case LongType    => v.putLong(n, value.asInstanceOf[java.lang.Long].longValue)
              case FloatType   => v.putFloat(n, value.asInstanceOf[java.lang.Float].floatValue)
              case DoubleType  => v.putDouble(n, value.asInstanceOf[java.lang.Double].doubleValue)
              case BooleanType => v.putBoolean(n, value.asInstanceOf[java.lang.Boolean].booleanValue)
              case StringType  => value match {
                case u: org.apache.avro.util.Utf8 =>
                  // Avro decodes strings as Utf8 (already UTF-8 bytes):
                  // copy the exact byte range, no String round-trip
                  v.putByteArray(n, u.getBytes, 0, u.getByteLength)
                case s => v.putByteArray(n,
                  s.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
              }
              case BinaryType =>
                val b = value.asInstanceOf[java.nio.ByteBuffer]
                val arr = new Array[Byte](b.remaining()); b.duplicate().get(arr)
                v.putByteArray(n, arr)
              case other => throw new IllegalStateException(s"uncolumnarizable type $other")
            }
          }
          i += 1
        }
        n += 1
        walk.emitted += 1
      }
    }
    if (n == 0) return false
    batch.setNumRows(n)
    true
  }

  override def get(): ColumnarBatch = batch

  override def close(): Unit = {
    walk.close()
    batch.close()
  }

  override def currentMetricsValues(): Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    walk.metrics
}
