package graft.sources

import java.io.File

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Incremental materialized aggregate over a frame table (round 14) —
  * the consumer the change data feed exists for: a `(key, cnt, sum)`
  * rollup of a source table, maintained by reading ONLY the change
  * units minted since the last refresh and MERGE-ing the signed deltas
  * into the target. Every piece is the engine's own machinery
  * composed: [[FrameChanges]] supplies exact insert/delete rows per
  * version, the delta is one small groupBy over the changes, and the
  * apply is SQL `MERGE INTO` through the catalog's group-based
  * row-level operation — so refresh cost is O(changed segments) +
  * O(affected target groups), never O(source table). At 100 TB that is
  * the difference between a nightly full recompute of a trillion-row
  * rollup and merging one day of deltas.
  *
  * Exactness: counts are integer-exact by construction (inserts minus
  * deletes). Sums are float-additive — the incrementally maintained
  * sum equals the full recompute up to double-addition reassociation,
  * the same tolerance any distributed sum already carries. Change rows
  * whose value column is NULL contribute zero to the sum (the same
  * null-skipping a full `sum(v)` recompute applies).
  *
  * Exactly-once (round 15): a MERGE of SIGNED deltas is not
  * idempotent, so applying a change range twice double-counts. The
  * refresh therefore brackets the MERGE with a write-ahead INTENT
  * marker (`_matview.intent.json`: the range plus the target's version
  * count before the apply). A crash between the MERGE commit and the
  * watermark write leaves the intent behind; the next refresh detects
  * whether the MERGE committed — the MERGE mints target versions, so
  * `totalVersions(target) > intent.dstVersions` proves it — and either
  * finalizes the watermark without re-applying, or discards the intent
  * and re-runs the never-applied range. The streaming path keys the
  * same ledger on the foreachBatch `batchId` (Structured Streaming
  * re-delivers a batch after a crash between sink apply and offset-log
  * commit; the ledger turns that at-least-once re-delivery into an
  * exactly-once apply). Like all maintenance: one maintainer per view
  * — the version-bump detection assumes nothing else writes the target
  * between the MERGE and recovery.
  */
object FrameMatView {

  val MarkerFile = "_matview.json"
  val IntentFile = "_matview.intent.json"
  val StreamMarkerFile = "_matview.stream.json"
  val StreamIntentFile = "_matview.stream.intent.json"

  /** Test-only failpoint: invoked between the MERGE commit and the
    * watermark/ledger write — the crash window the intent protocol
    * exists for (FrameChangesSpec kills a refresh here and proves the
    * re-run does not double-apply).
    */
  private[graft] var onAfterMerge: () => Unit = () => ()

  /** Test-only failpoint: invoked between the intent write and the
    * MERGE — the other half of the apply window (a crash here must
    * leave the watermark alone AND re-run the range on recovery).
    */
  private[graft] var onBeforeMerge: () => Unit = () => ()

  case class RefreshResult(fromVersion: Int, toVersion: Int, deltaKeys: Long)

  private def readWatermark(dstDir: File): Int =
    FrameJson.readLongs(new File(dstDir, MarkerFile)).getOrElse("srcVersion", 0L).toInt

  private def writeWatermark(dstDir: File, srcVersion: Int): Unit =
    FrameJson.writeLongs(new File(dstDir, MarkerFile), "srcVersion" -> srcVersion.toLong)

  /** Crash recovery for the batch path: an intent left behind means a
    * prior refresh died inside the apply window. If the target's
    * version count moved past the intent's snapshot, the MERGE
    * committed — finalize the watermark it never got to write.
    * Either way the intent is consumed; the caller then proceeds from
    * a consistent watermark.
    */
  private def recoverIntent(dstDir: File): Unit = {
    val intent = new File(dstDir, IntentFile)
    val fields = FrameJson.readLongs(intent)
    if (fields.isEmpty) { intent.delete(); return }
    val applied = FrameMaintenance.totalVersions(dstDir) > fields.getOrElse("dstVersions", Long.MaxValue)
    if (applied && readWatermark(dstDir) == fields.getOrElse("from", -1L).toInt)
      writeWatermark(dstDir, fields("to").toInt)
    intent.delete()
  }

  /** Signed per-key (d_cnt, d_sum) delta of a change-feed slice.
    * `coalesce(sum, 0.0)` guards the all-NULL-values key: its d_sum is
    * zero (matching what a full recompute's null-skipping sum would
    * do), never NULL — a NULL delta would both null-out an existing
    * key's accumulated sum and poison the net-zero filter.
    */
  private def signedDelta(changes: org.apache.spark.sql.DataFrame,
                          keyCol: String, valueCol: String): org.apache.spark.sql.DataFrame = {
    val sign = when(col(FrameChanges.ChangeTypeCol) === "insert", lit(1L)).otherwise(lit(-1L))
    changes
      .groupBy(col(keyCol).as("k"))
      .agg(sum(sign).as("d_cnt"),
           coalesce(sum(sign.cast("double") * col(valueCol)), lit(0.0)).as("d_sum"))
      // group rewrites emit delete+reinsert pairs: keys they leave
      // untouched net to (0, 0.0) and need no merge at all
      .filter(col("d_cnt") =!= 0L || col("d_sum") =!= 0.0)
  }

  private def mergeDelta(spark: SparkSession, catalog: String, dst: String,
                         keyCol: String, view: String): Unit = {
    spark.sql(s"""
      MERGE INTO $catalog.$dst t
      USING $view s
      ON t.$keyCol = s.k
      WHEN MATCHED AND t.cnt + s.d_cnt = 0 THEN DELETE
      WHEN MATCHED THEN UPDATE SET cnt = t.cnt + s.d_cnt, sum_v = t.sum_v + s.d_sum
      WHEN NOT MATCHED AND s.d_cnt > 0 THEN
        INSERT ($keyCol, cnt, sum_v) VALUES (s.k, s.d_cnt, s.d_sum)
    """)
    ()
  }

  /** Refresh `<catalog>.<dst>` (schema: keyCol, `cnt` BIGINT, `sum_v`
    * DOUBLE) from `<catalog>.<src>`'s changes since the last refresh.
    * The first refresh (watermark 0) IS the initial build through the
    * same path. Returns the applied version range and delta-key count;
    * a zero-length range is a no-op.
    */
  def refresh(spark: SparkSession, catalog: String, src: String, dst: String,
              keyCol: String, valueCol: String): RefreshResult = {
    val cat = spark.sessionState.catalogManager.catalog(catalog) match {
      case c: FrameCatalog => c
      case other => throw new IllegalArgumentException(
        s"catalog '$catalog' is not a FrameCatalog: ${other.getClass.getName}")
    }
    val srcDir = cat.resolveTableDir(src)
    val dstDir = cat.resolveTableDir(dst)
    val (schemaJson, schemaId) = cat.wireSchemaOf(src)

    recoverIntent(dstDir)
    val from = readWatermark(dstDir)
    val to = FrameMaintenance.totalVersions(srcDir)
    require(to >= from,
      s"matview watermark v$from is ahead of source $src at v$to — was the source " +
        "truncated? Drop and rebuild the view")
    if (to == from) return RefreshResult(from, to, 0L)

    // signed per-key delta over exactly the new change units
    val changes = FrameChanges.read(spark, srcDir.getAbsolutePath,
      schemaJson, schemaId, from, Some(to), cat.historyJsonOf(src))
    val delta = signedDelta(changes, keyCol, valueCol)

    val view = s"graft_mv_delta_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    // cache across the two consumers (key count + MERGE source): the
    // change units are read ONCE, not once per job
    delta.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    delta.createOrReplaceTempView(view)
    try {
      val deltaKeys = delta.count()
      if (deltaKeys == 0L) {
        // nothing to apply: the watermark alone advances (no MERGE, no
        // intent — an empty apply is trivially idempotent)
        writeWatermark(dstDir, to)
        return RefreshResult(from, to, 0L)
      }
      // write-ahead intent, then MERGE, then watermark + intent retire:
      // whichever side of the MERGE a crash lands on, recoverIntent can
      // tell (the MERGE mints target versions) and does the right thing
      FrameJson.writeLongs(new File(dstDir, IntentFile),
        "from" -> from.toLong, "to" -> to.toLong,
        "dstVersions" -> FrameMaintenance.totalVersions(dstDir).toLong)
      onBeforeMerge()
      mergeDelta(spark, catalog, dst, keyCol, view)
      onAfterMerge()
      writeWatermark(dstDir, to)
      new File(dstDir, IntentFile).delete()
      RefreshResult(from, to, deltaKeys)
    } finally {
      spark.catalog.dropTempView(view)
      delta.unpersist()
    }
  }

  /** Continuous maintenance: a streaming query that tails the source's
    * change feed and MERGEs each micro-batch's signed deltas into the
    * view — the same algebra as [[refresh]], driven by the engine's own
    * streaming CDC ([[FrameChangesMicroBatchStream]]) instead of a
    * manual watermark: Spark's checkpoint offset log IS the watermark,
    * so restarts resume exactly where the last committed batch ended.
    * foreachBatch is the right sink shape because the apply is a MERGE
    * (arbitrary writer) — but foreachBatch is AT-LEAST-ONCE (a crash
    * between the MERGE and the offset-log commit re-delivers the same
    * batchId), so the apply keeps a per-view batch ledger
    * (`_matview.stream.json` + the same intent protocol as the batch
    * path, keyed on batchId) that makes re-delivery a detected no-op —
    * the standard idempotent-sink contract Spark's own exactly-once
    * sinks implement via (queryId, batchId) dedup.
    */
  def continuous(spark: SparkSession, catalog: String, src: String, dst: String,
                 keyCol: String, valueCol: String,
                 checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery = {
    val cat = spark.sessionState.catalogManager.catalog(catalog) match {
      case c: FrameCatalog => c
      case other => throw new IllegalArgumentException(
        s"catalog '$catalog' is not a FrameCatalog: ${other.getClass.getName}")
    }
    val srcDir = cat.resolveTableDir(src)
    val dstDir = cat.resolveTableDir(dst)
    val (schemaJson, schemaId) = cat.wireSchemaOf(src)

    val reader = spark.readStream.format("graft.sources.AvroFrameDataSource")
      .option("path", srcDir.getAbsolutePath)
      .option("avroSchema", schemaJson)
      .option("schemaId", schemaId.toString)
      .option("changeFeed", "true")
    cat.historyJsonOf(src).foreach(h => reader.option("avroSchemaHistory", h))

    reader.load()
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (changes: org.apache.spark.sql.DataFrame, batchId: Long) =>
        applyStreamBatch(changes, batchId, catalog, dst, dstDir, keyCol, valueCol)
      }
      .start()
  }

  /** Idempotent apply of one CDC micro-batch, keyed on its `batchId`:
    * already-ledgered batches skip outright; a leftover intent for this
    * batch resolves by the same version-bump detection as the batch
    * path (applied → ledger it; not applied → re-run).
    */
  private def applyStreamBatch(changes: org.apache.spark.sql.DataFrame, batchId: Long,
                               catalog: String, dst: String, dstDir: File,
                               keyCol: String, valueCol: String): Unit = {
    val appliedBatch = FrameJson.readLongs(new File(dstDir, StreamMarkerFile))
      .getOrElse("batchId", -1L)
    if (batchId <= appliedBatch) return // re-delivered, already applied

    val intentF = new File(dstDir, StreamIntentFile)
    val intent = FrameJson.readLongs(intentF)
    if (intent.getOrElse("batchId", -1L) == batchId &&
        FrameMaintenance.totalVersions(dstDir) > intent.getOrElse("dstVersions", Long.MaxValue)) {
      // crashed AFTER the MERGE committed: finalize the ledger, skip
      FrameJson.writeLongs(new File(dstDir, StreamMarkerFile), "batchId" -> batchId)
      intentF.delete()
      return
    }

    val spark = changes.sparkSession
    val delta = signedDelta(changes, keyCol, valueCol)
    val view = s"graft_mv_stream_delta_$batchId"
    delta.createOrReplaceTempView(view)
    try {
      if (!delta.isEmpty) {
        FrameJson.writeLongs(intentF, "batchId" -> batchId,
          "dstVersions" -> FrameMaintenance.totalVersions(dstDir).toLong)
        mergeDelta(spark, catalog, dst, keyCol, view)
        onAfterMerge()
      }
      FrameJson.writeLongs(new File(dstDir, StreamMarkerFile), "batchId" -> batchId)
      intentF.delete()
    } finally spark.catalog.dropTempView(view)
    ()
  }
}
