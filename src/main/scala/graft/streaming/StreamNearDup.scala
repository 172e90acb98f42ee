package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SaveMode}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.streaming._

/** Streaming NEAR-duplicate dedup — the MinHash-LSH sibling of
  * StreamDedup's exact first-wins: suppress an incoming document when
  * any of its LSH band keys was already presented by an earlier
  * document. This is the ingest-side gate in front of a crawled
  * corpus: exact dedup (StreamDedup) catches byte-identical
  * re-deliveries, this catches re-crawls and boilerplate re-wraps
  * whose shingle sets still collide.
  *
  * Semantics (register-all, first-wins):
  *  - documents are ordered by (ord, doc_id) — `ord` is the arrival
  *    sequence (event offset); cross-batch order is batch order;
  *  - a document is KEPT iff NONE of its band keys was presented by a
  *    strictly earlier document;
  *  - EVERY document registers all its bands, kept or suppressed —
  *    so a chain a≈b, b≈c suppresses c even though a⊥c (transitive,
  *    like the batch q64 clustering's connected components). The
  *    conservative, crawl-safe direction: a sketch gate may
  *    over-suppress, it must never double-keep. Where the batch
  *    pipeline (q34/q68) follows band candidates with an exact
  *    Jaccard verify, the streaming gate is sketch-only — run the
  *    batch verify over the kept corpus for the precision pass.
  *  - documents with < 3 tokens have no shingle window, hence no
  *    bands: they bypass the gate (union them back via an exact-key
  *    StreamDedup stage if short docs matter).
  *
  * Architecture: the band state lives in a `transformWithState`
  * processor KEYED BY (band_id, band_hash) — state shards by band
  * across executors exactly like the batch band-join shuffles, one
  * tiny (ord, doc_id) owner per distinct band ever seen (RocksDB
  * provider at scale; retention is unbounded like StreamDedup's
  * seen-set — bound it with event-time timers if the corpus horizon
  * allows). All bands of one document land in the SAME micro-batch,
  * so the per-document AND ("no band collided") is a plain per-batch
  * reduction on the processor's verdict stream — done in the
  * foreachBatch sink ([[start]]), idempotent per (run, batch) like
  * StreamDedup.startIncremental, not a second cross-batch stateful
  * operator.
  *
  * Band keys come from `operators.Dedup.bandKeys` — the batch
  * queries' signature plan verbatim, so the streaming gate and the
  * batch dedup agree on what "near" means (asserted in
  * StreamingDepthSpec).
  */
object StreamNearDup {

  case class Doc(doc_id: Long, ord: Long, text: String)
  case class BandObs(band_id: Int, band_hash: Long, doc_id: Long, ord: Long)
  case class Verdict(doc_id: Long, ord: Long, band_id: Int, collided: Boolean)
  /** First presenter of a band — the state value. */
  case class BandOwner(ord: Long, doc_id: Long)

  private val bandOwnerEncoder = Encoders.product[BandOwner]

  /** Exploded (band, doc) observations for a (possibly streaming)
    * document relation, via the batch signature plan.
    */
  def bandObs(docs: Dataset[Doc]): Dataset[BandObs] = {
    import docs.sparkSession.implicits._
    graft.operators.Dedup.bandKeys(docs.toDF(), Seq("ord"))
      .select(col("band_id").cast("int").as("band_id"), col("band_hash"),
              col("doc_id"), col("ord"))
      .as[BandObs]
  }

  /** Per-band first-wins processor: emits one verdict per observation
    * (collided = a strictly earlier doc already presented this band)
    * and registers the batch's earliest presenter when the band is
    * new. State is one BandOwner per band key, written once — later
    * observations never update it.
    */
  class BandProcessor
      extends StatefulProcessor[(Int, Long), BandObs, Verdict] {
    @transient private var owner: ValueState[BandOwner] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      owner = getHandle.getValueState("owner", bandOwnerEncoder, TTLConfig.NONE)

    override def handleInputRows(key: (Int, Long), rows: Iterator[BandObs],
                                 tv: TimerValues): Iterator[Verdict] = {
      val batch = rows.toVector.sortBy(o => (o.ord, o.doc_id))
      val prior = if (owner.exists()) Some(owner.get()) else None
      if (prior.isEmpty)
        batch.headOption.foreach(o => owner.update(BandOwner(o.ord, o.doc_id)))
      batch.iterator.map { o =>
        // collided unless this observation IS the band's first-ever
        // presenter (prior from an earlier batch always wins; within
        // the batch only the sort's head escapes)
        val first = prior.getOrElse(BandOwner(batch.head.ord, batch.head.doc_id))
        val isFirst = prior.isEmpty && o.ord == first.ord && o.doc_id == first.doc_id
        Verdict(o.doc_id, o.ord, key._1, !isFirst)
      }
    }
  }

  /** The cross-batch verdict stream: one row per (doc, band) with the
    * band-level collision flag. Kept docs are those whose batch's
    * verdicts are all collided = false — reduce per batch ([[start]])
    * or in a test harness. Sets the RocksDB state store on the docs'
    * session ([[RocksDbState.configure]]).
    */
  def verdicts(docs: Dataset[Doc]): Dataset[Verdict] = {
    RocksDbState.configure(docs.sparkSession)
    implicit val enc: org.apache.spark.sql.Encoder[Verdict] = Encoders.product[Verdict]
    bandObs(docs)
      .groupByKey(o => (o.band_id, o.band_hash))(
        Encoders.tuple(Encoders.scalaInt, Encoders.scalaLong))
      .transformWithState(new BandProcessor, TimeMode.None(), OutputMode.Append())
  }

  /** Full gate: band verdicts reduced to the per-document keep
    * decision in a foreachBatch sink, kept docs written to
    * `outDir/batch=<id>` (overwrite ⇒ idempotent replay, the
    * StreamDedup layout). All of a doc's bands share its micro-batch,
    * so the reduction never crosses batches.
    */
  def start(docs: Dataset[Doc], outDir: String, checkpointDir: String,
            batchPeriodMs: Long = 100L): StreamingQuery =
    verdicts(docs).writeStream
      .queryName("graft-stream-neardup")
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.ProcessingTime(batchPeriodMs))
      .foreachBatch { (batch: Dataset[Verdict], batchId: Long) =>
        import org.apache.spark.sql.functions.{max, min => fmin}
        batch.toDF()
          .groupBy("doc_id")
          .agg(fmin("ord").as("ord"), max(col("collided").cast("int")).as("any_hit"))
          .filter(col("any_hit") === 0).drop("any_hit")
          .write.mode(SaveMode.Overwrite).parquet(s"$outDir/batch=$batchId")
      }
      .start()
}
