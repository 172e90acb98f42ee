package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** Structured-Streaming rebuild of the reference pipeline's capability
  * surface (`Processor.java:118-163` in pilillo/sparkstreaming-quickstart):
  * schema'd key/value records consumed in micro-batches with offset
  * tracking and checkpoint recovery.
  *
  * The reference used `KafkaUtils.createDirectStream` + Confluent Avro
  * deserialization (`Processor.java:136-138,50-51`). This environment has
  * no Kafka/Avro connector jars, so the transport is a file-directory
  * source (same semantics: append-only partitioned log, offsets = files
  * seen, exactly-once via the checkpoint offset log — strictly stronger
  * than the reference's `enable.auto.commit=false` intent at
  * `Processor.java:133-135`) and the dynamic-schema payload rides as a
  * JSON string parsed with `from_json` (stand-in for registry-driven
  * `from_avro`).
  */
object RecordStream {

  /** The record envelope the reference's Kafka consumer exposed
    * (`ConsumerRecord`: only key/value were read, `Processor.java:144`,
    * but topic/partition/offset/timestamp travel too — FIXTURES.md A3).
    */
  val envelope: StructType = new StructType()
    .add("key", StringType)
    .add("value", StringType)       // JSON payload (Avro stand-in)
    .add("topic", StringType)
    .add("partition", IntegerType)
    .add("offset", LongType)
    .add("timestamp", TimestampType)

  /** The reference's only concrete value schema — `testschema`
    * (`ProcessorTest.java:68-73`): name string, nullable int age.
    */
  val testschema: StructType = new StructType()
    .add("name", StringType, nullable = false)
    .add("age", IntegerType, nullable = true)

  /** O1 equivalent: open a micro-batched record stream over a directory
    * of JSON-lines files carrying the envelope columns.
    * `maxFilesPerTrigger` bounds each micro-batch (the knob that at
    * scale keeps a 1000-executor backfill from reading the whole log in
    * one batch).
    *
    * `latestFirst`/`maxFileAge` are the file-source analog of the
    * reference's `--earliest` offset toggle (`Processor.java:132`,
    * `auto.offset.reset`): by default the source replays the full
    * backlog oldest-first ("earliest"); `latestFirst=true` processes
    * newest files first, and `maxFileAge` skips files older than the
    * given age relative to the newest ("latest"-style catch-up that
    * ignores the deep backlog).
    *
    * It binds the session's `file:` FileContexts to the fork-free
    * [[graft.fs.LocalFs]] unless an operator chose a binding: the
    * offset, commit and source logs and the state-store checkpoints of
    * the query started on this source are opened through it.
    */
  def jsonDirSource(spark: SparkSession, dir: String,
                    schema: StructType = envelope,
                    maxFilesPerTrigger: Int = 0,
                    latestFirst: Boolean = false,
                    maxFileAge: Option[String] = None): DataFrame = {
    graft.fs.LocalFs.install(spark)
    var r = spark.readStream.schema(schema)
    if (maxFilesPerTrigger > 0) r = r.option("maxFilesPerTrigger", maxFilesPerTrigger.toString)
    if (latestFirst) r = r.option("latestFirst", "true")
    maxFileAge.foreach(a => r = r.option("maxFileAge", a))
    r.json(dir)
  }

  /** The Kafka source's EXACT output schema (SURVEY §1.4; what
    * `spark.readStream.format("kafka")` emits the day its connector
    * jar lands in this environment) — the conformance contract the
    * file transport is held to by KafkaContractSpec. Field names,
    * types, and order are all part of the contract.
    */
  val kafkaEnvelope: StructType = new StructType()
    .add("key", BinaryType)
    .add("value", BinaryType)
    .add("topic", StringType)
    .add("partition", IntegerType)
    .add("offset", LongType)
    .add("timestamp", TimestampType)
    .add("timestampType", IntegerType)

  /** Adapt a Kafka-schema stream (`[[kafkaEnvelope]]`: binary key/value
    * + timestampType) to the engine envelope for a JSON-transport
    * topic: key/value cast utf8→string, timestampType dropped. With
    * this, swapping the file transport for the real broker is ONE
    * line — `fromKafkaShape(spark.readStream.format("kafka")…load())`
    * in place of `jsonDirSource(...)` — and everything downstream
    * (parseValues, processors, sinks, checkpoints) is already tested.
    */
  def fromKafkaShape(records: DataFrame): DataFrame =
    records.select(col("key").cast(StringType).as("key"),
      col("value").cast(StringType).as("value"),
      col("topic"), col("partition"), col("offset"), col("timestamp"))

  /** [[fromKafkaShape]] for a Confluent-framed Avro topic: the binary
    * value decodes through [[AvroRecords.avroJson]] (magic byte +
    * schema id + Avro body → spec-compliant JSON) against the
    * caller-supplied registry, then rides the same JSON envelope.
    */
  def fromKafkaShapeAvro(records: DataFrame, registry: Map[Int, String]): DataFrame =
    records.select(col("key").cast(StringType).as("key"),
      AvroRecords.avroJson(col("value"), registry).as("value"),
      col("topic"), col("partition"), col("offset"), col("timestamp"))

  /** O2 equivalent: deserialize the value payload against an explicit
    * schema (the registry fetch of `Processor.java:128-130` becomes a
    * caller-supplied StructType) and flatten it next to the key.
    */
  def parseValues(records: DataFrame, valueSchema: StructType): DataFrame =
    records
      .withColumn("v", from_json(col("value"), valueSchema))
      .select(col("key") +: valueSchema.fieldNames.map(f => col(s"v.$f")): _*)

  /** O3+O4+O5 equivalent: attach a sink with a fixed-interval trigger
    * (`Durations.milliseconds(batchPeriod)`, `Processor.java:42`) and a
    * checkpoint folder (`Processor.java:45,65`). Unlike the reference's
    * broken recovery factory (`Processor.java:47-53` re-opens the stream
    * but never re-attaches an output), restarting a Structured Streaming
    * query re-plans from code and resumes from the checkpointed offset
    * log — declare-then-resume, nothing serialized to recover.
    */
  def startSink(df: DataFrame, format: String, queryName: String,
                checkpointDir: String, batchPeriodMs: Long,
                outputMode: String = "append",
                outputPath: Option[String] = None): StreamingQuery = {
    val w = df.writeStream
      .format(format)
      .queryName(queryName)
      .outputMode(outputMode)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.ProcessingTime(batchPeriodMs))
    outputPath.fold(w)(p => w.option("path", p)).start()
  }

  /** `foreachBatch` sink for arbitrary per-micro-batch logic — the
    * idiomatic home of the reference's `rdd.foreach` print loop
    * (`Processor.java:141-147`) and of any batch-only writer.
    */
  def startForeachBatch(df: DataFrame, queryName: String,
                        checkpointDir: String, batchPeriodMs: Long)
                       (fn: (DataFrame, Long) => Unit): StreamingQuery =
    df.writeStream
      .queryName(queryName)
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.ProcessingTime(batchPeriodMs))
      .foreachBatch(fn)
      .start()
}
