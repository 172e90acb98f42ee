package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory

import org.apache.spark.sql.SparkSession

/** Everything a workload needs for one run. `jvmStart` anchors
  * `setup_s`: set-up runs from process start to the first timed
  * operation.
  */
final case class Ctx(spark: SparkSession, work: File, benchDir: File, traceDir: File,
                     workload: String, seed: Long, seconds: Int, cores: Int,
                     tracer: Option[Tracer], jvmStart: Long) {
  def sinceStartS: Double = (System.currentTimeMillis() - jvmStart) / 1000.0

  /** Logs how far into set-up a step ended. */
  def step(label: String): Unit = println(f"INFO t=$sinceStartS%.2f s: $label")

  /** Timed windows: the whole run untraced or, when tracing, four
    * half-windows untraced / traced / traced / untraced, so warm-up
    * drift cancels out of the tracing overhead.
    */
  def windows: Seq[Window] = tracer match {
    case None => Seq(Window(seconds, None))
    case t => Seq(None, t, t, None).map(Window(seconds / 2.0, _))
  }

  /** How many units ran in the traced windows. */
  def tracedUnits(unitS: Seq[Seq[Double]]): Int =
    unitS.zip(windows).collect { case (us, w) if w.tracer.isDefined => us.size }.sum

  def traceFile: File = new File(traceDir, s"$workload-seed$seed.jsonl")

  /** Whole units of work (basket passes) that fill a window of
    * `seconds`, from the unit's nominal duration — a fixed count, so
    * every run of a workload does the same work.
    */
  def units(seconds: Double, nominalS: Double): Int = math.max(1, math.round(seconds / nominalS).toInt)
}

/** A timed window of `seconds`, traced when `tracer` is set. */
final case class Window(seconds: Double, tracer: Option[Tracer])

/** What one run measured. `latencyMs` are the values the latency
  * percentiles run over; `unitS` are the durations of the workload's
  * unit of work (a basket pass, a live trigger) per
  * window of [[Ctx.windows]], compared between traced and untraced
  * windows for the tracing overhead.
  */
final case class Outcome(attempted: Long, failed: Long, setupS: Double, memoryMb: Double,
                         latencyMs: Seq[Double], throughput: Double,
                         unitS: Seq[Seq[Double]], layers: Map[String, Double],
                         info: Seq[String] = Nil)

object Stats {
  /** Linear-interpolated percentile, `p` in [0, 100]. */
  def pct(xs: Seq[Double], p: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val r = p / 100.0 * (s.size - 1)
    val lo = math.floor(r).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }
  def median(xs: Seq[Double]): Double = pct(xs, 50)
}

/** One benchmark run:
  * `Main --workload W --seed N --seconds S --trace 0|1 --work DIR --bench-dir DIR --out DIR`.
  * Prints `INFO` lines, `SAMPLES` and, last,
  * `RESULT {"correct":…,"attempted":…,"failed":…,"metrics":{name: value}}`.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val trace = opts("trace") == "1"
    val cores = Runtime.getRuntime.availableProcessors
    val work = new File(opts("work"))
    val spark = Session.start(cores, work, stateful = workload == "stream_live")
    val tracer = if (trace) Some(new Tracer(spark, cores)) else None
    val ctx = Ctx(spark, work, new File(opts("bench-dir")), new File(opts("out")), workload, seed,
      opts("seconds").toInt, cores, tracer, jvmStart)
    val o = workload match {
      case "batch" => Batch.run(ctx)
      case "stream_live" => Streams.live(ctx)
      case other => sys.error(s"unknown workload $other")
    }
    val counted = o.unitS.zip(ctx.windows)
    val untraced = Stats.median(counted.filter(_._2.tracer.isEmpty).flatMap(_._1))
    val metrics =
      if (trace) {
        val traced = Stats.median(counted.filter(_._2.tracer.isDefined).flatMap(_._1))
        o.layers ++ Map(
          "bench.trace_overhead" -> (if (untraced > 0) traced / untraced - 1.0 else 0.0))
      } else Map(
        "setup_s" -> o.setupS,
        "memory_mb" -> o.memoryMb,
        "latency_p50_ms" -> Stats.pct(o.latencyMs, 50),
        "latency_p90_ms" -> Stats.pct(o.latencyMs, 90),
        "throughput_per_s" -> o.throughput)
    o.info.foreach(l => println(s"INFO $l"))
    println(s"INFO $workload seed=$seed cores=$cores samples=${o.latencyMs.size} " +
      s"units=${o.unitS.map(_.size).mkString("+")} attempted=${o.attempted} failed=${o.failed}")
    if (!trace) println("SAMPLES " + Json.obj(Map("setup_s" -> 1, "memory_mb" -> 1,
      "latency_p50_ms" -> o.latencyMs.size, "latency_p90_ms" -> o.latencyMs.size,
      "throughput_per_s" -> o.unitS.map(_.size).sum)))
    println("RESULT " + Json.obj(Map("correct" -> (o.failed == 0 && o.attempted > 0),
      "attempted" -> o.attempted, "failed" -> o.failed, "metrics" -> metrics)))
    spark.stop()
  }
}
