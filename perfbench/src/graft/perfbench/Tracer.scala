package graft.perfbench

import java.io.{File, PrintWriter}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** A timed interval at one layer boundary. `parent` is the span that
  * caused it (0 for a root); times are wall-clock epoch milliseconds.
  */
final case class Span(id: Long, parent: Long, name: String, layer: String, start: Long, end: Long,
                      attrs: Map[String, Any] = Map.empty) {
  def ms: Long = end - start
}

/** Closed-interval arithmetic over (start, end) pairs in ms. */
object Intervals {
  def union(xs: Seq[(Long, Long)]): Seq[(Long, Long)] =
    xs.filter(x => x._2 > x._1).sortBy(_._1).foldLeft(List.empty[(Long, Long)]) {
      case ((s, e) :: rest, (s2, e2)) if s2 <= e => (s, math.max(e, e2)) :: rest
      case (acc, x) => x :: acc
    }.reverse

  def measure(xs: Seq[(Long, Long)]): Long = union(xs).map(x => x._2 - x._1).sum

  def clip(xs: Seq[(Long, Long)], s: Long, e: Long): Seq[(Long, Long)] =
    xs.map(x => (math.max(x._1, s), math.min(x._2, e))).filter(x => x._2 > x._1)
}

/** In-memory tracer: the harness records spans around its calls into
  * each layer, and Spark's public listeners (SparkListener,
  * QueryExecutionListener, StreamingQueryListener) record jobs,
  * stages, tasks, Catalyst phases, scan metrics and trigger progress.
  * Nothing is written until [[write]]. Listeners are attached only
  * between [[register]] and [[unregister]].
  */
final class Tracer(spark: SparkSession, cores: Int) {
  import Tracer._

  private val lock = new Object
  private val ids = new AtomicLong(0)
  val spans = ArrayBuffer.empty[Span]
  private val jobs = ArrayBuffer.empty[Job]
  private val jobEnds = scala.collection.mutable.Map.empty[Int, Long]
  private val stages = ArrayBuffer.empty[Stage]
  private val taskMs = scala.collection.mutable.Map.empty[(Int, Int), ArrayBuffer[Long]]
  private val qes = ArrayBuffer.empty[Qe]
  val progress = ArrayBuffer.empty[StreamingQueryProgress]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      // the stage call sites hold the user frames that launched the job
      val site = e.stageInfos.map(i => i.name + "\n" + i.details).mkString("\n")
      jobs += Job(e.jobId, e.time, e.stageIds, site)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized { jobEnds(e.jobId) = e.time }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      taskMs.getOrElseUpdate((e.stageId, e.stageAttemptId), ArrayBuffer.empty) += e.taskInfo.duration
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
      val i = e.stageInfo
      val m = i.taskMetrics
      if (i.submissionTime.isDefined && i.completionTime.isDefined && m != null)
        stages += Stage(i.stageId, i.attemptNumber(), i.numTasks, i.submissionTime.get,
          i.completionTime.get, m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
          m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
          m.diskBytesSpilled)
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases.toSeq.map { case (n, p) => (n, p.startTimeMs, p.endTimeMs) }
      val scan = scala.util.Try(nodes(qe.executedPlan)).getOrElse(Nil)
        .flatMap(_.metrics.collect { case (k, v) if ScanMetrics(k) => k -> v.value })
        .groupMapReduce(_._1)(_._2)(_ + _)
      lock.synchronized { qes += Qe(phases, scan) }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      lock.synchronized { progress += e.progress }
  }

  def register(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def unregister(): Unit = {
    PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  /** Record `f` as a span; `f` receives the span's id for children. */
  def span[T](name: String, layer: String, parent: Long = 0L, attrs: Map[String, Any] = Map.empty)
             (f: Long => T): T = {
    val id = ids.incrementAndGet()
    val start = System.currentTimeMillis()
    try f(id)
    finally lock.synchronized { spans += Span(id, parent, name, layer, start, System.currentTimeMillis(), attrs) }
  }

  def add(name: String, layer: String, parent: Long, start: Long, end: Long,
          attrs: Map[String, Any] = Map.empty): Long = {
    val id = ids.incrementAndGet()
    lock.synchronized { spans += Span(id, parent, name, layer, start, end, attrs) }
    id
  }

  private def jobEnd(j: Job): Long = jobEnds.getOrElse(j.id, j.start)

  /** Per-layer metrics over the operations `ops` (query or trigger
    * spans), divided by `units` (passes or live runs).
    */
  def layerMetrics(ops: Seq[Span], units: Double): Map[String, Double] = lock.synchronized {
    def inOps(t: Long) = ops.exists(o => t >= o.start && t <= o.end)
    val opJobs = jobs.filter(j => inOps(j.start)).toSeq
    val stageIds = opJobs.flatMap(_.stageIds).toSet
    val opStages = stages.filter(s => stageIds(s.id)).toSeq
    val opQes = qes.filter(q => q.phases.nonEmpty && inOps(q.phases.map(_._2).min)).toSeq
    val builds = spans.filter(s => s.layer == "operators" && inOps(s.start)).toSeq
    val buildJobs = opJobs.filter(j => builds.exists(b => j.start >= b.start && j.start <= b.end))
    val ckJobs = opJobs.filter(j => CheckpointSite.findFirstIn(j.callSite).isDefined)
    val wallMs = ops.map(_.ms).sum.toDouble
    val outside = ops.map(o => o.ms - Intervals.measure(
      Intervals.clip(opJobs.map(j => (j.start, jobEnd(j))), o.start, o.end))).sum
    val between = opJobs.map { j =>
      val ss = opStages.filter(s => j.stageIds.contains(s.id)).map(s => (s.submit, s.complete))
      jobEnd(j) - j.start - Intervals.measure(Intervals.clip(ss, j.start, jobEnd(j)))
    }.sum
    val phase = (n: String) => opQes.flatMap(_.phases).filter(_._1 == n).map(p => p._3 - p._2).sum / 1000.0
    val skew = opStages.flatMap { s =>
      val ts = taskMs.getOrElse((s.id, s.attempt), ArrayBuffer.empty[Long]).sorted
      if (ts.size >= 2 && ts.sum >= 50) Some(ts.last.toDouble / math.max(1L, ts(ts.size / 2))) else None
    }
    val scan = (k: String) => opQes.map(_.scan.getOrElse(k, 0L)).sum.toDouble
    val taskS = opStages.map(_.runMs).sum / 1000.0
    val mb = 1024.0 * 1024.0
    val per = Map(
      "operators.build_s" -> builds.map(_.ms).sum / 1000.0,
      "operators.build_jobs" -> buildJobs.size.toDouble,
      "tables.checkpoint_jobs" -> ckJobs.size.toDouble,
      "tables.checkpoint_s" -> ckJobs.map(j => jobEnd(j) - j.start).sum / 1000.0,
      "catalyst.analysis_s" -> phase("analysis"),
      "catalyst.optimization_s" -> phase("optimization"),
      "catalyst.planning_s" -> phase("planning"),
      "scheduler.jobs" -> opJobs.size.toDouble,
      "scheduler.stages" -> opStages.size.toDouble,
      "scheduler.tasks" -> opStages.map(_.tasks).sum.toDouble,
      "scheduler.outside_jobs_s" -> outside / 1000.0,
      "scheduler.between_stages_s" -> between / 1000.0,
      "exec.task_s" -> taskS,
      "exec.cpu_s" -> opStages.map(_.cpuNs).sum / 1e9,
      "exec.gc_s" -> opStages.map(_.gcMs).sum / 1000.0,
      "exec.single_task_stages" -> opStages.count(_.tasks == 1).toDouble,
      "exec.shuffle_write_mb" -> opStages.map(_.shuffleWrite).sum / mb,
      "exec.shuffle_read_mb" -> opStages.map(_.shuffleRead).sum / mb,
      "exec.spill_mb" -> opStages.map(_.spill).sum / mb,
      "sources.segments_planned" -> scan("segments_planned"),
      "sources.segments_pruned" -> scan("segments_pruned"),
      "sources.bloom_skipped" -> scan("segments_bloom_skipped"))
      .map { case (k, v) => k -> v / units }
    per ++ Map(
      "exec.busy_ratio" -> (if (wallMs > 0) taskS * 1000.0 / (wallMs * cores) else 0.0),
      "exec.skew_max" -> (if (skew.isEmpty) 0.0 else skew.max))
  }

  /** Splits each batch query span into builder self time, Catalyst,
    * job time and an explicit residual that together equal its wall.
    */
  def decompose(queries: Seq[Span]): Seq[Map[String, Any]] = lock.synchronized {
    queries.map { q =>
      val js = Intervals.clip(jobs.filter(j => j.start >= q.start && j.start <= q.end).toSeq
        .map(j => (j.start, jobEnd(j))), q.start, q.end)
      val jobMs = Intervals.measure(js)
      val ph = Intervals.clip(qes.toSeq.flatMap(_.phases).map(p => (p._2, p._3)), q.start, q.end)
      val catalystMs = Intervals.measure(ph ++ js) - jobMs
      val build = spans.find(s => s.parent == q.id && s.layer == "operators")
      val buildSelf = build.map { b =>
        b.ms - Intervals.measure(Intervals.clip(js ++ ph, b.start, b.end))
      }.getOrElse(0L)
      Map("query" -> q.name, "wall_ms" -> q.ms, "build_self_ms" -> buildSelf,
        "catalyst_ms" -> catalystMs, "jobs_ms" -> jobMs,
        "residual_ms" -> (q.ms - buildSelf - catalystMs - jobMs))
    }
  }

  /** Writes every span, with job, stage and Catalyst-phase spans
    * derived from the listener data, as JSON lines with self times.
    */
  def write(file: File, extra: Seq[Map[String, Any]]): Unit = lock.synchronized {
    val harness = spans.toSeq
    def innermost(t: Long): Long = harness.filter(s => t >= s.start && t <= s.end)
      .sortBy(_.ms).headOption.map(_.id).getOrElse(0L)
    val derived = ArrayBuffer.empty[Span]
    for (j <- jobs) {
      val jid = ids.incrementAndGet()
      derived += Span(jid, innermost(j.start), s"job ${j.id}", "scheduler", j.start, jobEnd(j),
        Map("call_site" -> j.callSite.linesIterator.take(1).mkString))
      for (s <- stages if j.stageIds.contains(s.id))
        derived += Span(ids.incrementAndGet(), jid, s"stage ${s.id}.${s.attempt}", "exec", s.submit,
          s.complete, Map("tasks" -> s.tasks, "task_ms" -> s.runMs))
    }
    for (q <- qes; (n, s, e) <- q.phases)
      derived += Span(ids.incrementAndGet(), innermost(s), n, "catalyst", s, e)
    val all = harness ++ derived
    val children = all.groupBy(_.parent)
    file.getParentFile.mkdirs()
    val w = new PrintWriter(file)
    try {
      for (s <- all) {
        val kids = children.getOrElse(s.id, Nil).map(c => (c.start, c.end))
        val self = s.ms - Intervals.measure(Intervals.clip(kids, s.start, s.end))
        w.println(Json.obj(Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
          "layer" -> s.layer, "start_ms" -> s.start, "end_ms" -> s.end, "self_ms" -> self) ++ s.attrs))
      }
      extra.foreach(m => w.println(Json.obj(m)))
    } finally w.close()
  }
}

object Tracer {
  private case class Job(id: Int, start: Long, stageIds: Seq[Int], callSite: String)
  private case class Stage(id: Int, attempt: Int, tasks: Int, submit: Long, complete: Long,
                           runMs: Long, cpuNs: Long, gcMs: Long, shuffleWrite: Long,
                           shuffleRead: Long, spill: Long)
  private case class Qe(phases: Seq[(String, Long, Long)], scan: Map[String, Long])

  private val ScanMetrics = Set("segments_planned", "segments_pruned", "segments_bloom_skipped")
  /** Jobs launched through `Tables.checkpointed` (`graftCheckpoint`). */
  private val CheckpointSite = "Tables\\$\\.checkpointed".r

  /** Every physical node, through adaptive plans, query stages and subqueries. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }
}

/** Minimal JSON rendering for maps of numbers, booleans and strings. */
object Json {
  def value(v: Any): String = v match {
    case null => "null"
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Number => n.toString
    case b: Boolean => b.toString
    case m: Map[_, _] => obj(m.map { case (k, x) => k.toString -> x })
    case other => "\"" + other.toString.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  }
  def obj(m: Map[String, Any]): String =
    m.map { case (k, v) => value(k) + ":" + value(v) }.mkString("{", ",", "}")
}
