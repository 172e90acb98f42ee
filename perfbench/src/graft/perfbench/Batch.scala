package graft.perfbench

import java.io.File

import scala.util.{Failure, Random, Success, Try}

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.sources.AvroFrameStats

/** `batch`: a closed loop with one client over the `short` and `heavy`
  * baskets of registered queries as one basket, each query materialised
  * through the `noop` sink, in an order shuffled by the seed every pass.
  *
  * Set-up copies the batch tables, then runs one untimed pass that checks
  * every member's row count and checksum; it also warms the code
  * caches. The timed window is a whole number of passes.
  *
  * A traced run ends by restarting the session at `local[1]` in the same,
  * warm JVM and timing one pass over the `heavy` basket there, for
  * `exec.speedup_vs_1core`.
  */
object Batch {

  def run(ctx: Ctx): Outcome = {
    val file = new File(ctx.benchDir, "baskets.json")
    val (short, shortS) = Baskets.load(file, "short")
    val (heavy, heavyS) = Baskets.load(file, "heavy")
    val members = short ++ heavy
    val fns = SparkEntry.queries
    ctx.step("session")
    val sfDir = Baskets.copyTables(ctx.benchDir, new File(ctx.work, "tables"))
    val rng = new Random(ctx.seed)
    val info = Seq.newBuilder[String]
    var attempted = 0L
    var failed = 0L

    for (m <- rng.shuffle(members)) {
      attempted += 1
      Try(Checksum.of(fns(m.name)(ctx.spark, sfDir))) match {
        case Success((rows, sum)) if rows == m.rows && sum == m.checksum => ()
        case Success((rows, sum)) =>
          failed += 1
          info += s"check failed: ${m.name} gave rows=$rows checksum=$sum, expected rows=${m.rows} checksum=${m.checksum}"
        case Failure(e) =>
          failed += 1
          info += s"check failed: ${m.name} threw ${e.getClass.getSimpleName}: ${e.getMessage}".take(400)
      }
    }
    ctx.step("checked pass")
    System.gc()
    val setupS = ctx.sinceStartS

    /** One pass over `ms` in seeded order: (query, ms) per member. */
    def pass(spark: SparkSession, ms: Seq[Baskets.Member], tracer: Option[Tracer], passId: Long): Seq[(String, Double)] =
      rng.shuffle(ms).map { m =>
        attempted += 1
        val t0 = System.nanoTime()
        val ok = Try(noop(spark, sfDir, m.name, fns(m.name), tracer, passId))
        ok.failed.foreach { e =>
          failed += 1
          info += s"query failed: ${m.name}: ${e.getMessage}".take(400)
        }
        m.name -> (System.nanoTime() - t0) / 1e6
      }

    val samples = Vector.newBuilder[Double]
    val heavyPassS = Vector.newBuilder[Double]
    var sidecarOpens = 0L
    val passTimes = ctx.windows.map { case Window(seconds, tracer) =>
      tracer.foreach(_.register())
      val sidecars0 = AvroFrameStats.sidecarOpens.get()
      val ps = (1 to ctx.units(seconds, shortS + heavyS)).map { _ =>
        val times = tracer match {
          case Some(t) => t.span("pass", "bench")(id => pass(ctx.spark, members, tracer, id))
          case None =>
            val ts = pass(ctx.spark, members, None, 0L)
            samples ++= ts.map(_._2)
            heavyPassS += ts.collect { case (q, ms) if heavy.exists(_.name == q) => ms / 1000.0 }.sum
            ts
        }
        System.gc()
        times.map(_._2).sum / 1000.0
      }
      tracer.foreach { t =>
        t.unregister()
        sidecarOpens += AvroFrameStats.sidecarOpens.get() - sidecars0
      }
      ps
    }
    val memoryMb = Session.memoryMb()
    val layers = ctx.tracer.map { t =>
      val passes = ctx.tracedUnits(passTimes)
      val queries = t.spans.filter(_.layer == "query").toSeq
      val m = t.layerMetrics(queries, passes) ++ Map(
        "sources.sidecar_opens" -> sidecarOpens.toDouble / passes,
        "exec.speedup_vs_1core" -> oneCoreS(ctx, pass(_, heavy, None, 0L)) / Stats.median(heavyPassS.result()))
      t.write(ctx.traceFile, t.decompose(queries) :+ m)
      m
    }.getOrElse(Map.empty)
    info += passTimes.map(_.map(t => f"$t%.2f").mkString(" ")).mkString("pass s: ", " | ", "")
    // latency percentiles run over every untraced query sample
    val all = samples.result()
    Outcome(attempted, failed, setupS, memoryMb, all,
      if (all.nonEmpty) all.size / (all.sum / 1000.0) else 0.0, passTimes, layers, info.result())
  }

  /** Seconds of one `heavyPass` in a session restarted at `local[1]`. */
  private def oneCoreS(ctx: Ctx, heavyPass: SparkSession => Seq[(String, Double)]): Double = {
    ctx.spark.stop()
    val one = Session.start(1, ctx.work)
    try heavyPass(one).map(_._2).sum / 1000.0
    finally one.stop()
  }

  /** Build the query (the `operators` layer) and materialise it. */
  private def noop(spark: SparkSession, sfDir: String, name: String,
                   fn: (SparkSession, String) => DataFrame,
                   tracer: Option[Tracer], pass: Long): Unit =
    tracer match {
      case None => fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      case Some(t) => t.span(name, "query", pass) { q =>
        val df = t.span(name, "operators", q)(_ => fn(spark, sfDir))
        t.span(name, "execute", q)(_ => df.write.format("noop").mode("overwrite").save())
      }
    }
}
