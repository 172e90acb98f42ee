package graft.perfbench

import java.io.File
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.SparkEntry

/** Basket selection tool: times every registered query (one cold pass
  * with a checksum, two warm `noop` passes, one more checksum pass in
  * reverse order to catch non-deterministic results) on the batch
  * tables and prints one JSON line per query. `baskets.json` records
  * the output it was chosen from.
  *
  * {{{
  * python3 perfbench/run.py --survey
  * }}}
  */
object Survey {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = new File(opts("work"))
    val spark = Session.start(Runtime.getRuntime.availableProcessors, work)
    val sfDir = Baskets.copyTables(new File(opts("bench-dir")), new File(work, "tables"))
    val jobs = new AtomicLong()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    })
    val queries = SparkEntry.queries.toSeq.sortBy(_._1)

    def timed[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
    }
    case class Row(cold: Double, warm: Seq[Double], jobs: Long, sum1: Option[(Long, Long)],
                   sum2: Option[(Long, Long)], err: Option[String])
    val rows = scala.collection.mutable.LinkedHashMap.empty[String, Row]
    for ((name, fn) <- queries) {
      val (r, t) = timed(scala.util.Try(Checksum.of(fn(spark, sfDir))))
      rows(name) = Row(t, Nil, 0, r.toOption, None, r.failed.toOption.map(_.getMessage))
    }
    for (_ <- 1 to 2; (name, fn) <- queries if rows(name).err.isEmpty) {
      val j0 = jobs.get()
      val (_, t) = timed(fn(spark, sfDir).write.format("noop").mode("overwrite").save())
      Thread.sleep(50)
      rows(name) = rows(name).copy(warm = rows(name).warm :+ t, jobs = jobs.get() - j0)
    }
    for ((name, fn) <- queries.reverse if rows(name).err.isEmpty)
      rows(name) = rows(name).copy(sum2 = scala.util.Try(Checksum.of(fn(spark, sfDir))).toOption)
    for ((name, fn) <- queries; r = rows(name)) {
      val sum = r.sum1.map { case (n, h) => s"""[$n,$h]""" }.getOrElse("null")
      val stable = r.sum1.isDefined && r.sum1 == r.sum2
      val err = r.err.map(e => "\"" + e.take(200).replaceAll("[\"\\\\\\n]", " ") + "\"").getOrElse("null")
      println(f"""SURVEY {"name":"$name","group":"${groupOf(fn)}","cold_s":${r.cold}%.3f,""" +
        f""""warm_s":${if (r.warm.isEmpty) -1.0 else r.warm.min}%.3f,"jobs":${r.jobs},"checksum":$sum,""" +
        s""""stable":$stable,"error":$err}""")
    }
    spark.stop()
  }

  /** The query group (the `operators` / `sources` object) a registered
    * query function belongs to, from the class the closure was
    * compiled into.
    */
  private def groupOf(fn: AnyRef): String =
    fn.getClass.getName.split("\\$").head.stripPrefix("graft.")
}
