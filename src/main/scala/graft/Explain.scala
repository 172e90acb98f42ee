package graft

import org.apache.spark.sql.SparkSession

/** Dev tool: print the (executed, post-AQE) physical plan of one or
  * more registered queries. `runMain graft.Explain q36_simhash_pairs
  * [sfDir]` — executes the query first so AQE finalizes the plan, then
  * dumps the tree (ReusedExchange / join strategy / codegen spans are
  * only trustworthy on the final plan). Each query's `====` line names
  * the Spark jobs its builder started (`build_jobs`) and the jobs its
  * execution started (`run_jobs`).
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val names = args.headOption.map(_.split(",").toSeq)
      .getOrElse(sys.error("usage: Explain <q1,q2,...> [sfDir]"))
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.01")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-explain")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // stage-level wall/CPU profile: the plan tells you the shape, this
    // tells you where the time actually went. The same listener counts
    // job starts, split into build and run at the moment the query's
    // builder returns.
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val i = sc.stageInfo
        val wall = (i.completionTime.getOrElse(0L) - i.submissionTime.getOrElse(0L)) / 1000.0
        if (wall >= 0.2) {
          val cpu = i.taskMetrics.executorCpuTime / 1e9
          val run = i.taskMetrics.executorRunTime / 1e3
          println(f"[stage ${i.stageId}%3d] $wall%6.1fs run=$run%6.1fs cpu=$cpu%6.1fs tasks=${i.numTasks}%-3d in=${i.taskMetrics.inputMetrics.recordsRead} sh_r=${i.taskMetrics.shuffleReadMetrics.recordsRead} sh_w=${i.taskMetrics.shuffleWriteMetrics.recordsWritten}")
          println("    rdds: " + i.rddInfos.map(r => r.name.linesIterator.next().take(60)).distinct.mkString(" | "))
        }
      }
    })
    /** Jobs started since the last call (every posted event delivered). */
    def jobsSince(): Int = {
      org.apache.spark.sql.GraftSqlBridge.drainListenerBus(spark)
      jobs.getAndSet(0)
    }
    // SPARK_GRAFT_PLAN_DIR: also write `explain("formatted")` per query
    // (the r17 optimization deliverable format) as <dir>/<query>_<tag>.txt,
    // tag from SPARK_GRAFT_PLAN_TAG (default "plan").
    val planDir = sys.env.get("SPARK_GRAFT_PLAN_DIR")
    val planTag = sys.env.getOrElse("SPARK_GRAFT_PLAN_TAG", "plan")
    names.foreach { n =>
      jobsSince()
      val df = SparkEntry.queries(n)(spark, sfDir)
      val buildJobs = jobsSince()
      val t0 = System.nanoTime()
      try {
        df.collect()   // drive THIS execution so AQE finalizes in place
        val secs = (System.nanoTime() - t0) / 1e9
        println(f"==== $n  ($secs%.1f s) build_jobs=$buildJobs run_jobs=${jobsSince()} ====")
        println(df.queryExecution.executedPlan.toString)
      } finally {
        // Written AFTER collect() (ADVICE r17): the pre-execution dump
        // captured the initial AdaptiveSparkPlan, so the artifact could
        // disagree with runtime join-strategy changes. Post-execution,
        // explainString(FORMATTED) renders the AQE-final plan
        // (isFinalPlan=true) — the plan that actually ran. Written in
        // `finally` so a query that throws still leaves its plan.
        planDir.foreach { dir =>
          java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
          java.nio.file.Files.writeString(
            java.nio.file.Paths.get(dir, s"${n}_$planTag.txt"),
            df.queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode))
        }
      }
    }
    spark.stop()
  }
}
