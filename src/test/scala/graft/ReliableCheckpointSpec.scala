package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Graph, Iterative}

/** Reliable-checkpoint toggle (round 10, VERDICT item 6).
  *
  * Every lineage-truncation site in the engine goes through
  * `Tables.checkpointed` (the `graftCheckpoint()` extension). Default
  * is localCheckpoint — executor-block storage, right for local[*] —
  * but on a long iterative job on a real cluster a lost executor takes
  * its blocks (and the job) with it, so setting
  * `spark.graft.checkpointDir` swaps ALL sites to reliable
  * `checkpoint()` into that directory. These tests smoke both modes
  * through the same entry point.
  */
class ReliableCheckpointSpec extends AnyFunSuite with SparkFixture {

  test("default mode: localCheckpoint — no checkpoint dir required, values intact") {
    assert(spark.conf.getOption("spark.graft.checkpointDir").isEmpty)
    import spark.implicits._
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    val cp = Tables.checkpointed(df)
    assert(cp.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
  }

  test("reliable mode: checkpoint files land in the configured dir and an iterative query runs on them") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    spark.conf.set("spark.graft.checkpointDir", dir)
    try {
      import spark.implicits._
      val cp = Tables.checkpointed(Seq(1L, 2L, 3L).toDF("id"))
      assert(cp.collect().length == 3)
      def rddFiles() = {
        val root = new java.io.File(new java.net.URI(
          spark.sparkContext.getCheckpointDir.get).getPath)
        Option(root.listFiles()).getOrElse(Array.empty).filter(_.getName.startsWith("rdd-"))
      }
      val afterOne = rddFiles().length
      assert(afterOne >= 1, "no rdd-* checkpoint written to the reliable dir")
      // a real iterative body (q210's peel step) under reliable mode:
      // each round's graftCheckpoint materializes to the dir
      val (alive0, _, step) = Graph.kcoreParts(spark, sfDir)
      val one = Iterative.fixedK(alive0, 1)(a => step(a)._1)
      assert(one.count() > 0)
      assert(rddFiles().length > afterOne, "iterative rounds did not add reliable checkpoints")
    } finally {
      spark.conf.unset("spark.graft.checkpointDir")
    }
  }
}
