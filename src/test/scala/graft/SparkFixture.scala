package graft

import org.apache.spark.sql.SparkSession
import graft.streaming.RocksDbState
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites — one JVM-wide session
  * (scalatest suites run in the same forked JVM; `getOrCreate`
  * deduplicates). sf0.001 keeps specs fast.
  */
trait SparkFixture { self: AnyFunSuite =>
  lazy val spark: SparkSession = SparkFixture.session
  val sfDir = "/root/testdata/sf0.001"

  /** Run `body` with the RocksDB state store provider — the state-v2
    * backend `transformWithState` requires — then restore the session's
    * previous provider and changelog-checkpointing setting, which the
    * processors' entry points set (`RocksDbState.configure`).
    */
  def withRocksDb[T](body: => T): T = {
    val keys = Seq(RocksDbState.ProviderKey, RocksDbState.ChangelogKey)
    val prev = keys.map(spark.conf.getOption)
    spark.conf.set(RocksDbState.ProviderKey, RocksDbState.Provider)
    try body
    finally keys.zip(prev).foreach {
      case (key, Some(p)) => spark.conf.set(key, p)
      case (key, None) => spark.conf.unset(key)
    }
  }
}

object SparkFixture {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
