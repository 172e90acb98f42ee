package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory

import org.apache.spark.sql.SparkSession

/** The session every workload runs in: `graft.Bench`'s settings (AQE
  * on, shuffle partitions = cores, codegen cache 10000) at
  * `local[cores]`, with the warehouse, scratch and checkpoint
  * directories under the run's own work directory.
  */
object Session {

  def start(cores: Int, work: File, stateful: Boolean = false): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", new File(work, "local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .config("spark.sql.catalog.frames", "graft.sources.FrameCatalog")
      .config("spark.sql.catalog.frames.base", new File(work, "frames").getAbsolutePath)
    if (stateful)
      b.config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Memory of the program, in MB: the heap still in use after a full
    * collection, plus the native part of the peak resident set (VmHWM
    * less the committed heap, which is fixed and pre-touched, so
    * resident in full from the start). Call it while the workload's
    * state is still live.
    */
  def memoryMb(): Double = {
    System.gc()
    val heap = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
    (heap.getUsed + math.max(0L, vmHwmBytes() - heap.getCommitted)) / 1048576.0
  }

  private def vmHwmBytes(): Long = {
    val status = scala.io.Source.fromFile("/proc/self/status")
    try status.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toLong * 1024L
    }.getOrElse(0L)
    finally status.close()
  }
}
