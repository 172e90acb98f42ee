package org.apache.spark

/** Lets the benchmark wait until every posted listener event has been
  * delivered, so the tracer reads complete job, stage and query data.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
