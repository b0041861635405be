package org.apache.spark

/** Lets the benchmark wait until every posted listener event has been
  * delivered, so per-job listener counters are complete when read.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
