package org.apache.spark

/** Lets a spec wait until every posted listener event has been delivered,
  * so listener counters are complete when read.
  */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
