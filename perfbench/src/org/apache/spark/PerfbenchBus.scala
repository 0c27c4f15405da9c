package org.apache.spark

/** Waits until every queued listener event has been delivered, so a
  * listener's totals are complete when a job's action returns.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
