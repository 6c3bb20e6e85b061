package org.apache.spark

/** Waits until every queued listener event has been delivered, so a job
  * count read right after an action is complete. The listener bus is
  * package-private to Spark; this is the only reason for the package. */
object GraftTestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
