package org.apache.spark

/** Waits until every queued listener event has been delivered, so span
  * counts read after a traced phase are complete. The listener bus is
  * package-private to Spark; this is the only reason for the package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
