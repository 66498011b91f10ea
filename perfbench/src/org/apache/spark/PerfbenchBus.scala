package org.apache.spark

/** Lets the benchmark wait until every queued listener event has been
  * delivered, so span metrics are complete before they are written. */
object PerfbenchBus {
  def drain(sc: SparkContext, timeoutMs: Long): Unit = sc.listenerBus.waitUntilEmpty(timeoutMs)
}
