package org.apache.spark

/** Blocks until every listener event posted so far has been delivered,
  * so a pass's trace is complete before it is read. (The listener bus is
  * package-private to Spark.) */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
