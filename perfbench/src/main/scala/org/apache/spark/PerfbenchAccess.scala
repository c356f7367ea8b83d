package org.apache.spark

/** The listener bus is private to Spark; the benchmark drains it before it
  * reads what its listener attributed, so no late task event is lost. */
object PerfbenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
