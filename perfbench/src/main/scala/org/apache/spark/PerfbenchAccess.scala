package org.apache.spark

/** The listener bus is private to Spark; the benchmark needs to wait for
  * its queue to empty before it writes out the events it recorded. */
object PerfbenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
