package org.apache.spark

/** The listener bus is private to Spark; the benchmark needs to wait for it
  * to deliver every event of a run before aggregating them. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
