package org.apache.spark

/** The listener bus is private to Spark; the benchmark waits on it so that
  * every event of a measured window has reached its listeners before the
  * window's counters are read. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
