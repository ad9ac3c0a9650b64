package org.apache.spark

/** The listener bus is package-private; the benchmark drains it before
  * reading its Spark counters so late task-end events are not lost.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
