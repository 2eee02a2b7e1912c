package org.apache.spark

/** The listener bus is private to Spark; the bench waits on it so a
  * traced pass's task metrics are all delivered before it reads them. */
object PerfbenchBus {
  def waitUntilEmpty(sc: SparkContext, timeoutMs: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
