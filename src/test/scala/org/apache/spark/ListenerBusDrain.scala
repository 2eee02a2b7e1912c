package org.apache.spark

/** Test access to the private listener bus: block until every event
  * posted so far has reached the listeners, so a count taken right
  * after an action is complete. */
object ListenerBusDrain {
  def apply(sc: SparkContext, timeoutMs: Long = 30000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
