package org.apache.spark

/** `SparkContext.listenerBus` is `private[spark]`; this shim lets the
  * benchmark wait until every queued event has reached its listener, so a
  * counter read right after an action includes that action's tasks.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
