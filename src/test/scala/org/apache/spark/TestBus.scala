package org.apache.spark

/** `SparkContext.listenerBus` is `private[spark]`; this shim lets a spec wait
  * until every queued event has reached its listeners.
  */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
