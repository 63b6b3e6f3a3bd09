package org.apache.spark

/** Waits for the listener bus to deliver every posted event, so a
  * unit's task-end events are counted before its listener detaches.
  * The bus is `private[spark]`; this is the one place that reaches it.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
