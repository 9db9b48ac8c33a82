package org.apache.spark

/** Blocks until every queued listener event has been delivered, so the
  * benchmark's engine counters are complete before a pass is read. The
  * listener bus is `private[spark]`, hence this package.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
