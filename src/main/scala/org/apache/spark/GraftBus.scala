package org.apache.spark

/** The one door to the `private[spark]` listener bus, beside
  * [[org.apache.spark.sql.GraftInternal]]'s door to `private[sql]`. A
  * reader of SparkListener or QueryExecutionListener counters blocks here
  * until every event posted before the call has been delivered: the bus
  * is asynchronous, and a fixed sleep under-reads task metrics under load.
  */
object GraftBus {
  /** Throws a TimeoutException when the bus is not empty within the timeout. */
  def waitUntilEmpty(sc: SparkContext, timeoutMillis: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMillis)
}
