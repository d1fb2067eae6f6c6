package org.apache.spark

/** The listener bus is `private[spark]`; the traced run needs to wait
  * until every event a query posted has been delivered before it closes
  * the query's span.
  */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(120000L)
}
