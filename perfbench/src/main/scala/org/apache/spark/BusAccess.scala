package org.apache.spark

/** The listener bus is package-private; the tracer drains it after each
  * traced call so every job and query-execution event of that call has
  * been delivered before the call's figures are read. */
object BusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
