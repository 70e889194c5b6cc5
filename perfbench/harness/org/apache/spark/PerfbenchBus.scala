package org.apache.spark

/** Waits until every queued listener event has been delivered, so the
  * stage and plan records of an operation are complete before the
  * benchmark reads them. The listener bus is package-private in Spark,
  * hence this one-line bridge in Spark's package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
