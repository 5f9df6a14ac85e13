package org.apache.spark

/** Waits until every queued listener event has been delivered, so the
  * benchmark reads its counters only after the bus has caught up with the
  * calls it timed. The bus is package-private to Spark, hence the package.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
