package org.apache.spark

/** Waits until every queued listener event has been delivered, so a
  * listener's totals are complete when read. The bus is private to Spark,
  * hence this accessor in Spark's package.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
