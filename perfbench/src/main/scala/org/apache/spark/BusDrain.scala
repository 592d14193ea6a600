package org.apache.spark

/** Waits until every listener event posted so far has been delivered.
  * The listener bus is package-private to Spark, hence the package. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(120000L)
}
