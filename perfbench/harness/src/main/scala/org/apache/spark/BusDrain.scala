package org.apache.spark

/** Waits until every listener has seen every event posted so far. The
  * listener bus is private to Spark, hence this package. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
