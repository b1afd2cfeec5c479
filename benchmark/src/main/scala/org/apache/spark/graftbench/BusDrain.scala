package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Waits until every listener event posted so far has been delivered.
  * The listener bus is private to Spark, hence this package. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
