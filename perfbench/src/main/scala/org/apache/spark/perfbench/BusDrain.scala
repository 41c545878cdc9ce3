package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The live listener bus is private to Spark; the traced run drains it
  * before reading listener totals, so no job, stage or task event is
  * still queued when a sample is taken. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
