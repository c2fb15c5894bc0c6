package org.apache.spark.lambdabench

import org.apache.spark.SparkContext

/** Blocks until the listener bus has delivered every posted event, so
  * the benchmark's listener totals are complete when they are read.
  * Lives under `org.apache.spark` because the bus is Spark-private.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
