package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits until the listener bus has delivered every posted event, so layer
  * counters are complete before they are read. The bus is Spark-private;
  * this accessor lives in Spark's package for that reason only.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
