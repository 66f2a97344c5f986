package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Waits until the listener bus has delivered every posted event, so a
  * test's listener counts are complete before they are read. The bus is
  * Spark-private; this accessor lives in Spark's package for that reason
  * only.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
