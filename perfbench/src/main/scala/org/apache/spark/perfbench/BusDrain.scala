package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits until the listener bus has delivered every posted event. The bus
  * is `private[spark]`, hence this one-line bridge under `org.apache.spark`;
  * the benchmark calls it before reading its listener's counters.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
