package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** `SparkContext.listenerBus` is private[spark]. Listener events are
  * delivered asynchronously, so the benchmark drains the bus before it
  * reads the totals its listener accumulated.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
