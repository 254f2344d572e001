package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so
  * counters read after an action include its tasks. The bus is private
  * to Spark's package, hence this object's package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
