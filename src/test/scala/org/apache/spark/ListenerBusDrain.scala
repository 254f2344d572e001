package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so a
  * test listener's counters are complete when read. The bus is private
  * to Spark's package, hence this object's package. */
object ListenerBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
