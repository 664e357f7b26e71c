package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so a
  * listener's counters are complete when read. Lives in this package
  * because the bus is `private[spark]`. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
