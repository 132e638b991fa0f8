package org.apache.spark

/** The listener bus is `private[spark]`; the traced run needs to wait
  * for it before reading its counters. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
