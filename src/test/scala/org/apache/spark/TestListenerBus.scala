package org.apache.spark

/** The listener bus is `private[spark]`; specs that count jobs with a
  * `SparkListener` wait for it before reading their counters. */
object TestListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
