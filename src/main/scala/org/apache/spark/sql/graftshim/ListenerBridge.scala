package org.apache.spark.sql.graftshim

import org.apache.spark.SparkContext

/** The listener bus is `private[spark]`. Code that counts jobs, stages
  * or tasks with a `SparkListener` drains it before reading its
  * counters, so every event posted so far has been delivered. */
object ListenerBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
