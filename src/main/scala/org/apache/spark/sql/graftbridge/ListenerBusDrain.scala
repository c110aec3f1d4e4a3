package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext

/** Waits until Spark's asynchronous listener bus has delivered every event
  * posted so far. `SparkContext.listenerBus` is `private[spark]`; waiting on
  * its queues is exact, where a sleep or a poll for stable counters can only
  * guess when the last event has arrived. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(120000L)
}
