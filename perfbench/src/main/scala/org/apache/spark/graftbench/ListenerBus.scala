package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Reaches the `private[spark]` listener bus from benchmark code. Listener
  * events are delivered asynchronously; counts read before the bus is
  * drained would miss the tail of the last query. */
object ListenerBus {
  def drain(sc: SparkContext, timeoutMs: Long = 120000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
