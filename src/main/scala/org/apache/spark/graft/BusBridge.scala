package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Listener-bus bridge for `graft.util.JobScope`. Draining the bus is
  * `private[spark]`, yet it is the one way to know that every event of
  * a finished job has reached its listeners. Like ConfBridge, this file
  * only delegates.
  */
object BusBridge {
  def waitUntilEmpty(sc: SparkContext, timeoutMs: Long): Unit = sc.listenerBus.waitUntilEmpty(timeoutMs)
}
