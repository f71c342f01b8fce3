package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Test-only count of the listeners on a SparkContext's listener bus,
  * which Spark keeps `private[spark]`: specs use it to prove a scope
  * leaves no listener behind.
  */
object BusListeners {
  def apply(sc: SparkContext): Int = sc.listenerBus.listeners.size
}
