package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Reaches the package-private `SparkContext.listenerBus`: `drain` blocks
  * until every event posted so far has been delivered to its listeners. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
