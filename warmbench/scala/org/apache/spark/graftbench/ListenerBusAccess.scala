package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Reaches the package-private `SparkContext.listenerBus` so the traced run
  * can block until every posted event has been delivered to its listeners,
  * instead of sleeping and polling counters. */
object ListenerBusAccess {
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
