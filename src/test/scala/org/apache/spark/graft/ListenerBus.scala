package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Specs that count scheduler events need every posted event
  * delivered before they read their listener; Spark keeps the bus
  * `private[spark]`, so this re-exports its drain. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
