package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Listener events are delivered asynchronously; a measurement that reads
  * listener-fed counters right after an action must first wait for the bus
  * to deliver that action's events. The bus is `private[spark]`, hence this
  * package. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
