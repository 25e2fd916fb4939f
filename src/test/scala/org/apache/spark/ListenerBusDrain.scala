package org.apache.spark

/** Specs' access to the listener bus flush: a SparkListener sees an event
  * only after the bus delivers it, so a count read right after an action
  * must wait for the queue to empty first. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
