package org.apache.spark

/** The one engine-internal call the traced run needs: listener events are
  * delivered asynchronously, so a span's counters are read only after the
  * bus has delivered every event posted before the span ended. */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
