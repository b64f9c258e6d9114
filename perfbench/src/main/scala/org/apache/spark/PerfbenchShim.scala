package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so the
  * traced counters are complete before they are read. */
object PerfbenchShim {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
