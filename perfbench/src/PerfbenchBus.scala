package org.apache.spark

/** Waits until the listener bus has delivered every event posted so far,
  * so a statement's job counters are complete before they are read. The
  * bus is `private[spark]`, hence this package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
