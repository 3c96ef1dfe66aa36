package org.apache.spark

/** Listener events arrive asynchronously; the bus's drain is
  * package-private, so the harness reaches it from here.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
