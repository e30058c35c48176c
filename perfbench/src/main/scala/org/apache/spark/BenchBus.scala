package org.apache.spark

/** Package-local bridge to the listener bus: listener events arrive
  * asynchronously, so the traced run drains the bus before it reads
  * its counters. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
