package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so
  * span counters are complete before they are read.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
