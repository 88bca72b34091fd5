package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so a
  * listener's counters are complete when a timed call returns. The bus
  * is `private[spark]`, hence this package. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
