package org.apache.spark

/** Listener events arrive asynchronously; the benchmark reads its counters
  * only after the bus has delivered everything posted so far.
  */
object BenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
