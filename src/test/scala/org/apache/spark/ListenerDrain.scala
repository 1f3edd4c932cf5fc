package org.apache.spark

/** Listener events arrive asynchronously; a spec that counts them reads
  * its counters only after the bus has delivered everything posted.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
