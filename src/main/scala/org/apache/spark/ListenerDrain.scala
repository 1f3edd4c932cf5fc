package org.apache.spark

/** Listener events arrive asynchronously; a counter reads its totals only
  * after the bus has delivered everything posted. The bus is private to
  * Spark, hence this package.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
