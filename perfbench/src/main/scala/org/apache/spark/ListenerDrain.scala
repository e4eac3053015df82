package org.apache.spark

/** Listener events arrive asynchronously; the counters are read only after
  * the bus has delivered every event posted so far. The bus is private to
  * Spark, hence this package.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
