package org.apache.spark

/** Blocks until the listener bus has delivered every event posted so far,
  * so a listener can be read or removed without losing events. The bus is
  * package-private to Spark, hence this file's package. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
