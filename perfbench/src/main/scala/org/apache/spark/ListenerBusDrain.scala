package org.apache.spark

/** Blocks until the listener bus has delivered every event posted so far.
  * The bus is private to Spark, hence this object's package.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
