package org.apache.spark

/** Waits until every event posted so far has reached the listeners.
  * The listener bus is internal to Spark, hence this package.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
