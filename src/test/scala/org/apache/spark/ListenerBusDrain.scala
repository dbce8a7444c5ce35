package org.apache.spark

/** Waits until every event posted so far reached the listeners (the
  * bus is private to Spark).
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
