package org.apache.spark

/** Waits until every listener event posted so far has been delivered (the
  * listener bus is asynchronous and its drain is package-private). */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
