package org.apache.spark.pipebench

import org.apache.spark.SparkContext

/** Waits until every listener event posted so far has been delivered
  * (the listener bus is asynchronous and its drain is package-private). */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
