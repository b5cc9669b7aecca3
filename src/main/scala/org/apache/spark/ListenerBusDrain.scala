package org.apache.spark

/** Blocks until every listener event posted so far has been delivered, so
  * a caller can read its listener's totals right after an action returns
  * (listener delivery is asynchronous). */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
