package org.apache.spark

/** Lets the benchmark wait until every listener event of a finished action
  * has been delivered before it reads its stage metrics. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
