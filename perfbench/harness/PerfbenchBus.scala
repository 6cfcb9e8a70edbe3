package org.apache.spark

/** Access to the listener bus (package-private in Spark), so the harness can
  * wait until every traced event has been delivered before reading totals.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
