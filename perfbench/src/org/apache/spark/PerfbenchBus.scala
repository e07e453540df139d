package org.apache.spark

/** Waits until every event posted so far has reached the registered
  * listeners. The listener bus is private to Spark, hence the package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
