package org.apache.spark

/** The listener bus is private to Spark. The traced run needs exactly one
  * thing from it: to wait until every event posted so far has reached the
  * listeners, so span counters are complete before they are read. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
