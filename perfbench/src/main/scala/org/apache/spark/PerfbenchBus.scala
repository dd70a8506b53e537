package org.apache.spark

/** The listener bus is private to Spark; the traced benchmark run waits on
  * it after each query so that every event of that query has been seen
  * before the query's counters are read. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
