package org.apache.spark

/** The listener bus is private to Spark; a traced run must see every
  * event of its ops before it reads the listeners' totals. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
