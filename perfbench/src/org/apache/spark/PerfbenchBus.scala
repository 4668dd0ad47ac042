package org.apache.spark

/** The listener bus drain is private to Spark; the benchmark needs it so a
  * group's task metrics are complete before they are read.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
