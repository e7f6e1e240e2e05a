package org.apache.spark

/** The listener bus is private to Spark. Draining it lets a listener's
  * totals include every event of the jobs that have just finished. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
