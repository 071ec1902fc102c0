package org.apache.spark

/** Lets the benchmark harness wait for Spark's listener bus to deliver
  * every posted event before it reads its listener's counters.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
