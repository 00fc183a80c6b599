package org.apache.spark

/** Reaches Spark's listener bus, which is private to the `org.apache.spark`
  * package: the traced run must see every queued event before it reads
  * its listener's counters or detaches the listener. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
