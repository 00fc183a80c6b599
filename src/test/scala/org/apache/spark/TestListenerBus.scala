package org.apache.spark

/** Reaches Spark's listener bus, which is private to the `org.apache.spark`
  * package: a test that counts jobs with a listener must see every queued
  * event before it reads the count or detaches the listener. */
object TestListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
