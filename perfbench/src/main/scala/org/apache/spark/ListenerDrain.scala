package org.apache.spark

/** Waits for Spark's listener bus, which is private to Spark. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
