package org.apache.spark

/** Access to the listener bus, which is private to Spark: a traced span
  * reads the listener counters only after every event posted so far has
  * been delivered. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
