package org.apache.spark

/** Test access to the listener bus, which is private to Spark: a job
  * count is read only after every event posted so far has been delivered. */
object GraftTestBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
