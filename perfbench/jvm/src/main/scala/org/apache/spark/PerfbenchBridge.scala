package org.apache.spark

/** Reaches the listener bus, which is private to Spark: the trace replay
  * reads its job/stage/task attribution only after every event posted so
  * far has been delivered. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
