package org.apache.spark

/** Reaches the listener-bus drain that Spark keeps package-private, so
  * the benchmark's listener has seen every event before its counts are
  * read.
  */
object PerfbenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
