package org.apache.spark

/** Blocks until Spark's listener bus has delivered every event posted
  * so far — the listener-bus drain is Spark-private, so the benchmark
  * reaches it from this package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
