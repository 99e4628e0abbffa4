package org.apache.spark

/** Listener-bus drain for the benchmark's traced run: the bus is
  * private to Spark, so the accessor lives in Spark's package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
