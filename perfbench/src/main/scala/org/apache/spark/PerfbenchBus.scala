package org.apache.spark

/** Listener events arrive asynchronously; the tracer reads its counters
  * only after the bus has delivered everything posted so far. The drain
  * call is package-private to Spark, hence this file's package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
