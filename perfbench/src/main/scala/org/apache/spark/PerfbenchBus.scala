package org.apache.spark

/** The listener bus is asynchronous; the tracer must see every event
  * of the work it attributes before it reads its collector. The drain
  * hook is package-private to Spark, hence this one-line bridge. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
