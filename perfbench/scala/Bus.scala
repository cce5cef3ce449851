package org.apache.spark

/** The listener bus is package-private to Spark; the tracer needs to
  * wait until it has delivered every event posted so far. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
