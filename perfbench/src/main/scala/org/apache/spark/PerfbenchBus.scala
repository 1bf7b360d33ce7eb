package org.apache.spark

/** Spark keeps its listener bus private to the `org.apache.spark`
  * package; the tracer only needs to wait for it to go quiet before
  * reading what its listeners recorded. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
