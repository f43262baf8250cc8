package org.apache.spark

/** Waits until every queued listener event has been delivered, so the
  * benchmark's tracer sees the events of an operation before it is
  * detached. The listener bus is private to Spark, hence this package.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
