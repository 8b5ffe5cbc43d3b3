package org.apache.spark

/** Waits until every queued listener event has been delivered, so a
  * tracer reads complete per-op counts (the listener bus is asynchronous).
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
