package org.apache.spark

/** Waits until every queued listener event has been delivered, so the
  * benchmark's tracer sees all job and query events of an op before it
  * closes the op's span. */
object GraftBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
