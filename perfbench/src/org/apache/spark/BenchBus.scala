package org.apache.spark

/** Lets the benchmark wait until every posted listener event has been
  * delivered, so no counter is read while its events are still queued.
  * The listener bus is package-private to Spark, hence this package. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
