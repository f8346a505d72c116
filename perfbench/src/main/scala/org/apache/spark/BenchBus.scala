package org.apache.spark

/** Waits until every posted listener event has been delivered, so the
  * benchmark's counters are read only after the events of the work they
  * count have arrived. The listener bus is private to Spark's package.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
