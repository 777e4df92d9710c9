package org.apache.spark

/** Waits until every queued listener event has been delivered, so the
  * benchmark's listeners have seen all jobs before their totals are read.
  * The bus is package-private to Spark, hence this one-line bridge.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
