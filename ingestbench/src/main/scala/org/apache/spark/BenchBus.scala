package org.apache.spark

/** Waits until every posted listener event has been delivered, so the
  * benchmark reads complete progress and job records after a query ends.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
