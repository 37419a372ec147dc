package org.apache.spark

/** Waits until every listener event posted so far has been delivered, so the
 * benchmark's listeners have seen the last task of the measured operations
 * before their counts are read. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
