package org.apache.spark

/** The listener bus delivers events asynchronously; the benchmark reads
  * its listener's counters only after every posted event has arrived.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
