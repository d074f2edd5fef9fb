package org.apache.spark

/** The listener bus delivers events asynchronously; the benchmark reads
  * its job listener only after every posted event has been delivered. */
object IngestBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
