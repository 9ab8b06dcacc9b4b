package org.apache.spark

/** Reaches the listener bus's package-private drain, so the benchmark reads
  * its listeners only after every event of a pass has been delivered. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
