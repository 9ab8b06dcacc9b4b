package org.apache.spark

/** Reaches the listener bus's package-private drain, so a test reads its
  * listeners only after every event posted so far has been delivered. */
object TestListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
