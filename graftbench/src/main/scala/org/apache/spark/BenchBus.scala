package org.apache.spark

/** Listener events reach listeners asynchronously. The benchmark reads
  * its per-pass counters only after every event posted during the pass
  * has been delivered; the bus's drain call is package-private, hence
  * this one-line bridge. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
