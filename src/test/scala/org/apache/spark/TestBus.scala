package org.apache.spark

/** Listener events reach listeners asynchronously; a spec that counts
  * events must drain the bus before reading its counters. The drain call
  * is package-private, hence this bridge. */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
