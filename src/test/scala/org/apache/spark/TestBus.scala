package org.apache.spark

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Listener events reach listeners asynchronously; a spec that counts
  * events must drain the bus before reading its counters. The drain call
  * is package-private, hence this bridge. */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** The Spark jobs submitted while `body` runs, counted by a listener
    * over a drained bus. */
  def jobsDuring[T](sc: SparkContext)(body: => T): (T, Int) = {
    drain(sc)
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      val result = body
      drain(sc)
      (result, jobs.get)
    } finally sc.removeSparkListener(listener)
  }
}
