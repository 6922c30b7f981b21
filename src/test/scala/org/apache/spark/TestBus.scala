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

/** Process starts seen by an in-process JFR recording. */
object TestJfr {
  import scala.jdk.CollectionConverters._

  /** The command lines of the processes this JVM started while `body`
    * ran, from a `jdk.ProcessStart` recording. */
  def processStartsDuring[T](body: => T): (T, Seq[String]) = {
    val recording = new jdk.jfr.Recording()
    val dump = java.nio.file.Files.createTempFile("process-starts", ".jfr")
    try {
      recording.enable("jdk.ProcessStart")
      recording.start()
      val result = try body finally recording.stop()
      recording.dump(dump)
      val starts = jdk.jfr.consumer.RecordingFile.readAllEvents(dump).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map(_.getString("command"))
      (result, starts)
    } finally {
      recording.close()
      java.nio.file.Files.delete(dump)
    }
  }
}
