package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for specs: one JVM-wide SparkSession (local[4], tiny SF). */
object SparkTestBase {
  lazy val spark: SparkSession = GraftSession(4, SessionConfs: _*)

  /** The specs' additions to the engine set. The 4.x
    * ChecksumCheckpointFileManager deadlocks its async checksum writer
    * pool under rapid transformWithState micro-batches with TTL column
    * families (all executor tasks parked in awaitResult, observed in
    * StreamingSpec); the plain manager has no such pool. Checksums only
    * guard checkpoint corruption, so no semantics change. */
  val SessionConfs: Seq[(String, String)] = Seq(
    "spark.app.name" -> "graft-test",
    "spark.sql.streaming.checkpoint.fileChecksum.enabled" -> "false")

  val sf = "/root/testdata/sf0.001"
}

abstract class GraftSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.spark
  val sf: String = SparkTestBase.sf
  spark.sparkContext.setLogLevel("ERROR")
}
