package graft

import java.io.File
import java.nio.file.Files

import graft.operators.{Dedup, Relational}
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.Assertions._

/** The reliable snapshot form of every operator that takes a
  * [[Pin.Snapshot]]: the result must not depend on where the snapshot
  * lives, and the snapshot must be an unmanaged parquet write. q36 and
  * d07 run the same check from their own specs. */
class PinSpec extends GraftSuite {

  test("Pin.Reliable matches Pin.Local for q31/q46") {
    Seq("q31", "q46").foreach(PinSpec.checkReliable(spark, sf, _))
  }
}

object PinSpec {

  /** Operator, its run under a pin, the snapshot subdirectories its
    * Reliable form must leave, and how many `round-N` snapshots may
    * survive the run: superseded d07 rounds are dropped as rounds
    * advance, so only the final round backs the result. */
  private val cases: Map[String,
      (SparkSession, String, Pin.Snapshot) => (DataFrame, Seq[String], Int)] = Map(
    "q31" -> ((s, d, p) => (Relational.q31ImportantParts(s, d, p), Seq("q31-perpart"), 0)),
    "q36" -> ((s, d, p) => (Relational.q36SpendDeciles(s, d, p), Seq("q36-ranks"), 0)),
    "q46" -> ((s, d, p) => (Relational.q46TopSupplier(s, d, p), Seq("q46-rev"), 0)),
    "d07" -> ((s, d, p) => (Dedup.d07DupClusters(s, d, p), Seq("static"), 1)))

  /** Runs `name` under `Pin.Reliable` and `Pin.Local` and asserts equal
    * results, a parquet snapshot under each expected subdirectory, no
    * leaked round snapshots, and no session checkpoint dir. */
  def checkReliable(spark: SparkSession, sf: String, name: String): Unit = {
    val run = cases(name)
    val dir = Files.createTempDirectory(s"graft-pin-$name").toFile
    try {
      val (reliableDf, snapshots, rounds) = run(spark, sf, Pin.Reliable(dir.toString))
      val reliable = reliableDf.collect().toSeq
      val local = run(spark, sf, Pin.Local)._1.collect().toSeq
      assert(reliable.nonEmpty && reliable == local,
        s"$name: the Reliable result diverged from Local")
      snapshots.foreach { sub =>
        val files = Option(new File(dir, sub).listFiles()).toSeq.flatten
        assert(files.exists(_.getName.endsWith(".parquet")),
          s"$name: no parquet snapshot under $dir/$sub")
      }
      val roundDirs = dir.list().filter(_.startsWith("round-"))
      assert(roundDirs.length == rounds,
        s"$name: superseded round snapshots leaked: ${roundDirs.mkString(", ")}")
      // SparkContext cannot unset a checkpoint dir, so none may be set
      assert(spark.sparkContext.getCheckpointDir.isEmpty,
        s"$name: the Reliable form set the session checkpoint dir")
    } finally FileUtils.deleteQuietly(dir)
  }
}
