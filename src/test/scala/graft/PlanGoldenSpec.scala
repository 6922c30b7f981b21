package graft

import java.nio.file.{Files, Paths}

/** The checked plan record: every `SparkEntry.queries` entry's physical
  * plan, as planned before AQE runs anything, equals its normalized copy
  * in `plans/golden/<query>.txt`. The query is built at the spec scale
  * and planned, never executed, so the record is the initial
  * `AdaptiveSparkPlan isFinalPlan=false` tree, which no runtime
  * statistic moves.
  *
  * On a mismatch or a missing file the actual text goes to
  * `target/plan-golden/<query>.txt` and the failure names the `cp` that
  * accepts it (plans/golden/README.md). */
class PlanGoldenSpec extends GraftSuite {
  private val GoldenDir = Paths.get("plans", "golden")
  private val ActualDir = Paths.get("target", "plan-golden")

  /** A child of the shared session, so no other suite's conf change
    * reaches these plans. Scan metadata (filters, locations) is cut at
    * 100 characters by default, and where the cut falls moves with the
    * width of the expression ids in it. */
  private lazy val golden = {
    val s = spark.newSession()
    s.conf.set("spark.sql.maxMetadataStringLength", Int.MaxValue.toString)
    s
  }

  SparkEntry.queries.keys.toSeq.sorted.foreach { name =>
    test(name) {
      // a plan must not depend on what earlier queries or suites cached
      spark.catalog.clearCache()
      val df = SparkEntry.queries(name)(golden, sf)
      val actual = PlanNorm(df.queryExecution.executedPlan.treeString, sf)
      val file = GoldenDir.resolve(s"$name.txt")
      val out = ActualDir.resolve(s"$name.txt")
      val expected = if (Files.exists(file)) Some(Files.readString(file)) else None
      if (expected.contains(actual)) Files.deleteIfExists(out)
      else {
        Files.createDirectories(ActualDir)
        Files.writeString(out, actual)
        val why = expected.fold(s"$file is missing") { text =>
          val (e, a) = (text.linesIterator.toSeq, actual.linesIterator.toSeq)
          val at = e.zipAll(a, "", "").indexWhere { case (x, y) => x != y }
          s"$file differs at line ${at + 1}:\n  golden: ${e.lift(at).getOrElse("")}" +
            s"\n  actual: ${a.lift(at).getOrElse("")}"
        }
        fail(s"$why\naccept the new plan with: cp $out $file")
      }
    }
  }
}
