package graft

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode

/** Query probe on the Bench session:
  * `SPARK_GRAFT_SF_DIR=<dir> runMain graft.Tool <time|explain|stages> q1 [q2 ...]`
  * (SPARK_GRAFT_CPUS cores, default 4 as in Bench).
  *
  *  - `time`: after one warm count() and collect(), three runs, each
  *    timing count() and collect(). Bench times count(); a count() far
  *    below its collect() means the optimizer pruned work the result needs.
  *  - `explain`: collect(), then the AQE-final formatted plan.
  *  - `stages`: after a warm count(), a timed count() and its stages by
  *    wall: executor run time, tasks, input and shuffle-read MB. The query
  *    wall minus the summed stage walls is time no stage owns: planning,
  *    scheduling and result handling. */
object Tool {
  def main(args: Array[String]): Unit = {
    val usage = "usage: SPARK_GRAFT_SF_DIR=<dir> graft.Tool <time|explain|stages> q1 [q2 ...]"
    require(args.length >= 2 && Set("time", "explain", "stages")(args(0)), usage)
    val names = args.toSeq.tail
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", sys.error(usage))
    val spark = GraftSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    spark.sparkContext.setLogLevel("WARN")
    def secs(f: => Any): Double = {
      val t0 = System.nanoTime()
      f
      (System.nanoTime() - t0) / 1e9
    }
    try names.foreach { n =>
      val q = () => SparkEntry.queries(n)(spark, sfDir)
      args(0) match {
        case "time" =>
          q().count(); q().collect()
          (1 to 3).foreach { i =>
            val count = secs(q().count())
            val collect = secs(q().collect())
            println(f"TIME $n run$i count $count%.3f s collect $collect%.3f s")
          }
        case "explain" =>
          // collect() runs df's own QueryExecution, so the printed plan is
          // AQE-final; count() would plan a separate query
          val df = q()
          df.collect()
          println(s"===== $n =====")
          println(df.queryExecution.explainString(FormattedMode))
        case "stages" => stages(spark, n, q)
      }
    } finally spark.stop()
  }

  private case class Stage(id: Int, name: String, wallMs: Long, runMs: Long,
      tasks: Int, inputMb: Double, shufReadMb: Double)

  private def stages(spark: SparkSession, n: String, q: () => DataFrame): Unit = {
    q().count() // warm: JIT, codegen, page cache
    val seen = ArrayBuffer[Stage]()
    val listener = new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val wall = (for (c <- si.completionTime; s <- si.submissionTime) yield c - s)
          .getOrElse(0L)
        seen.synchronized {
          seen += Stage(si.stageId, si.name.linesIterator.next().take(70), wall,
            si.taskMetrics.executorRunTime, si.numTasks,
            si.taskMetrics.inputMetrics.bytesRead / 1048576.0,
            si.taskMetrics.shuffleReadMetrics.totalBytesRead / 1048576.0)
        }
      }
    }
    Thread.sleep(500) // let the warm run's events drain before listening
    spark.sparkContext.addSparkListener(listener)
    val t0 = System.nanoTime()
    q().count()
    val wall = (System.nanoTime() - t0) / 1e9
    Thread.sleep(500) // let the listener bus drain
    spark.sparkContext.removeSparkListener(listener)
    seen.synchronized {
      val sumWall = seen.map(_.wallMs).sum / 1000.0
      println(f"QUERY $n wall $wall%.3f s, ${seen.size} stages, " +
        f"sum(stage wall) $sumWall%.3f s, unowned ${wall - sumWall}%.3f s")
      seen.sortBy(-_.wallMs).foreach { s =>
        println(f"  stage ${s.id}%4d wall ${s.wallMs / 1000.0}%7.3f s " +
          f"run ${s.runMs / 1000.0}%8.3f s tasks ${s.tasks}%4d " +
          f"in ${s.inputMb}%7.1f MB shufRead ${s.shufReadMb}%7.1f MB  ${s.name}")
      }
    }
  }
}
