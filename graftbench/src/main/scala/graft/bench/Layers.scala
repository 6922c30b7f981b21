package graft.bench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One job as the scheduler reported it: wall interval and the op that
  * submitted it (the `graft.bench.op` local property; streaming jobs run
  * on their own thread and carry none). */
final case class JobSpan(id: Int, op: String, start: Long, end: Long)

/** Per-pass layer counters, fed only by Spark's public listener
  * channels: the scheduler (`SparkListener`), finished Dataset actions
  * (`QueryExecutionListener`) and streaming progress
  * (`StreamingQueryListener`). `reset` at the start of a pass; read the
  * counters after the listener bus has drained. */
final class Layers extends SparkListener with QueryExecutionListener
    with AdaptiveSparkPlanHelper {
  private val sums = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val jobStart = mutable.Map.empty[Int, (Long, String)]
  private val jobStages = mutable.Map.empty[Int, Seq[Int]]
  private val submitted = mutable.Set.empty[Int]
  private val jobs = mutable.ArrayBuffer.empty[JobSpan]
  private val batchSec = mutable.ArrayBuffer.empty[Double]
  private val cached = mutable.Map.empty[String, Long]
  private val pinnedRdds = mutable.Set.empty[Int]
  private var cachedPeak = 0L

  def reset(): Unit = synchronized {
    sums.clear(); jobStart.clear(); jobStages.clear(); submitted.clear()
    jobs.clear(); batchSec.clear(); pinnedRdds.clear()
    cachedPeak = cached.values.sum
  }

  private def add(k: String, v: Double): Unit = sums(k) += v

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val op = Option(e.properties).flatMap(p => Option(p.getProperty(Layers.OpKey)))
    jobStart(e.jobId) = (e.time, op.getOrElse(""))
    jobStages(e.jobId) = e.stageIds
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.get(e.jobId).foreach { case (t0, op) => jobs += JobSpan(e.jobId, op, t0, e.time) }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    submitted += e.stageInfo.stageId
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    add("driver.tasks", 1)
    if (!e.taskInfo.successful) add("exec.failed_tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      add("exec.run_s", m.executorRunTime / 1e3)
      add("exec.cpu_s", m.executorCpuTime / 1e9)
      add("exec.gc_s", m.jvmGCTime / 1e3)
      sums("exec.peak_mem_mb") = math.max(sums("exec.peak_mem_mb"), m.peakExecutionMemory.toDouble)
      add("sources.scan_mb", m.inputMetrics.bytesRead.toDouble)
      add("sources.scan_records", m.inputMetrics.recordsRead.toDouble)
      add("sources.write_mb", m.outputMetrics.bytesWritten.toDouble)
      add("sources.write_records", m.outputMetrics.recordsWritten.toDouble)
      if (m.outputMetrics.recordsWritten > 0) add("sources.write_files", 1)
      add("exchange.write_mb", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add("exchange.records", m.shuffleWriteMetrics.recordsWritten.toDouble)
      add("exchange.read_mb", m.shuffleReadMetrics.totalBytesRead.toDouble)
      add("exchange.fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
      add("spill.mem_mb", m.memoryBytesSpilled.toDouble)
      add("spill.disk_mb", m.diskBytesSpilled.toDouble)
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    info.blockId.asRDDId.foreach { rdd =>
      val bytes = info.memSize + info.diskSize
      if (bytes > 0) { cached(info.blockId.name) = bytes; pinnedRdds += rdd.rddId }
      else cached.remove(info.blockId.name)
      cachedPeak = math.max(cachedPeak, cached.values.sum)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      add("plans.executions", 1)
      add("plans.plan_s", Layers.PlanPhases.flatMap(qe.tracker.phases.get).map(_.durationMs).sum / 1e3)
      collectWithSubqueries(qe.executedPlan) { case b: BroadcastExchangeExec => b }.foreach { b =>
        add("broadcast.count", 1)
        add("broadcast.mb", b.metrics("dataSize").value.toDouble)
        add("broadcast.build_s", (b.metrics("collectTime").value + b.metrics("buildTime").value) / 1e3)
      }
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    synchronized(add("plans.executions", 1))

  val streaming: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Layers.this.synchronized {
        if (e.progress.numInputRows > 0) {
          batchSec += e.progress.batchDuration / 1e3
          add("streaming.rows", e.progress.numInputRows.toDouble)
        }
      }
  }

  /** The pass's counters. `windows` are the timed op intervals (epoch
    * ms): driver time no job covers inside them is `driver.unowned_s`. */
  def snapshot(windows: Seq[(Long, Long)]): (Map[String, Double], Seq[JobSpan]) = synchronized {
    // byte counters are summed as exact integers and scaled here, so that
    // equal work reads the same whatever order the tasks finished in
    val m = sums.toMap.map { case (k, v) => k -> (if (k.endsWith("mb")) v / Layers.MB else v) }
      .withDefaultValue(0.0)
    val streamRows = m("streaming.rows")
    val stageIds = jobStages.filter { case (j, _) => jobs.exists(_.id == j) }.values.flatten.toSet
    val owned = Layers.union(jobs.toSeq.flatMap(j => windows.flatMap { case (a, b) =>
      val (s, e) = (math.max(a, j.start), math.min(b, j.end)); if (s < e) Some((s, e)) else None
    }))
    val wall = windows.map { case (a, b) => b - a }.sum
    val out = Layers.Counters.map(_ -> 0.0).toMap ++ (m - "streaming.rows") ++ Map(
      "driver.jobs" -> jobs.size.toDouble,
      "driver.stages" -> (stageIds & submitted).size.toDouble,
      "driver.skipped_stages" -> (stageIds -- submitted).size.toDouble,
      "driver.unowned_s" -> (wall - owned) / 1e3,
      "exchange.rows_ratio" ->
        (if (m("sources.scan_records") > 0) m("exchange.records") / m("sources.scan_records") else 0.0),
      "streaming.batches" -> batchSec.size.toDouble,
      "streaming.batch_p50_s" -> Stats.median(batchSec.toSeq),
      "streaming.rows_per_s" -> (if (batchSec.sum > 0) streamRows / batchSec.sum else 0.0),
      "pins.mb" -> cachedPeak / Layers.MB,
      "pins.count" -> pinnedRdds.size.toDouble)
    (out, jobs.toSeq.sortBy(_.start))
  }
}

object Layers {
  val OpKey = "graft.bench.op"
  val MB: Double = 1024.0 * 1024.0
  private val PlanPhases = Seq("analysis", "optimization", "planning")
  /** Summed counters that stay 0 in a pass without the matching events. */
  private val Counters = Seq("driver.tasks", "exec.failed_tasks", "exec.run_s", "exec.cpu_s",
    "exec.gc_s", "exec.peak_mem_mb", "sources.scan_mb", "sources.scan_records",
    "sources.write_mb", "sources.write_records", "sources.write_files", "exchange.write_mb",
    "exchange.records", "exchange.read_mb", "exchange.fetch_wait_s", "spill.mem_mb",
    "spill.disk_mb", "plans.executions", "plans.plan_s", "broadcast.count", "broadcast.mb",
    "broadcast.build_s")

  /** Total length of the union of [start, end) intervals. */
  def union(iv: Seq[(Long, Long)]): Long =
    iv.sortBy(_._1).foldLeft((0L, Long.MinValue)) { case ((tot, reach), (s, e)) =>
      if (e <= reach) (tot, reach) else (tot + e - math.max(s, reach), e)
    }._1
}
