package graft.bench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.{BenchBus, SparkContext}
import org.apache.spark.sql.SparkSession

/** One op call inside a pass (epoch-ms window, seconds, CPU-s, JIT
  * compiler CPU-s, error). */
final case class OpRun(name: String, start: Long, end: Long, sec: Double, cpu: Double,
    jitCpu: Double, error: Option[String])

final case class Pass(ops: Seq[OpRun], layers: Map[String, Double], jobs: Seq[JobSpan],
    stealFrac: Double) {
  def wall: Double = ops.map(_.sec).sum
  def cpu: Double = ops.map(_.cpu).sum
  def jitCpu: Double = ops.map(_.jitCpu).sum
}

/** The benchmark's JVM side: builds one session, sets the workload up,
  * runs a fixed number of warm passes, then times whole passes of the
  * workload's op mix for the requested seconds and writes one JSON
  * result. With `--trace 1` the second half of the timed passes runs
  * with the layer listeners attached and records spans.
  *
  * Usage: `Main --workload <sql|cdr> --seed <n> --seconds <s> --trace <0|1>
  *   --t0 <epoch ms set-up began> --work <dir> --out <result.json> [--data <dir>]
  *   [--expected <hashes.json>] [--records <n>] [--spans <spans.json>]`
  * or `Main oracle-sql <out.json>` to dump the `sql` queries' oracle SQL. */
object Main {
  private val json = new ObjectMapper().registerModule(DefaultScalaModule)
  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("oracle-sql")) {
      val sql = Workloads.SqlQueries.map(q => q -> graft.SparkEntry.oracleSql(q)).toMap
      json.writeValue(new File(args(1)), sql)
      return
    }
    val a = args.grouped(2).map(kv => kv(0).stripPrefix("--") -> kv(1)).toMap
    // A task slot for every other core; the rest go to the driver
    // thread, the JIT compilers and GC. On 4 cores a warm pass of
    // either workload took as long with 2 slots as with 3, and 4 slots
    // were slower on `sql`. Fewer busy virtual CPUs also leave the
    // host less to preempt: passes that lost 10% of the box's CPU to
    // the host ran up to 50% slower.
    val cpus = math.max(1, Runtime.getRuntime.availableProcessors / 2)
    val work = a("work")
    val spark = graft.ToolConf(SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graftbench")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$work/checkpoints"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try json.writeValue(new File(a("out")), run(spark, a, cpus))
    finally spark.stop()
  }

  /** Warm passes before the timed ones: the cold pass and one more. On
    * 4 cores the pass wall keeps falling slowly for ten passes and more
    * while the JIT compiles (`sql`: 14.3 s cold, 4.1, then 3.4 down to
    * 2.7 s over seven timed passes), so no warm-up that fits one run's
    * time budget (under 60 s, for 48 runs in under an hour) reaches a
    * plateau. With the cold pass alone, the compiler threads still took
    * up to 9 CPU-s of the first 4.5 s timed `sql` pass, and the timed
    * walls fell by a third within a run. The timed passes sit on the
    * shallower slope after the second pass, and the run reports their
    * median. */
  private val WarmPasses = 2

  /** The JIT compiler threads (run.py turns their dynamic start and stop
    * off, so these are all of them for the JVM's life). */
  private lazy val compilerTasks: Seq[File] =
    Option(new File("/proc/self/task").listFiles).toSeq.flatten.filter { t =>
      val src = scala.io.Source.fromFile(new File(t, "comm"))
      try src.mkString.contains("CompilerThre") finally src.close()
    }

  private def compilerCpuSeconds: Double = compilerTasks.map { t =>
    val src = scala.io.Source.fromFile(new File(t, "stat"))
    val f = try src.mkString finally src.close()
    val rest = f.substring(f.lastIndexOf(')') + 2).split(' ')
    (rest(11).toLong + rest(12).toLong) / 100.0 // utime + stime, in USER_HZ ticks
  }.sum

  /** Process CPU time less the JIT compilers': the CPU the program's own
    * threads (and GC) used. Compilation keeps running for many passes
    * and took up to half of a `sql` pass's process CPU, falling pass by
    * pass, which is warm-up rather than the program's cost. */
  private def cpuSeconds: Double = osBean.getProcessCpuTime / 1e9 - compilerCpuSeconds

  /** A fixed pure-JVM kernel; its time before and after the passes shows
    * how fast the box itself was during the run. */
  private var calibSink = 0L
  private def calibrate(): Double = {
    val t0 = System.nanoTime
    var x = 1L; var i = 0
    while (i < 200000000) { x = x * 6364136223846793005L + 1442695040888963407L; i += 1 }
    calibSink += x
    (System.nanoTime - t0) / 1e9
  }

  /** The box's (total, stolen) CPU ticks from /proc/stat: on a virtual
    * machine, stolen ticks are time a virtual CPU was ready to run but
    * the host ran something else. */
  private def cpuTicks: (Long, Long) = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      (f.take(8).sum, if (f.length > 7) f(7) else 0L)
    } finally src.close()
  }

  private def stealBetween(a: (Long, Long), b: (Long, Long)): Double =
    (b._2 - a._2).toDouble / math.max(1L, b._1 - a._1)

  private def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    finally src.close()
  }

  private def pass(sc: SparkContext, ops: Seq[Op], layers: Option[Layers]): Pass = {
    layers.foreach { l => BenchBus.drain(sc); l.reset() }
    val ticks0 = cpuTicks
    val runs = ops.map { op =>
      op.prepare()
      sc.setLocalProperty(Layers.OpKey, op.name)
      val (s, c0, j0, n0) = (System.currentTimeMillis, cpuSeconds, compilerCpuSeconds, System.nanoTime)
      val verify =
        try op.run()
        catch { case t: Throwable => () => Some(s"${op.name} threw $t") }
      val sec = (System.nanoTime - n0) / 1e9
      val (e, cpu, jit) = (System.currentTimeMillis, cpuSeconds - c0, compilerCpuSeconds - j0)
      sc.setLocalProperty(Layers.OpKey, null)
      val error =
        try verify()
        catch { case t: Throwable => Some(s"${op.name} check threw $t") }
      error.foreach(m => System.err.println(s"graftbench: FAILED $m"))
      OpRun(op.name, s, e, sec, cpu, jit, error)
    }
    val steal = stealBetween(ticks0, cpuTicks)
    layers match {
      case Some(l) =>
        BenchBus.drain(sc)
        val (m, jobs) = l.snapshot(runs.map(r => (r.start, r.end)))
        Pass(runs, m, jobs, steal)
      case None => Pass(runs, Map.empty, Nil, steal)
    }
  }

  /** Passes until `seconds` have elapsed (at least one). */
  private def timedPasses(seconds: Double)(one: => Pass): Seq[Pass] = {
    val t0 = System.nanoTime
    val out = mutable.ArrayBuffer(one)
    while ((System.nanoTime - t0) / 1e9 < seconds) out += one
    out.toSeq
  }

  def run(spark: SparkSession, a: Map[String, String], cpus: Int): Map[String, Any] = {
    val sc = spark.sparkContext
    val t0 = a("t0").toLong
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val work = a("work")
    val loadStart = osBean.getSystemLoadAverage
    val sessionS = (System.currentTimeMillis - t0) / 1e3
    val calibStart = calibrate()

    val workload: Workload = a("workload") match {
      case "sql" =>
        val expected = json.readValue(new File(a("expected")), classOf[Map[String, String]])
        new SqlWorkload(spark, a("data"), expected, seed)
      case "cdr" => new CdrWorkload(spark, work, a("records").toLong)
    }
    val ops = workload.ops

    val warmStartS = (System.currentTimeMillis - t0) / 1e3
    val warm = Seq.fill(WarmPasses)(pass(sc, ops, None))
    val setupS = (System.currentTimeMillis - t0) / 1e3

    val cpuTicksStart = cpuTicks
    val plain = timedPasses(if (trace) seconds / 2 else seconds)(pass(sc, ops, None))
    val traced = if (!trace) Nil else {
      val layers = new Layers
      sc.addSparkListener(layers)
      spark.listenerManager.register(layers)
      spark.streams.addListener(layers.streaming)
      timedPasses(seconds / 2)(pass(sc, ops, Some(layers)))
    }
    val stealFrac = stealBetween(cpuTicksStart, cpuTicks)
    val calibEnd = calibrate()
    val loadEnd = osBean.getSystemLoadAverage

    val all = warm ++ plain ++ traced
    val attempted = all.map(_.ops.size).sum
    val failed = all.map(_.ops.count(_.error.nonEmpty)).sum
    val timed = plain ++ traced
    def opMedians(ps: Seq[Pass]): Map[String, Double] = ops.map { op =>
      op.name -> Stats.median(ps.flatMap(_.ops.filter(r => r.name == op.name && r.error.isEmpty).map(_.sec)))
    }.toMap
    val writeNames = ops.filter(_.writes).map(_.name).toSet
    val writeS = Stats.median(timed.map(_.ops.filter(r => writeNames(r.name)).map(_.sec).sum))
    val storedRatio = workload.storedRatio
    val failedFrac = failed.toDouble / attempted
    val endToEnd = Map(
      "setup_s" -> setupS,
      "wall_s" -> Stats.median(plain.map(_.wall)),
      "op_geomean_s" -> Stats.geomean(opMedians(plain).values.toSeq),
      "cpu_s" -> Stats.median(plain.map(_.cpu)),
      "peak_rss_mb" -> peakRssMb,
      "write_s" -> writeS,
      "stored_ratio" -> storedRatio,
      "failed_frac" -> failedFrac)

    val perLayer: Map[String, Double] = if (!trace) Map.empty else {
      val opS = opMedians(traced)
      val keys = traced.flatMap(_.layers.keys).distinct
      keys.map(k => k -> Stats.median(traced.map(_.layers.getOrElse(k, 0.0)))).toMap ++
        opS.map { case (k, v) => s"op.${k}_s" -> v } ++ Map(
          "sources.seqfile_write_s" -> opS.getOrElse("seqfile_write", 0.0),
          "sources.seqfile_read_s" -> opS.getOrElse("seqfile_read", 0.0),
          "sources.ingest_s" -> opS.getOrElse("ingest", 0.0),
          "functions.codec_s" -> opS.getOrElse("encoded_scan", 0.0),
          "functions.regex_s" -> (opS.getOrElse("grep", 0.0) + opS.getOrElse("wiretap_batch", 0.0)),
          "trace.overhead_s" -> (Stats.median(traced.map(_.wall)) - Stats.median(plain.map(_.wall))),
          "env.load_avg_start" -> loadStart,
          "env.load_avg_end" -> loadEnd,
          "env.calib_s" -> (calibStart + calibEnd) / 2,
          "env.steal_frac" -> stealFrac,
          "exec.jit_cpu_s" -> Stats.median(traced.map(_.jitCpu)),
          "write_s" -> writeS,
          "stored_ratio" -> storedRatio,
          "failed_frac" -> failedFrac)
    }
    a.get("spans").filter(_ => trace).foreach(path => writeSpans(path, traced))

    def passJson(p: Pass) = Map("wall_s" -> p.wall, "cpu_s" -> p.cpu, "jit_cpu_s" -> p.jitCpu, "steal_frac" -> p.stealFrac,
      "ops" -> p.ops.map(r => Map("name" -> r.name, "sec" -> r.sec, "error" -> r.error.orNull)))
    Map(
      "attempted" -> attempted,
      "failed" -> failed,
      "end_to_end" -> endToEnd,
      "per_layer" -> perLayer,
      "detail" -> Map(
        "workload" -> workload.describe,
        "setup_session_s" -> sessionS,
        "setup_before_warm_s" -> warmStartS,
        "warm_walls_s" -> warm.map(_.wall),
        "timed_walls_s" -> plain.map(_.wall),
        "traced_walls_s" -> traced.map(_.wall),
        "passes" -> timed.map(passJson),
        "env" -> Map(
          "nproc" -> Runtime.getRuntime.availableProcessors,
          "task_slots" -> cpus,
          "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576,
          "load_avg_start" -> loadStart, "load_avg_end" -> loadEnd,
          "calib_start_s" -> calibStart, "calib_end_s" -> calibEnd,
          "steal_frac" -> stealFrac,
          "spark_graft_conf" -> sys.env.getOrElse("SPARK_GRAFT_CONF", ""),
          "spark_graft_jvm_opts" -> sys.env.getOrElse("SPARK_GRAFT_JVM_OPTS", ""),
          "spark_version" -> spark.version)))
  }

  /** Spans of the traced passes: pass → op → job, with each op's self
    * time (its wall minus the union of its jobs). */
  private def writeSpans(path: String, passes: Seq[Pass]): Unit = {
    val spans = mutable.ArrayBuffer.empty[Map[String, Any]]
    passes.zipWithIndex.foreach { case (p, i) =>
      val passId = s"pass$i"
      spans += Map("id" -> passId, "name" -> "pass", "parent" -> null,
        "start" -> p.ops.head.start, "end" -> p.ops.last.end)
      p.ops.zipWithIndex.foreach { case (r, k) =>
        val opId = s"$passId.op$k"
        val mine = p.jobs.filter(j => j.op == r.name ||
          (j.op.isEmpty && j.start >= r.start && j.start < r.end))
        val owned = Layers.union(mine.map(j => (math.max(j.start, r.start), math.min(j.end, r.end)))
          .filter { case (s, e) => s < e })
        spans += Map("id" -> opId, "name" -> r.name, "parent" -> passId, "op_id" -> opId,
          "start" -> r.start, "end" -> r.end, "self_s" -> (r.sec - owned / 1e3))
        mine.foreach(j => spans += Map("id" -> s"job${j.id}", "name" -> s"job ${j.id}",
          "parent" -> opId, "op_id" -> opId, "start" -> j.start, "end" -> j.end))
      }
    }
    json.writeValue(new File(path), spans.toSeq)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted; val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else math.exp(xs.map(math.log).sum / xs.length)
}
