package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The deterministic CDR corpus definition — single-sourced between
  * [[ScaleGen.generateCdr]] (which writes it) and [[CdrWorkload]]
  * (which derives closed-form expected counts from the SAME residue
  * arithmetic): every field of every line is a function of the record
  * id, so `count(lines matching P)` is computable driver-side by
  * counting residues — the workload artifact carries a correctness
  * slice with ZERO oracle cost at any corpus size.
  *
  * Line shape mirrors the reference's record (IngestTest.java:105):
  * `<pri> ts {CGN-SETs}[USERu]: EVENT: proto p (NAME) application:
  * appN, ge-i/0/0.0:srcip:sport -> dstip:dport, deleting forward or
  * watch flow f ; source address and port translate to ip:xport` —
  * parseable by the `graft-cdr` V2 source's LinePattern (event names
  * are [A-Z0-9]+ tokens, the pattern's contract). The finder needle
  * `126.247.0.97` (RecordFinderMap.java:50's target) is planted as the
  * source IP of every id ≡ [[NeedleRem]] (mod [[NeedleMod]]). */
object CdrCorpus {
  val Events: Seq[String] = Seq("SFWDELETE", "SFWCREATE", "NATALLOC",
    "NATFREE", "ICMPDROP", "TCPRST", "SYNFLOOD", "PORTSCAN")
  val ProtoNames: Seq[String] = Seq("TELNET", "HTTP", "DNS", "SMTP",
    "SSH", "FTP", "NTP")
  val UserMod = 100000L
  val NeedleMod = 1000L
  val NeedleRem = 7L
  val NeedleIp = "126.247.0.97"

  /** The corpus as a one-column (`value`) DataFrame of `n` lines. */
  def lines(spark: SparkSession, n: Long, files: Int = 32): DataFrame = {
    val id = col("id")
    val eventArr = array(Events.map(lit): _*)
    val protoArr = array(ProtoNames.map(lit): _*)
    spark.range(0, n, 1, files).select(
      format_string(
        "<%d> 2012-06-13T00:25:02 {CGN-SET%d}[USER%d]: %s: proto %d (%s) " +
          "application: app%d, ge-%d/0/0.0:%s:%d -> 156.56.0.125:%d, " +
          "deleting forward or watch flow %d ; " +
          "source address and port translate to 156.56.0.126:%d",
        (id % 32).cast("int"),
        (id % 4).cast("int"),
        (id % UserMod).cast("long"),
        element_at(eventArr, (id % Events.size).cast("int") + 1),
        (id % 7).cast("int"),
        element_at(protoArr, (id % 7).cast("int") + 1),
        (id % 50).cast("int"),
        (id % 12).cast("int"),
        when(id % NeedleMod === NeedleRem, lit(NeedleIp))
          .otherwise(lit("156.56.0.124")),
        (lit(1024) + id % 60000).cast("int"),
        lit(19973),
        (id % UserMod).cast("int"),
        lit(19974)).as("value"))
  }

  /** #{ i in [0, n) : i % m == r  for all (m, r) } — exact, by counting
    * one lcm cycle (all mods here are ≤ 10⁵, lcm ≤ a few 10⁵). */
  def residueCount(n: Long, conds: Seq[(Long, Long)]): Long = {
    val l = conds.map(_._1).reduce { (a, b) =>
      val g = BigInt(a).gcd(BigInt(b)).toLong; a / g * b
    }
    require(l <= 10000000L, s"lcm too large to enumerate: $l")
    val hits = (0L until l).filter(r => conds.forall { case (m, q) => r % m == q })
    n / l * hits.size + hits.count(_ < n % l)
  }

  /** Σ id%7 over the matching ids — for the parse-agg's sum(proto). */
  def residueProtoSum(n: Long, conds: Seq[(Long, Long)]): Long = {
    val l = (conds.map(_._1) :+ 7L).reduce { (a, b) =>
      val g = BigInt(a).gcd(BigInt(b)).toLong; a / g * b
    }
    require(l <= 10000000L, s"lcm too large to enumerate: $l")
    val hits = (0L until l).filter(r => conds.forall { case (m, q) => r % m == q })
    n / l * hits.map(_ % 7).sum + hits.filter(_ < n % l).map(_ % 7).sum
  }
}

/** The reference's OWN workload at its OWN stated scale (round 14,
  * verdict item 3): hadoop-stuff's one described scenario is 10M ×
  * ~230 B CDR records (notes.txt) run through ingest, count, grep,
  * finder, encoded scan, parse, and the wiretap — graft's B-section
  * re-expressions had only toy-row gates until now. This main drives
  * each re-expression over a [[ScaleGen]] `--cdr` corpus and emits one
  * JSON line (written to `cdr_bench.json` too) with per-op wall time
  * (min of 2 timed passes after one untimed warm, Bench's discipline),
  * records/s, and the closed-form expected-vs-got correctness slice
  * [[CdrCorpus]] makes free.
  *
  * Usage: runMain graft.CdrWorkload <corpusDir> [workDir]
  * (env SPARK_GRAFT_CPUS honored; workDir holds the SeqFile twin). */
object CdrWorkload {
  def main(args: Array[String]): Unit = {
    val dir = if (args.length > 0) args(0) else "target/cdr10m"
    val work = if (args.length > 1) args(1) else dir + "-work"
    val spark = GraftSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.sparkContext.setLogLevel("WARN")
    try {
      val json = run(spark, dir, work)
      val w = new java.io.PrintWriter("cdr_bench.json")
      try w.println(json) finally w.close()
      println(json)
    } finally spark.stop()
  }

  /** One (op, seconds, expected, got) ledger entry; `expected == got`
    * is the correctness slice. `scanned` = records the op read (the
    * throughput denominator — matches, not scans, are in `got`). */
  private case class OpResult(name: String, sec: Double, expected: Long,
      got: Long, scanned: Long) {
    def ok: Boolean = expected == got
    def json: String =
      f""""$name":{"sec":$sec%.2f,"rec_per_sec":${(scanned / sec).toLong},""" +
        s""""expected":$expected,"got":$got,"ok":$ok}"""
  }

  def run(spark: SparkSession, dir: String, work: String): String = {
    import CdrCorpus._
    val n = spark.read.text(dir).count() // also the page-cache warm pass
    val bytes = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("part-")).map(_.length()).sum

    // min-of-2 after one untimed warm (Bench's rule: first touch is
    // JIT + codegen, not the operator)
    def timed(name: String, expected: Long, scanned: Long)(op: => Long): OpResult = {
      op
      val runs = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        val got = op
        ((System.nanoTime() - t0) / 1e9, got)
      }
      OpResult(name, runs.map(_._1).min, expected, runs.head._2, scanned)
    }

    val text = spark.read.text(dir)
    val v2 = spark.read.format("graft-cdr")
      .option("splitBytes", 64L * 1024 * 1024).load(dir)

    // r01: full record count — text scan and the V2 source must agree
    val cText = timed("count_text", n, n)(text.count())
    val cV2 = timed("count_v2", n, n)(v2.count())

    // r02/r03: distributed grep — regex over raw lines
    val grepPat = s"${Events(6)}: proto 3" // SYNFLOOD: proto 3
    val eGrep = residueCount(n, Seq(Events.size.toLong -> 6L, 7L -> 3L))
    val grep = timed("grep", eGrep, n)(
      text.filter(regexp_like(col("value"), lit(grepPat))).count())

    // r04: record finder — substring containment (the planted needle)
    val eFind = residueCount(n, Seq(NeedleMod -> NeedleRem))
    val find = timed("finder", eFind, n)(
      text.filter(col("value").contains(NeedleIp)).count())

    // r05: structured parse + aggregate through the V2 source —
    // per-event line counts and Σ proto, both closed-form
    val eParseLines = Events.indices.map(i =>
      residueCount(n, Seq(Events.size.toLong -> i.toLong))).sum
    val eProtoSum = residueProtoSum(n, Seq(1L -> 0L))
    val parse = timed("parse_agg", eParseLines, n) {
      // PARSED rows only: a line that fails LinePattern surfaces as a
      // count shortfall instead of hiding in the null-event group
      // (which would keep sum(n_lines) == n even on parse failures)
      val r = v2.filter(col("event").isNotNull).groupBy(col("event"))
        .agg(count(lit(1)).as("n_lines"), sum(col("proto")).as("sum_proto"))
        .agg(sum(col("n_lines")), sum(col("sum_proto"))).head()
      require(r.getLong(1) == eProtoSum,
        s"sum_proto mismatch: ${r.getLong(1)} != $eProtoSum")
      r.getLong(0)
    }

    // r06: base64+gzip codec round-trip + substring scan, full corpus
    val enc = timed("encoded_scan", n, n) {
      import graft.functions.{NativeFunctions => NF}
      text.withColumn("decoded", NF.gunzip64(NF.gzip64(col("value"))))
        .filter(col("decoded") === col("value")).count()
    }

    // SequenceFile compat: the reference's at-rest format round-trips a
    // 1M-record slice (write once, timed read back)
    val slice = 1000000L min n
    val seqPath = s"$work/seqfile"
    val fs = new org.apache.hadoop.fs.Path(seqPath)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(seqPath), true)
    val tw0 = System.nanoTime()
    sources.SeqFile.writeSequenceFile(
      CdrCorpus.lines(spark, slice, 32).select(col("value").as("line")),
      seqPath)
    val seqWriteSec = (System.nanoTime() - tw0) / 1e9
    val seqRead = timed("seqfile_read", slice, slice)(
      sources.SeqFile.readSequenceFile(spark, seqPath).count())

    // Wiretap: three subscribers' interests routed in one pass —
    // batch plan over the full corpus, then the STREAMING form over the
    // same files (availableNow-style drain), throughput recorded
    val tap = new streaming.Wiretap
    tap.register("grepper", grepPat)
    tap.register("ipfinder", NeedleIp.replace(".", "\\."))
    tap.register("userwatch", "\\[USER42\\]:")
    val eUser = residueCount(n, Seq(UserMod -> 42L))
    val eTap = eGrep + eFind + eUser
    val tapBatch = timed("wiretap_batch", eTap, n)(tap.route(text).count())
    val counts = new java.util.concurrent.atomic.AtomicLong
    val ts0 = System.nanoTime()
    val q = tap.routeDynamic(
      spark.readStream.option("maxFilesPerTrigger", 8).text(dir),
      b => counts.addAndGet(b.count()))
    q.processAllAvailable()
    q.stop()
    val tapStreamSec = (System.nanoTime() - ts0) / 1e9
    val tapStream = OpResult("wiretap_stream", tapStreamSec, eTap, counts.get(), n)

    val ops = Seq(cText, cV2, grep, find, parse, enc, seqRead, tapBatch,
      tapStream)
    val allOk = ops.forall(_.ok)
    s"""{"metric":"cdr_workload","records":$n,"bytes":$bytes,""" +
      s""""gb":${f"${bytes / 1073741824.0}%.2f"},""" +
      s""""cpus":${spark.sparkContext.defaultParallelism},""" +
      s""""seqfile_write_sec":${f"$seqWriteSec%.2f"},""" +
      s""""seqfile_slice":$slice,""" +
      s""""ops":{${ops.map(_.json).mkString(",")}},""" +
      s""""all_ok":$allOk}"""
  }
}
