package graft.bench

import java.io.File

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** One timed operation. `prepare` runs untimed before each call (output
  * clean-up, state restore). `run` is the timed call into graft through
  * its action; it returns the untimed check, `None` when the output is
  * right and the reason otherwise. */
final case class Op(name: String, writes: Boolean, run: () => () => Option[String],
    prepare: () => Unit = () => ())

/** A workload: its fixed op mix, and after a pass the bytes it stored
  * per byte of user data it wrote (0 for read-only workloads). */
trait Workload {
  def ops: Seq[Op]
  def storedRatio: Double = 0.0
  def describe: Map[String, Any]
}

object Workloads {
  /** The `sql` op mix: four of the A-section queries, one per shape the
    * relational layers exercise — scan + aggregate (q01), join + top-k
    * (q03), size-gated broadcast joins (q05) and a `localCheckpoint` pin
    * (q31). q03 checks the lineitem size gate of its Bloom shed, but at
    * the benchmark's scale lineitem is far below the gate's 64 MiB, so
    * the shed itself never runs. A pass takes about 3–4 s on 4 cores,
    * short enough that one run times several passes. */
  val SqlQueries: Seq[String] = Seq("q01_pricing_summary", "q03_shipping_priority",
    "q05_local_supplier", "q31_important_parts")

  def dirBytes(path: String): Long = {
    val f = new File(path)
    if (!f.exists) 0L
    else FileUtils.listFiles(f, null, true).toArray(Array.empty[File])
      .filterNot(x => x.getName.startsWith(".") || x.getName.startsWith("_")).map(_.length).sum
  }

  def wipe(path: String): Unit = FileUtils.deleteDirectory(new File(path))

  def expect(what: String, want: Any, got: Any): Option[String] =
    if (want == got) None else Some(s"$what: expected $want, got $got")
}

/** `sql`: graft's relational queries over the star schema, each checked
  * against DuckDB's answer to the query's oracle SQL. The seed rotates
  * the query order. */
final class SqlWorkload(spark: SparkSession, data: String, expected: Map[String, String],
    seed: Long) extends Workload {
  private val names = {
    val k = Math.floorMod(seed, Workloads.SqlQueries.size.toLong).toInt
    Workloads.SqlQueries.drop(k) ++ Workloads.SqlQueries.take(k)
  }

  val ops: Seq[Op] = names.map { name =>
    val fn = graft.SparkEntry.queries(name)
    Op(name, writes = false, () => {
      val df = fn(spark, data)
      val rows = df.collect().toSeq
      () => Workloads.expect(name, expected(name), Canon.hash(df.columns.toSeq, rows))
    })
  }

  def describe: Map[String, Any] = Map("data" -> data, "order" -> names)
}

/** `cdr`: the reference's call-record scenario over `CdrCorpus` lines:
  * text and `graft-cdr` scans, regex and substring search, the gzip64
  * codec, ingest to parquet, the SequenceFile round trip and the
  * wiretap in batch and streaming form. Expected counts are closed-form
  * in the record count, which the seed varies. */
final class CdrWorkload(spark: SparkSession, work: String, n: Long) extends Workload {
  import graft.CdrCorpus._

  private val corpus = s"$work/corpus"
  private val ingestOut = s"$work/ingest"
  private val seqOut = s"$work/seqfile"
  private val files = 8
  graft.ScaleGen.generateCdr(spark, corpus, n, files)
  // fixed file names: ingest stores each line's source file name, and
  // Spark's per-write UUIDs would make the stored bytes differ by run
  new File(corpus).listFiles().filter(_.getName.startsWith("part-")).sortBy(_.getName)
    .zipWithIndex.foreach { case (f, i) => f.renameTo(new File(corpus, f"part-$i%05d.txt")) }
  private val rawBytes = Workloads.dirBytes(corpus)

  private val text = spark.read.text(corpus)
  private val v2 = spark.read.format("graft-cdr").load(corpus)
  private val grepPat = s"${Events(6)}: proto 3"
  private val eGrep = residueCount(n, Seq(Events.size.toLong -> 6L, 7L -> 3L))
  private val eFind = residueCount(n, Seq(NeedleMod -> NeedleRem))
  private val eProtoSum = residueProtoSum(n, Seq(1L -> 0L))
  private val eTap = eGrep + eFind + residueCount(n, Seq(UserMod -> 42L))
  private val tap = new graft.streaming.Wiretap
  tap.register("grepper", grepPat)
  tap.register("ipfinder", NeedleIp.replace(".", "\\."))
  tap.register("userwatch", "\\[USER42\\]:")

  private def counted(name: String, want: Long)(body: => Long): Op =
    Op(name, writes = false, () => { val got = body; () => Workloads.expect(name, want, got) })

  val ops: Seq[Op] = Seq(
    counted("count_text", n)(text.count()),
    counted("count_v2", n)(v2.count()),
    counted("grep", eGrep)(text.filter(regexp_like(col("value"), lit(grepPat))).count()),
    counted("finder", eFind)(text.filter(col("value").contains(NeedleIp)).count()),
    Op("parse_agg", writes = false, () => {
      val r = v2.filter(col("event").isNotNull).groupBy(col("event"))
        .agg(count(lit(1)).as("n_lines"), sum(col("proto")).as("sum_proto"))
        .agg(sum(col("n_lines")), sum(col("sum_proto"))).head()
      () => Workloads.expect("parse_agg lines", n, r.getLong(0))
        .orElse(Workloads.expect("parse_agg sum_proto", eProtoSum, r.getLong(1)))
    }),
    counted("encoded_scan", n) {
      import graft.functions.{NativeFunctions => NF}
      text.withColumn("decoded", NF.gunzip64(NF.gzip64(col("value"))))
        .filter(col("decoded") === col("value")).count()
    },
    Op("ingest", writes = true, () => {
      val got = graft.streaming.Ingest.ingestText(spark, corpus, ingestOut, "zstd")
      () => Workloads.expect("ingest", n, got)
    }, prepare = () => Workloads.wipe(ingestOut)),
    Op("seqfile_write", writes = true, () => {
      graft.sources.SeqFile.writeSequenceFile(text.select(col("value").as("line")), seqOut)
      () => if (new File(s"$seqOut/_SUCCESS").exists) None else Some("seqfile_write: no _SUCCESS")
    }, prepare = () => Workloads.wipe(seqOut)),
    counted("seqfile_read", n)(graft.sources.SeqFile.readSequenceFile(spark, seqOut).count()),
    counted("wiretap_batch", eTap)(tap.route(text).count()),
    counted("wiretap_drain", eTap) {
      val got = new java.util.concurrent.atomic.AtomicLong
      val q = tap.routeDynamic(spark.readStream.option("maxFilesPerTrigger", 2).text(corpus),
        b => got.addAndGet(b.count()))
      try q.processAllAvailable() finally q.stop()
      got.get
    })

  /** SeqFile + ingest output bytes over the raw line bytes each wrote. */
  override def storedRatio: Double =
    (Workloads.dirBytes(seqOut) + Workloads.dirBytes(ingestOut)).toDouble / (2.0 * rawBytes)

  def describe: Map[String, Any] = Map("records" -> n, "files" -> files, "raw_bytes" -> rawBytes)
}
