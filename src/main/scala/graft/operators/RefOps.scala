package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Reference-surface operators (SURVEY §2.B) — the hadoop-stuff
  * capabilities re-expressed as declarative Spark plans.
  *
  * The reference runs these as hand-written MapReduce jobs over
  * gzip-compressed SequenceFile batches (RecordCount.java,
  * DistributedGrep.java, RecordFinderMap.java, SampleMapRed.java,
  * IngestTest.java). Here each is a scan→filter/project→agg plan:
  * decompression is the columnar reader's job, pattern predicates stay
  * inside whole-stage codegen, and counting is a partial-agg tree — the
  * map-side-combine the reference wires up manually (RecordCount.java:110
  * setCombinerClass) is what Catalyst emits for free.
  */
object RefOps {

  /** r01: per-source record counts — the reference's RecordCount job
    * (RecordCount.java:33-88) generalized over every table.
    *
    * Shipped plan: the METADATA path ([[r01RecordCountMeta]]) — parquet
    * footers already carry the exact record count (it is what the scan
    * planner and every engine's COUNT(*) fast path read), so counting
    * never needs to touch a data page. The scan-count form is kept as
    * [[r01RecordCountScan]] — the spec pins the two equal, and it is
    * the form for sources whose footers an engine cannot trust
    * (row-level deletes); this lake has none. */
  def r01RecordCount(spark: SparkSession, dir: String): DataFrame =
    r01RecordCountMeta(spark, dir)

  /** The naive form: one scan-agg job per table (10 jobs). Each is
    * columnar-pruned to zero columns, but at any scale it still opens
    * every row group, and at toy scale the 10 job floors dominate. */
  private[graft] def r01RecordCountScan(spark: SparkSession, dir: String): DataFrame =
    Tables.all.map { t =>
      Tables.byName(spark, dir, t).agg(count(lit(1)).as("n_records"))
        .select(lit(t).as("tbl"), col("n_records"))
    }.reduce(_ unionAll _).orderBy(col("tbl"))

  /** Metadata-only distributed count: list every table's leaf files
    * driver-side (the same O(#files) listing the scan planner performs),
    * then ONE job reads footers on executors — (table, file) pairs are
    * the distributed unit, so a 100 TB lake with millions of files
    * spreads footer I/O across the cluster instead of serializing it on
    * the driver ([[Tables.parquetRowCount]] is the driver-side sibling
    * for plan-build-time needs). One tiny shuffle (≤ #tables groups)
    * sums per-file counts; no data page is ever opened. */
  private[graft] def r01RecordCountMeta(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.hadoop.fs.Path
    val hconf = spark.sessionState.newHadoopConf()
    val files: Seq[(String, String)] = Tables.all.flatMap { t =>
      Tables.listing(spark, dir, t).files.map(f => (t, f.getPath.toString))
    }
    val bc = spark.sparkContext.broadcast(
      new graft.sources.cdr.SerializableHadoopConf(hconf))
    spark.createDataset(files)
      .repartition(math.max(1, math.min(files.size, 32)))
      .mapPartitions { it =>
        val conf = bc.value.value
        it.map { case (t, p) =>
          val in = org.apache.parquet.hadoop.util.HadoopInputFile
            .fromPath(new Path(p), conf)
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
          try (t, r.getRecordCount) finally r.close()
        }
      }
      .toDF("tbl", "n")
      .groupBy(col("tbl")).agg(sum(col("n")).as("n_records"))
      .orderBy(col("tbl"))
  }

  /** r02: distributed grep — DistributedGrep.java:36's regex scan
    * (`Pattern.compile(...)` + map-only job) as a pushed filter + rlike.
    * Map-only at any scale: no shuffle except the output ordering. */
  def r02DistributedGrep(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .filter(col("text").rlike("(fast|slow) (join|merge)"))
      .select(col("doc_id"), col("lang"), col("source"))
      .orderBy(col("doc_id"))

  /** Patterns for the multi-pattern grep (kept to syntax with identical
    * semantics in Java regex and RE2 so the oracle agrees). */
  val grepPatterns: Seq[String] = Seq(
    "spark", "window [a-z]+", "(fast|slow) (join|merge)", "zzz_never_matches")

  /** r03: match-count per pattern. The tiny pattern set is broadcast and
    * cross-joined against the corpus (documents is the 100 TB side; one
    * pass over it evaluates every pattern), then a 4-group aggregation.
    * sum(CASE) keeps zero-match patterns in the output. */
  def r03GrepCount(spark: SparkSession, dir: String): DataFrame = {
    val pats = spark.createDataFrame(
      grepPatterns.map(Tuple1.apply)).toDF("pattern")
    Tables.documents(spark, dir)
      .crossJoin(broadcast(pats))
      .groupBy(col("pattern"))
      .agg(sum(when(regexp_like(col("text"), col("pattern")), 1L)
        .otherwise(0L)).as("n_matches"))
      .orderBy(col("pattern"))
  }

  /** r04: record finder — RecordFinderMap.java:50's substring containment
    * scan (`nextToken.contains("126.247.0.97")`) over document text. */
  def r04RecordFinder(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .filter(col("text").contains("window") && col("text").contains("hash"))
      .select(col("doc_id"), col("n_chars"))
      .orderBy(col("doc_id"))

  /** r05: CDR line round-trip — IngestTest.java:112 writes syslog/CDR
    * lines (`<pri> ts {set}[user]: EVENT: proto n ...`); the wiretap greps
    * them back out. Here: format each event as a CDR line, then
    * regexp_extract the fields back and aggregate — proving the parse.
    * Both directions are codegen'd string expressions, no UDFs. */
  def r05CdrParse(spark: SparkSession, dir: String): DataFrame = {
    val lines = Tables.events(spark, dir).select(
      format_string("<%d> {CGN-SET%d}[USER%d]: %s: proto %d",
        pmod(col("event_id"), lit(32)).cast("int"),
        pmod(col("user_id"), lit(4)).cast("int"),
        col("user_id").cast("int"),
        upper(col("event_type")),
        pmod(col("event_id"), lit(7)).cast("int")).as("line"))
    lines
      .withColumn("user", regexp_extract(col("line"), "\\[USER(\\d+)\\]", 1).cast("long"))
      .withColumn("event", regexp_extract(col("line"), "\\]: ([A-Z]+):", 1))
      .withColumn("proto", regexp_extract(col("line"), "proto (\\d+)", 1).cast("long"))
      .groupBy(col("event"))
      .agg(countDistinct(col("user")).as("n_users"),
        sum(col("proto")).as("sum_proto"),
        count(lit(1)).as("n_lines"))
      .orderBy(col("event"))
  }

  /** r06: packed-record codec round-trip — SampleMapRed.java:35-45
    * decodes base64+gzip packed records before scanning them; here each
    * document is packed with the native [[graft.functions.Gzip64Expr]]
    * and unpacked with [[graft.functions.Gunzip64Expr]] in the same
    * plan, then substring-scanned like the reference's
    * `contains("Oleg and Tom")` check (SampleMapRed.java:30). The gate
    * proves the decode inverts the encode on every record (a broken
    * codec ≠ oracle counts); both codecs are codegen'd expressions, so
    * packing/unpacking 100 TB is map-side column work. */
  def r06EncodedScan(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.{NativeFunctions => NF}
    Tables.documents(spark, dir)
      .withColumn("decoded", NF.gunzip64(NF.gzip64(col("text"))))
      .agg(
        count(lit(1)).as("n_records"),
        sum(when(col("decoded") === col("text"), 1L).otherwise(0L)).as("n_roundtrip_ok"),
        sum(when(col("decoded").contains("window"), 1L).otherwise(0L)).as("n_matches"))
  }
}
