package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated testdata tables.
  *
  * Each table is a single parquet per scale-factor directory. At 100 TB
  * these would be multi-file partitioned datasets; nothing here assumes a
  * single file — `spark.read.parquet(dir)` works identically on a
  * directory of thousands of files, and every downstream operator relies
  * on Catalyst pushdown (filters + column pruning reach the scan) rather
  * than pre-materialized projections.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Tables with CONSTANT cardinality (region 5, nation 25) — the only
    * ones safe to broadcast-hint at any SF. customer/part/supplier grow
    * linearly with SF and must be left to AQE's cost-based choice. */
  val broadcastableDims: Set[String] = Set("region", "nation")

  /** A table as a DataFrame, read with the parquet schema Spark infers
    * for it.
    *
    * Inferring a parquet schema costs one Spark job (a footer read) per
    * `spark.read.parquet`, and every query builds its DataFrames through
    * here. So the inferred schema is memoized and later loads read with
    * `spark.read.schema(memo)`, which submits no job. A memo entry is
    * keyed on the table path and the session's schema-conversion confs
    * ([[SchemaConfs]]); it holds the fingerprint of the files it was
    * inferred from and is used only while the reader still lists those
    * files. A table rewritten in place is re-inferred on its next load.
    * The fingerprint is taken from the listing the reader builds anyway
    * (its file index), so a load lists the table once. The schema
    * itself always comes from Spark's own inference, never from a
    * hand conversion of footer schemas. */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val key = (path, SchemaConfs.map(spark.conf.getOption))
    schemaMemo.latest(key)
      .map { case (state, schema) => (state, spark.read.schema(schema).parquet(path)) }
      .collect { case (state, df) if readerState(df).contains(state) => df }
      .getOrElse {
        val df = spark.read.parquet(path)
        readerState(df).foreach(schemaMemo.getOrElseUpdate(key, _)(df.schema))
        df
      }
  }

  /** Session confs that change the schema Spark infers from the same
    * parquet files; part of every [[load]] memo key. */
  private val SchemaConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.caseSensitive")

  private val schemaMemo =
    new StateMemo[(String, Seq[Option[String]]), org.apache.spark.sql.types.StructType]

  /** Fingerprint of the files a parquet read's file index listed, or
    * None when the read is not a file-index relation. */
  private def readerState(df: DataFrame): Option[String] =
    fileIndexes(df).headOption.map(index => fingerprint(index.allFiles()))

  /** Total at-rest bytes of the one table `table` reads, summed from the
    * listing its file index already holds: no second listing, no footer
    * read, no job. Every size gate reads its table through here, from
    * the same DataFrame its query scans. Throws unless `table` reads
    * exactly one file relation, so a gate cannot silently sum a join. */
  def atRestBytes(table: DataFrame): Long =
    fileIndex(table, "atRestBytes").allFiles().map(_.getLen).sum

  /** The file index of the one file relation `table` reads; throws
    * naming `caller` when it reads none or several. */
  private def fileIndex(table: DataFrame, caller: String)
      : org.apache.spark.sql.execution.datasources.PartitioningAwareFileIndex =
    fileIndexes(table) match {
      case Seq(index) => index
      case found => throw new IllegalArgumentException(
        s"$caller needs a DataFrame that reads exactly one file relation; " +
          s"this one reads ${found.size}")
    }

  /** The file indexes of every file relation in `df`'s analyzed plan. */
  private def fileIndexes(df: DataFrame)
      : Seq[org.apache.spark.sql.execution.datasources.PartitioningAwareFileIndex] = {
    import org.apache.spark.sql.execution.datasources.{
      HadoopFsRelation, LogicalRelation, PartitioningAwareFileIndex}
    df.queryExecution.analyzed.collect { case r: LogicalRelation => r.relation }
      .collect { case h: HadoopFsRelation => h.location }
      .collect { case index: PartitioningAwareFileIndex => index }
  }

  /** One table state, as hex: path, length and modification time of
    * every leaf file, in path order, hashed. Rewriting a table in place
    * changes at least one of the three, so every memo here, and every
    * persisted index, keys its entries on this. */
  private def fingerprint(files: Seq[org.apache.hadoop.fs.FileStatus]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    files.map(f => s"${f.getPath}:${f.getLen}:${f.getModificationTime}").sorted
      .foreach { s => md.update(s.getBytes("UTF-8")); md.update(0.toByte) }
    md.digest().map(b => f"$b%02x").mkString
  }

  /** A memo of values derived from one table state: each key holds the
    * fingerprint its value was derived from, and a lookup with any
    * other fingerprint misses. Past [[MemoMaxEntries]] keys it starts
    * over; every value is one footer read or one inference job away. */
  private final class StateMemo[K, V] {
    private val entries = new java.util.concurrent.ConcurrentHashMap[K, (String, V)]()
    def latest(key: K): Option[(String, V)] = Option(entries.get(key))
    /** The value for `key` at `state`, derived at most once: concurrent
      * callers of one key wait for the first derivation. */
    def getOrElseUpdate(key: K, state: String)(value: => V): V = {
      if (entries.size >= MemoMaxEntries) entries.clear()
      entries.compute(key, (_, old) =>
        if (old != null && old._1 == state) old else (state, value))._2
    }
  }

  private val MemoMaxEntries = 64

  /** A table's leaf `.parquet` files from one driver listing, with the
    * Hadoop conf it was listed under — the input of every footer probe
    * below. */
  private[graft] final case class Listing(root: org.apache.hadoop.fs.Path,
      conf: org.apache.hadoop.conf.Configuration,
      files: Seq[org.apache.hadoop.fs.FileStatus])

  private[graft] def listing(spark: SparkSession, dir: String, name: String): Listing = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new org.apache.hadoop.fs.Path(s"$dir/$name.parquet")
    Listing(root, conf, leafParquetFiles(root.getFileSystem(conf), root))
  }

  /** Exact row count of a table from parquet FOOTER metadata only (the
    * same footer reads the scan planner performs), no data pages
    * touched. For operators that need the corpus size at plan-build
    * time (a sampling stride, autoNLists' ⌈√n⌉) without an eager
    * count() scan.
    *
    * Memoized per table state (one listing, no footer opens on a repeat
    * call). Up to [[FooterProbeMaxFiles]] leaf files the footers open
    * serially on the driver (~ms each); past that — the 10⁵-file shape
    * of a 100 TB table — the footer reads run as ONE executor job, so
    * the driver never serializes minutes of remote opens. A row count
    * has no conservative None answer, so it distributes instead of
    * capping. */
  def parquetRowCount(spark: SparkSession, dir: String, name: String): Long =
    parquetRowsAndState(spark, dir, name)._1

  /** [[parquetRowCount]] and the [[fingerprint]] of the table state it
    * counted, from one listing. */
  def parquetRowsAndState(spark: SparkSession, dir: String, name: String): (Long, String) = {
    val Listing(root, conf, files) = listing(spark, dir, name)
    val state = fingerprint(files)
    (rowCountMemo.getOrElseUpdate(root.toString, state)(
      if (files.length <= FooterProbeMaxFiles) {
        files.map { f =>
          val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(f, conf)
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
          try r.getRecordCount finally r.close()
        }.sum
      } else {
        import spark.implicits._
        val bc = spark.sparkContext.broadcast(
          new graft.sources.cdr.SerializableHadoopConf(conf))
        spark.createDataset(files.map(_.getPath.toString))
          .repartition(math.max(1, math.min(files.size / 64, 256)))
          .mapPartitions { it =>
            val c = bc.value.value
            it.map { p =>
              val in = org.apache.parquet.hadoop.util.HadoopInputFile
                .fromPath(new org.apache.hadoop.fs.Path(p), c)
              val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
              try r.getRecordCount finally r.close()
            }
          }.reduce(_ + _)
      }), state)
  }

  private val rowCountMemo = new StateMemo[String, Long]

  /** Footer-statistics (min, max) of an integer column across the
    * parquet files of the one table `table` reads, taken from the
    * listing its file index already holds (as [[atRestBytes]] does) —
    * driver-side, no data pages (the same footer the scan planner
    * reads). None when any row group lacks the statistic
    * (write-side stats disabled) — callers must treat None as
    * "unbounded" and take their conservative path. Plan-build-time
    * sizing signal (d19's packed-canonical bit budget).
    *
    * Driver-stall hygiene (this runs on every d19 plan construction):
    *  - MEMOIZED per (table root, column, table state); a rewritten
    *    table invalidates naturally.
    *  - SHORT-CIRCUITS on the first row group lacking the stat (the
    *    whole answer is already None — no reason to open the rest).
    *  - CAPPED at [[FooterProbeMaxFiles]] leaf files: a 100 TB table is
    *    ~10⁵+ files, and minutes of sequential remote footer opens to
    *    decide a one-exchange plan optimization is the wrong trade —
    *    past the cap, answer None (callers' conservative path) after
    *    only the listing. */
  def parquetLongColumnRange(table: DataFrame, column: String): Option[(Long, Long)] = {
    import scala.jdk.CollectionConverters._
    val index = fileIndex(table, "parquetLongColumnRange")
    val files = index.allFiles()
    if (files.length > FooterProbeMaxFiles) return None
    val conf = table.sparkSession.sessionState.newHadoopConf()
    columnRangeMemo.getOrElseUpdate((index.rootPaths.mkString(","), column), fingerprint(files)) {
      var lo = Long.MaxValue
      var hi = Long.MinValue
      var missing = false
      val it = files.iterator
      while (!missing && it.hasNext) {
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(it.next(), conf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try {
          val blocks = r.getFooter.getBlocks.asScala.iterator
          while (!missing && blocks.hasNext) {
            val range = blocks.next().getColumns.asScala
              .find(_.getPath.toDotString == column)
              .map(_.getStatistics)
              .filter(st => st != null && st.hasNonNullValue)
              .flatMap { st =>
                (st.genericGetMin, st.genericGetMax) match {
                  case (l: java.lang.Long, h: java.lang.Long) => Some((l.toLong, h.toLong))
                  case (l: java.lang.Integer, h: java.lang.Integer) => Some((l.toLong, h.toLong))
                  case _ => None
                }
              }
            range match {
              case Some((l, h)) => lo = math.min(lo, l); hi = math.max(hi, h)
              case None => missing = true
            }
          }
        } finally r.close()
      }
      if (missing || lo > hi) None else Some((lo, hi))
    }
  }

  /** Leaf-file cap past which [[parquetLongColumnRange]] answers None
    * from the listing alone instead of opening footers serially on the
    * driver. 1024 footers ≈ a second of local opens (fine); the 10⁵+
    * files of a 100 TB table would be minutes of driver stall. */
  val FooterProbeMaxFiles: Int = 1024

  private val columnRangeMemo = new StateMemo[(String, String), Option[(Long, Long)]]

  /** Leaf `.parquet` data files under a table root — the ONE
    * listing-and-filter rule behind [[listing]], so a future listing fix
    * (skipping `_temporary` dirs, following symlinks) lands in one place
    * for every footer probe. */
  private def leafParquetFiles(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.FileStatus] = {
    def leaves(st: org.apache.hadoop.fs.FileStatus): Seq[org.apache.hadoop.fs.FileStatus] =
      if (st.isDirectory) fs.listStatus(st.getPath).toSeq.flatMap(leaves)
      else Seq(st)
    leaves(fs.getFileStatus(root))
      .filter(_.getPath.getName.endsWith(".parquet"))
  }

  def region(s: SparkSession, d: String): DataFrame = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  /** The events table's `ts` column has shipped in two physical forms
    * across driver generations: TIMESTAMP(NANOS) (no native Spark type —
    * read as a raw long via the legacy conf, truncated ns→µs with integer
    * `div`, matching the Arrow/DuckDB nanos→micros downcast) and plain
    * TIMESTAMP(MICROS) (read natively as TIMESTAMP_NTZ). Normalize both
    * to session-local TIMESTAMP; every session here pins UTC, so the
    * NTZ→LTZ cast is value-identical and the oracle sees the same
    * instants either way. Dispatch on the *observed* schema so a future
    * regeneration in either form keeps working.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = load(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType => raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampType => raw
      // NTZ→LTZ is value-identical under the pinned-UTC sessions here.
      // Any OTHER physical form must fail fast: e.g. a numeric ts without
      // the nanos annotation would go through Spark's numeric→timestamp
      // cast, which scales by SECONDS — silently wrong instants.
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case other => throw new IllegalArgumentException(
        s"events.ts has unsupported physical type $other; " +
          "expected TIMESTAMP, TIMESTAMP_NTZ, or nanos-as-long")
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** Table-name dispatch that routes through the type-correcting loaders
    * (notably `events`' nanos→micros handling) rather than raw `load`. */
  def byName(s: SparkSession, d: String, name: String): DataFrame = name match {
    case "events" => events(s, d)
    case other    => load(s, d, other)
  }

  /** Register every table as a temp view — the SQL-first entry point:
    * after this, `spark.sql` reaches the whole catalog (plus the
    * graft_* native functions when GraftExtensions is active). */
  def registerAll(s: SparkSession, d: String): Unit =
    all.foreach(t => byName(s, d, t).createOrReplaceTempView(t))
}
