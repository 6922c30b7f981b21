package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic scale-up generator for the RELATIONAL gate (round 12):
  * replicates the TPC-H-ish star schema N× with key-space-shifted
  * replicas, so section A can be gated and benched at sf1 (~6M lineitem
  * rows) even though the driver testdata stops at sf0.1 — the regime
  * where AQE's broadcast-vs-shuffle decisions flip and exchange-reuse
  * regressions actually show.
  *
  * Replication discipline (ScaleProbe's rule, applied to a star
  * schema): every replica i shifts each FK/PK family by i × (max key +
  * 1), so replicas are disjoint, join cardinalities scale linearly, and
  * per-replica relational structure is IDENTICAL to the base — a
  * linear-shaped query should time ~N×, a broadcast-side dim stays a
  * dim. region/nation are the constant-cardinality dims (the
  * broadcastableDims contract) and are copied unshifted; documents/
  * embeddings are copied verbatim (the document operators have their
  * own ScaleProbe — this tool feeds the RELATIONAL gate). Timestamps
  * are read raw and never cast, so the parquet physical type (NTZ
  * micros) survives and the DuckDB oracle sees the same instants.
  *
  * The gate itself is unchanged: `graft.Verify <outDir> <dump> <A-ids>`
  * then `scripts/check.py <outDir> <dump> --present` — parity at sf1 is
  * the same hash compare as every other SF.
  *
  * Usage: runMain graft.ScaleGen [baseSfDir] [outDir] [replicas]
  *    or: runMain graft.ScaleGen --docs [baseSfDir] [outDir] [replicas]
  * (`--docs` scales the DOCUMENT tables instead — see [[generateDocs]]) */
object ScaleGen {
  def main(rawArgs: Array[String]): Unit = {
    val docs = rawArgs.contains("--docs")
    val cdr = rawArgs.contains("--cdr")
    val args = rawArgs.filterNot(a => a == "--docs" || a == "--cdr")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    if (cdr) {
      // --cdr <outDir> [nRecords]: the reference's OWN stated workload
      // (notes.txt: 10,000,000 flat ASCII records, ~230 B each) as a
      // deterministic corpus for graft.CdrWorkload — no base dir needed.
      val out = if (args.length > 0) args(0) else "target/cdr10m"
      val nRec = if (args.length > 1) args(1).toLong else 10000000L
      val spark = GraftSession(cpus)
      spark.sparkContext.setLogLevel("WARN")
      try generateCdr(spark, out, nRec) finally spark.stop()
      return
    }
    val base = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val out = if (args.length > 1) args(1)
      else if (docs) "target/docs4x" else "target/sf1"
    val n = if (args.length > 2) args(2).toInt else if (docs) 4 else 10
    require(n >= 1, s"replicas must be >= 1: $n")
    val spark = GraftSession(cpus)
    spark.sparkContext.setLogLevel("WARN")
    try {
      if (docs) generateDocs(spark, base, out, n)
      else generate(spark, base, out, n)
    } finally spark.stop()
  }

  /** `--docs` mode — the DOCUMENT sections' analog of the relational sf1
    * gate (round 12): replicates `documents`/`embeddings` N× so the
    * D/T/P/S/M sections can be oracle-gated and benched above the 5k-doc
    * ceiling the driver testdata stops at. Every other table is copied
    * verbatim (they are inputs to r01's catalog count and the relational
    * gate, which has its own sf1 generator above).
    *
    * Replication discipline (ScaleProbe's letter-prefix rule, adapted
    * for a CORRECTNESS gate rather than a timing probe):
    *  - documents: every non-whitespace token run of replica i is
    *    prefixed with a distinct letter via one capture-group
    *    regexp_replace — replicas are disjoint in token/shingle/band
    *    space (naive copies would make every doc an N-way exact dup and
    *    gate an N² pair pathology, not the operators), and UNLIKE the
    *    probe's split-and-rejoin this preserves the original whitespace
    *    byte-for-byte, so the newline-structured operators (paragraph
    *    dedup d15, line dedup t20/t24, repetition t11) keep their
    *    structure at scale instead of degenerating to one-line docs.
    *    n_chars is carried from the base row (the prefix lengthens text;
    *    both engines read the same written value, so parity is
    *    unaffected — only the column's "== length(text)" invariant is
    *    docs-mode-loose).
    *  - embeddings: replica i ROLLS the 64-dim float vector left by
    *    i mod dim (vec_id shifted like every other key). A coordinate
    *    permutation is orthogonal: all WITHIN-replica dot products — and
    *    therefore every near-dup/kNN/recall structure the S and D
    *    sections compute per replica — are exactly equal AS REAL SUMS
    *    (the multiset of addend products is unchanged; the roll rotates
    *    their summation ORDER, so float evaluation can differ from the
    *    base corpus in the last ulp — identically for both engines,
    *    which read the same rolled floats, so the gate compares like
    *    with like), while cross-replica pairs
    *    decorrelate instead of landing as exact duplicates in every LSH
    *    band. Verbatim vector copies (ScaleProbe's choice, right for a
    *    FIXED query set's timing) would instead plant an N-way exact-dup
    *    clique under d05/d12/s19.
    *
    * The gate run is the sf1 recipe unchanged: `graft.Verify <out> <dump>
    * <non-A ids>` then `scripts/check.py <out> <dump> --present`. */
  private[graft] def generateDocs(spark: SparkSession, base: String,
      out: String, n: Int): Unit = {
    // token-prefix disjointness across replicas: one letter per replica
    // up to 26 (byte-identical to every docs4x/docs16x artifact of
    // record); past 26 (r16, the docs64x rung) ALL replicas switch to a
    // two-letter prefix — still pairwise distinct, and a uniform width
    // within one corpus so per-token length shifts are replica-uniform.
    require(n >= 1 && n <= 676,
      s"docs replicas must be in [1, 676] (letter-prefix disjointness): $n")
    def raw(t: String): DataFrame = spark.read.parquet(s"$base/$t.parquet")
    def maxKey(t: String, c: String): Long = {
      val r = raw(t).agg(max(col(c).cast("long"))).head()
      require(!r.isNullAt(0),
        s"$base/$t.parquet: key column $c has no non-NULL values — " +
          "cannot derive a replication stride")
      r.getLong(0) + 1L
    }
    val docStride = maxKey("documents", "doc_id")
    val docsDf = raw("documents")
    (0 until n).map { i =>
      val ch =
        if (n <= 26) ('a' + i).toChar.toString
        else "" + ('a' + i / 26).toChar + ('a' + i % 26).toChar
      docsDf.select(
        (col("doc_id") + lit(i * docStride))
          .cast(docsDf.schema("doc_id").dataType).as("doc_id"),
        regexp_replace(col("text"), "(\\S+)", ch + "$1").as("text"),
        col("lang"), col("source"), col("n_chars"))
    }.reduce(_ union _)
      // one row group per core minimum (see replicate(): row groups are
      // the scan-split floor; a 4-replica union of single-file bases
      // would cap document scans at 4 tasks)
      .repartition(math.max(spark.sparkContext.defaultParallelism, n))
      .write.mode("overwrite").parquet(s"$out/documents.parquet")

    // vec_id lives in the DOCUMENT key space (`vec_id` = `doc_id` of an
    // embedded doc — the contract s20/s25/s22's doc-vector joins read),
    // so replicas shift by the DOCUMENT stride: replica i's vector for
    // base doc d must land on doc_id d + i*docStride, not on an
    // embeddings-local stride that would re-attach replica i's vectors
    // to replica 0's documents.
    val emb = raw("embeddings")
    (0 until n).map { i =>
      val dim = size(col("embedding"))
      val k = pmod(lit(i), dim)
      emb.select(
        (col("vec_id") + lit(i * docStride))
          .cast(emb.schema("vec_id").dataType).as("vec_id"),
        concat(slice(col("embedding"), k + lit(1), dim - k),
          slice(col("embedding"), lit(1), k))
          .cast(emb.schema("embedding").dataType).as("embedding"),
        col("label"))
    }.reduce(_ union _)
      .repartition(math.max(spark.sparkContext.defaultParallelism, n))
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")

    Tables.all.filterNot(Set("documents", "embeddings")).foreach { t =>
      raw(t).write.mode("overwrite").parquet(s"$out/$t.parquet")
    }
    println(s"SCALEGEN {" +
      s""""mode":"docs","base":"$base","out":"$out","replicas":$n,""" +
      s""""documents_rows":${spark.read.parquet(s"$out/documents.parquet").count()},""" +
      s""""embeddings_rows":${spark.read.parquet(s"$out/embeddings.parquet").count()}}""")
  }

  /** Strides derive from footer-cheap max-key aggregates of the BASE —
    * one tiny job per keyed table, then every replica is a map-side
    * projection; the whole generation is one write pass per table. */
  private[graft] def generate(spark: SparkSession, base: String,
      out: String, n: Int): Unit = {
    def raw(t: String): DataFrame = spark.read.parquet(s"$base/$t.parquet")
    def maxKey(t: String, c: String): Long = {
      val r = raw(t).agg(max(col(c).cast("long"))).head()
      // an empty table (or all-NULL key) has no stride to derive —
      // refuse with the table/column named, not a bare NPE
      require(!r.isNullAt(0),
        s"$base/$t.parquet: key column $c has no non-NULL values — " +
          "cannot derive a replication stride")
      r.getLong(0) + 1L
    }
    val custStride = maxKey("customer", "c_custkey")
    val suppStride = maxKey("supplier", "s_suppkey")
    val partStride = maxKey("part", "p_partkey")
    val orderStride = maxKey("orders", "o_orderkey")
    val eventStride = maxKey("events", "event_id")
    val userStride = maxKey("events", "user_id")

    def replicate(t: String, shifts: Map[String, Long]): Unit = {
      val df = raw(t)
      (0 until n).map { i =>
        df.select(df.columns.map { c =>
          shifts.get(c) match {
            // add on the ORIGINAL type's long view, cast back — replica
            // columns keep the base schema exactly (BIGINT keys stay
            // BIGINT, the oracle's int-width rules unchanged)
            case Some(stride) => (col(c) + lit(i * stride)).cast(
              df.schema(c).dataType).as(c)
            case None => col(c)
          }
        }: _*)
      }.reduce(_ union _)
        // ≥ one file per core: the base tables are single parquet files,
        // so a plain union writes n files = n unsplittable row groups —
        // at n=10 (sf1) that caps every downstream scan at 10 tasks no
        // matter how maxPartitionBytes is sized (a row group is the
        // split floor). Row distribution, not content, changes.
        .repartition(math.max(spark.sparkContext.defaultParallelism, n))
        .write.mode("overwrite").parquet(s"$out/$t.parquet")
    }

    // constant dims + document tables: verbatim copies
    Seq("region", "nation", "documents", "embeddings").foreach { t =>
      raw(t).write.mode("overwrite").parquet(s"$out/$t.parquet")
    }
    replicate("customer", Map("c_custkey" -> custStride))
    replicate("supplier", Map("s_suppkey" -> suppStride))
    replicate("part", Map("p_partkey" -> partStride))
    replicate("orders", Map(
      "o_orderkey" -> orderStride, "o_custkey" -> custStride))
    replicate("lineitem", Map(
      "l_orderkey" -> orderStride, "l_partkey" -> partStride,
      "l_suppkey" -> suppStride))
    replicate("events", Map(
      "event_id" -> eventStride, "user_id" -> userStride))
    println(s"SCALEGEN {" +
      s""""base":"$base","out":"$out","replicas":$n,""" +
      s""""lineitem_rows":${spark.read.parquet(s"$out/lineitem.parquet").count()}}""")
  }

  /** `--cdr` mode — the reference's stated workload (notes.txt: 10M
    * flat ASCII CDR records, ~230 B/rec; record shape
    * IngestTest.java:105) as a DETERMINISTIC text corpus: every field
    * is residue arithmetic on the record id (see [[CdrCorpus]]), so
    * grep/finder/parse results have closed-form expected counts and
    * the workload artifact carries its own correctness slice. */
  def generateCdr(spark: SparkSession, out: String, n: Long,
      files: Int = 32): Unit = {
    CdrCorpus.lines(spark, n, files).write.mode("overwrite").text(out)
    val bytes = new java.io.File(out).listFiles()
      .filter(_.getName.startsWith("part-")).map(_.length()).sum
    println(s"""SCALEGEN {"mode":"cdr","out":"$out","records":$n,""" +
      s""""files":$files,"bytes":$bytes,""" +
      s""""avg_bytes_per_rec":${bytes / math.max(n, 1)}}""")
  }
}
