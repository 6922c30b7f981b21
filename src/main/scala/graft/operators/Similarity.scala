package graft.operators

import graft.Tables
import graft.functions.{VectorFunctions => VF, VectorSql => VS}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SURVEY §2.E — similarity search over the embeddings table.
  *
  * The query set is the small side and is broadcast; the 100 TB embedding
  * corpus is only ever scanned map-side (score) and shuffled once (the
  * per-query top-k window on query_id — k·|queries| rows per partition,
  * sort-based and spill-safe). s01 is the exact baseline; s02 is the ANN
  * scale path where a 256-bucket sign-LSH equi-join replaces the full
  * scan per query. Cosine ordering uses round(cos, 6) with id tie-breaks
  * so ranking is deterministic across engines (SURVEY §6).
  */
object Similarity {

  /** Fixed query set: the first 8 vectors. */
  val NumQueries = 8

  /** Default sign-LSH width for the ANN path (2^bits buckets). A KNOB,
    * not a constant: per the sizing rule on
    * [[graft.functions.VectorFunctions.signBucket]], bits must grow with
    * the corpus (≈ log2(n/c) for a target per-bucket candidate set c) —
    * a 100 TB corpus wants 20+.
    *
    * Measured on sf0.1 (AnnTune sweep; recall@3 vs exact / candidate
    * rows out of 16k scored pairs): 8 bits no-probe 0.000/71,
    * 8 bits probed 0.125/566, 10 bits probed 0.042/186, 12 bits probed
    * 0.042/53. The default is the recall-BEST sweep point (8 bits +
    * probe): recall is the metric an ANN deployment is graded on, and
    * its candidate volume (566 of 16k scorable pairs, 3.5%) still keeps
    * the 2^bits scan reduction that motivates the operator — a
    * candidate-volume-first caller can pass bits=10|12 explicitly for
    * 3× fewer candidates at 3× lower recall. The absolute numbers are
    * honest-low BY CONSTRUCTION of the audit: these queries' true top-3
    * sit at cosine ≈ 0.4 (θ≈66°), where each hyperplane disagrees with
    * p≈θ/π≈0.37 and single-table LSH keeps P[all bits agree] ≈
    * 0.63^bits — s04 exists to surface exactly this, and the
    * remediation knobs are fewer bits, more probes, or multiple hash
    * tables. */
  val AnnSignBits = 8

  /** Multi-probe default: probe the query's own bucket plus every
    * flip-1-bit neighbor bucket (bits+1 probes/query). Lifts recall at
    * an UNCHANGED join shape — the corpus side is never replicated, the
    * query side (tiny, broadcast) grows by ×(bits+1). */
  val AnnMultiProbe = true

  /** Rank the (tiny, ≤ k·|queries|-row) top-k result — the heap operator
    * emits membership unordered; this window touches only survivors. */
  private def ranked(top: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(round(col("cos"), 6).desc, col("neighbor_id"))
    top.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("rk").cast("long").as("rk"),
        col("neighbor_id"), round(col("cos"), 4).as("cosine"))
      .orderBy("query_id", "rk")
  }

  /** s01: brute-force exact top-5 cosine neighbors per query. Top-k runs
    * through the custom partial/final heap operator
    * ([[graft.plans.TopKPerGroup]]): the scored 100 TB side is reduced
    * map-side to ≤ k rows per query per partition before the only
    * shuffle — the window-rank idiom would shuffle and SORT every scored
    * row instead. */
  def s01KnnBrute(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val q = e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val scored = e.select(col("vec_id").as("neighbor_id"), col("embedding").as("cv"))
      .crossJoin(broadcast(q))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cos", VF.cosine(col("qv"), col("cv")))
    ranked(graft.plans.TopK.perGroup(scored, Seq(col("query_id")),
      Seq(round(col("cos"), 6).desc, col("neighbor_id").asc), 5), 5)
  }

  /** s02: ANN — candidates restricted to the query's sign-LSH bucket
    * (equi-join on bucket id, linear shuffle), exact cosine + top-3
    * within bucket only. Recall trades against the 2^bits× scan
    * reduction; `bits` and multi-probe are the tuning knobs — both leave
    * the join shape (corpus never replicated, bucket equi-join, heap
    * top-k) unchanged. With multi-probe the query side expands to the
    * home bucket plus each flip-1-bit bucket; a corpus vector lives in
    * exactly one bucket, so probe buckets never produce duplicate
    * (query, neighbor) pairs and no DISTINCT is needed. */
  def s02AnnLsh(spark: SparkSession, dir: String): DataFrame =
    s02AnnLsh(spark, dir, AnnSignBits, AnnMultiProbe)

  /** Flip-1-bit multi-probe expansion — THE probe arithmetic, single-
    * sourced for s02/s05/[[s06RangeSearchAnn]]: each query row explodes
    * to its home bucket (pi=0) plus every single-bit-flipped bucket.
    * Expansion is on the (tiny, broadcast) query side only. */
  private def multiProbed(q: DataFrame, bits: Int): DataFrame =
    q.withColumn("pi", explode(sequence(lit(0), lit(bits))))
      .withColumn("bucket", when(col("pi") === 0, col("bucket"))
        .otherwise(col("bucket").bitwiseXOR(pow(2.0, col("pi") - 1).cast("long"))))
      .drop("pi")

  def s02AnnLsh(spark: SparkSession, dir: String, bits: Int,
      multiProbe: Boolean): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .withColumn("bucket", VF.signBucket(col("embedding"), bits))
    val q0 = e.filter(col("vec_id") < NumQueries)
      .select(col("bucket"), col("vec_id").as("query_id"), col("embedding").as("qv"))
    val q = if (!multiProbe) q0 else multiProbed(q0, bits)
    val scored = e.select(col("bucket"), col("vec_id").as("neighbor_id"), col("embedding").as("cv"))
      .join(broadcast(q), Seq("bucket"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cos", VF.cosine(col("qv"), col("cv")))
    ranked(graft.plans.TopK.perGroup(scored, Seq(col("query_id")),
      Seq(round(col("cos"), 6).desc, col("neighbor_id").asc), 3), 3)
  }

  /** s03: IVF ANN — the centroid-quantizer scale path. A coarse KMeans
    * (fixed seed) partitions the corpus into inverted lists; each query
    * probes its `nprobe` nearest centroids and exact-rescans only those
    * lists (here 2/16 of the corpus, with the same heap top-k as s01).
    * At 100 TB: fit on a sample, broadcast the (tiny) centroid set, and
    * list assignment is one map-side pass — the probe join shuffles by
    * list id exactly like the LSH bucket join. Not DuckDB-expressible
    * (KMeans), so rows-only in the gate; invariants are spec-pinned.
    *
    * `nLists` is a knob with the same sizing rule as the LSH bucket
    * count: per-list size is n/nLists and the centroid table must stay
    * broadcastable, so nLists ≈ √n balances the two (the classic IVF
    * rule) — which is what the no-knob entry now derives from the
    * parquet footers ([[autoNLists]], round 12); a 100 TB corpus lands
    * at 10⁵–10⁶ and past [[MaxAutoLists]] the two-level s12 is the
    * documented path. */
  def s03AnnIvf(spark: SparkSession, dir: String): DataFrame =
    s03AnnIvf(spark, dir, nLists = autoNLists(spark, dir), nProbe = 2)

  /** Footer-driven IVF sizing (round 12 — d19's footer-knob precedent
    * applied to the one remaining manual scale decision): the classic
    * nLists ≈ ⌈√n⌉ balance between per-list population (n/nLists rows
    * exact-rescanned per probe) and centroid-table broadcastability
    * (nLists·d floats), derived from parquet FOOTER row counts — a
    * driver-side metadata pass, no Spark job (memoized per listing
    * fingerprint inside [[Tables.parquetRowCount]]'s family). Every
    * no-knob corpus-dir entry point (s03/s10/s12/s19b/s21/s22, d12b)
    * routes through this, so the s19b graph BUILD is n·√n by default
    * instead of n²/16; explicit-knob overloads are unchanged — test
    * fixtures and ScaleProbe pin their knob where a fixed denominator
    * is the point. Clamped to [[MaxAutoLists]]: past that a single
    * coarse level shouldn't grow further (fit-sample and broadcast
    * bounds — see s12's two-level design for why). */
  def autoNLists(spark: SparkSession, dir: String): Int = {
    val n = Tables.parquetRowCount(spark, dir, "embeddings")
    math.min(MaxAutoLists, math.max(1, math.ceil(math.sqrt(n.toDouble)).toInt))
  }

  /** Single-level auto-size ceiling: 2¹⁶ lists × 768 dims × 4 B ≈
    * 200 MB of centroids is the edge of comfortable broadcast; corpora
    * past n ≈ 4×10⁹ (where √n exceeds this) use [[s12AnnIvf2]]'s
    * two-level quantizer, whose per-query and fit costs stay √nLists. */
  val MaxAutoLists: Int = 1 << 16

  def s03AnnIvf(spark: SparkSession, dir: String, nLists: Int,
      nProbe: Int): DataFrame = {
    val (assigned, centDf) = s03Index(spark, dir, nLists)
    val scored = assigned.select(col("list_id"), col("vec_id").as("neighbor_id"),
        col("embedding").as("cv"))
      .join(broadcast(ivfProbes(assigned, centDf, nProbe)), Seq("list_id"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cos", VF.cosine(col("qv"), col("cv")))
    ranked(graft.plans.TopK.perGroup(scored, Seq(col("query_id")),
      Seq(round(col("cos"), 6).desc, col("neighbor_id").asc), 3), 3)
  }

  /** Probe lists: nProbe nearest centroids per query (tiny: queries×k) —
    * the candidate-list selection shared by s03 and the s10 IVF-PQ
    * composition (single-sourcing rule: one probe definition). */
  private[graft] def ivfProbes(assigned: DataFrame, centDf: DataFrame,
      nProbe: Int): DataFrame = {
    val sqDist = aggregate(
      zip_with(col("qv"), col("centroid"),
        (x, y) => (x.cast("double") - y.cast("double")) * (x.cast("double") - y.cast("double"))),
      lit(0.0), (acc, v) => acc + v)
    val probeW = Window.partitionBy(col("query_id")).orderBy(col("dist").asc, col("list_id"))
    assigned.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      .crossJoin(broadcast(centDf))
      .withColumn("dist", sqDist)
      .withColumn("pr", row_number().over(probeW))
      .filter(col("pr") <= nProbe)
      .select(col("list_id"), col("query_id"), col("qv"))
  }

  /** s03's PERSISTED index: (assigned corpus, centroid table). On first
    * use for a (corpus dir, nLists, row count) key the coarse quantizer
    * is fit — on a bounded deterministic sample (at 100 TB you never run
    * KMeans over the full corpus; centroid quality saturates at a few
    * thousand points per list; systematic vec_id stride keeps the sample
    * and hence the result deterministic; corpus size from parquet FOOTER
    * metadata, not an eager count() job) — the corpus is assigned once,
    * and BOTH tables are written under the warehouse ([[ivfIndexPath]]).
    * Every later invocation (s03, the s07 audit, repeated query batches)
    * READS the index instead of refitting: that is what an IVF
    * deployment at 100 TB does — the index is a table, not a per-query
    * computation. The fit is seed-fixed and sample-deterministic, so
    * index-served results are identical to fresh-fit results
    * (spec-pinned). */
  private[graft] def s03Index(spark: SparkSession, dir: String,
      nLists: Int): (DataFrame, DataFrame) = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val maxFit = 4096
    val n = Tables.parquetRowCount(spark, dir, "embeddings")
    val path = ivfIndexPath(spark, dir, "s03", nLists, n)
    if (!ivfExists(spark, path)) {
      val e = Tables.embeddings(spark, dir)
        .withColumn("features", array_to_vector(col("embedding")))
      val stride = math.max(1L, n / maxFit)
      // cached: KMeans re-scans its input per iteration — without this
      // the full parquet is re-read 5x before the index is even built
      val fitSample = e.filter(pmod(col("vec_id"), lit(stride)) === 0)
        .select(col("features")).cache()
      val model = try new KMeans().setK(nLists).setSeed(42).setMaxIter(5)
        .fit(fitSample) finally fitSample.unpersist(false)
      val assigned = model.transform(e)
        .select(col("vec_id"), col("embedding"), col("prediction").as("list_id"))
      val centDf = spark.createDataFrame(
        model.clusterCenters.toIndexedSeq.zipWithIndex.map { case (c, i) =>
          (i, c.toArray.map(_.toFloat))
        }).toDF("list_id", "centroid")
      publishIndex(spark, path) { tmp =>
        // clustered by list: members of a probed list are contiguous at
        // rest — the layout a real IVF serves scans from
        assigned.repartition(col("list_id")).write.parquet(tmp + "/assigned")
        centDf.coalesce(1).write.parquet(tmp + "/centroids")
      }
    }
    (spark.read.parquet(path + "/assigned"),
      spark.read.parquet(path + "/centroids"))
  }

  // ───────────────────── persisted IVF index plumbing ──────────────────

  /** Root for persisted IVF indexes, under the session warehouse. */
  private def ivfRoot(spark: SparkSession): String =
    spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
      .stripPrefix("file:") + "/graft_ivf"

  /** Cheap content fingerprint of the corpus behind every persisted
    * index here (all families — s03/s06/d13/pq/ivfpq — fit from the
    * embeddings table): a hash of the sorted (name, length, mtime)
    * parquet file listing. One FS listStatus per key computation — a
    * single NameNode RPC at scale, no data read. An in-place corpus
    * regeneration changes file mtimes (and almost always lengths), so
    * the key changes and the index rebuilds instead of silently serving
    * stale contents. */
  private[graft] def corpusFingerprint(spark: SparkSession, dir: String): String =
    try {
      val p = new org.apache.hadoop.fs.Path(dir + "/embeddings.parquet")
      val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
      val listing = fs.listStatus(p).filter(_.isFile)
        .map(s => (s.getPath.getName, s.getLen, s.getModificationTime))
        .sortBy(_._1).mkString("|")
      java.security.MessageDigest.getInstance("MD5")
        .digest(listing.getBytes("UTF-8"))
        .take(4).map(b => f"${b & 0xff}%02x").mkString
    } catch { case _: java.io.IOException => "0" }

  /** Identity key of a persisted index: corpus dir, family tag, list
    * count, corpus ROW COUNT, and a CONTENT fingerprint of the source
    * parquet files ([[corpusFingerprint]]) — a regenerated corpus (even
    * at equal cardinality: new seed, generator change) can never be
    * served a stale index. [[dropIvfIndex]] remains the explicit hook. */
  private[graft] def ivfIndexPath(spark: SparkSession, dir: String,
      tag: String, nLists: Int, n: Long): String =
    s"${ivfRoot(spark)}/${tag}_${dir.replaceAll("[^A-Za-z0-9._-]", "_")}" +
      s"_n${n}_k${nLists}_f${corpusFingerprint(spark, dir)}"

  private def ivfExists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p)
  }

  /** Crash-safe publish (Compaction's rename-swap rule): tables are
    * written under a fresh tmp dir and RENAMED into place, so readers
    * only ever see a complete index. A concurrent builder that loses the
    * rename race deletes its tmp and reads the winner — harmless, since
    * the fit is deterministic and both indexes are identical.
    *
    * LocalFS caveats this handles (HDFS rename is atomic and needs
    * none of it): RawLocalFileSystem.rename onto an EXISTING dst falls
    * back to FileUtil.copy, which would copy the loser's tmp INTO the
    * published index as a stray child instead of returning false — so
    * the rename is only attempted when dst is absent, any stray child
    * is removed after, and tmp is deleted unconditionally in a finally
    * (also covering a crashed write()). Leftover `.tmp-*` siblings from
    * builders that died before their finally, and stale-fingerprint
    * siblings of this index (superseded corpus generations,
    * [[corpusFingerprint]]), are swept on every successful publish. */
  private def publishIndex(spark: SparkSession, path: String)
      (write: String => Unit): Unit = {
    val dst = new org.apache.hadoop.fs.Path(path)
    val fs = dst.getFileSystem(spark.sessionState.newHadoopConf())
    fs.mkdirs(dst.getParent)
    val tmp = new org.apache.hadoop.fs.Path(path + s".tmp-${System.nanoTime()}")
    try {
      write(tmp.toString)
      if (!fs.exists(dst)) fs.rename(tmp, dst)
      val stray = new org.apache.hadoop.fs.Path(dst, tmp.getName)
      if (fs.exists(stray)) fs.delete(stray, true)
    } finally {
      if (fs.exists(tmp)) fs.delete(tmp, true)
    }
    val stem = java.util.regex.Pattern.quote(
      dst.getName.replaceAll("_f[0-9a-f]+$", ""))
    val keep = dst.getName
    fs.listStatus(dst.getParent).map(_.getPath)
      .filter { p =>
        val nm = p.getName
        nm != keep &&
          (nm.matches(s"$stem(_f[0-9a-f]+)?\\.tmp-\\d+") ||
            nm.matches(s"${stem}_f[0-9a-f]+"))
      }
      .foreach(fs.delete(_, true))
  }

  /** Drop one persisted index (test/regeneration hook). */
  private[graft] def dropIvfIndex(spark: SparkSession, dir: String,
      tag: String, nLists: Int, n: Long): Unit = {
    val p = new org.apache.hadoop.fs.Path(ivfIndexPath(spark, dir, tag, nLists, n))
    p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
  }

  /** Offline coarse-quantizer REFIT — the consumer of stream_vecindex's
    * drift signal. When streamed arrivals concentrate where the frozen
    * quantizer has little resolution (`StreamVecIndex.refitDecision`),
    * the remedy is exactly the batch build run again over base corpus ∪
    * arrivals: same deterministic stride fit ([[s03Index]]'s rule, one
    * stride over the union), same clustered-by-list layout, published
    * through the same crash-safe [[publishIndex]] rename under its own
    * family tag (`s03refit`) keyed by the COMBINED row count — so a
    * later refit over more arrivals gets a fresh key and the sweep
    * deletes the superseded generation. At 100 TB this is the scheduled
    * offline job the drift threshold triggers; the streamed version dirs
    * it absorbed are then compacted away by the caller
    * (`StreamVecIndex.maybeRefit`). */
  private[graft] def refitIndex(spark: SparkSession, dir: String,
      streamed: DataFrame, nLists: Int): (DataFrame, DataFrame) = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val base = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
    // Dedup by vec_id: re-absorbing arrivals that a crashed prior refit
    // already published (maybeRefit's publish→compact window) must be
    // idempotent — a union that kept both copies would double-count
    // them in every later rebuild. The survivor is chosen
    // DETERMINISTICALLY: the ARRIVAL wins (update semantics) — a plain
    // dropDuplicates would pick whichever copy scan order surfaced
    // first, making the fit sample and served embedding run-varying
    // when an arrival revises an existing vec_id. Ordering by pri alone
    // is still scan-order-dependent when the ARRIVALS batch itself
    // carries a duplicated vec_id (both copies have pri=1) — the
    // content hash breaks that tie deterministically, so duplicate
    // arrival ids resolve identically on every run (identical payloads
    // tie only on identical content, where either survivor is the same
    // row).
    val union = base
      .select(col("vec_id"), col("embedding"), lit(0).as("pri"))
      .unionByName(streamed
        .select(col("vec_id"), col("embedding"), lit(1).as("pri")))
      .groupBy(col("vec_id"))
      .agg(max_by(col("embedding"),
        struct(col("pri"), xxhash64(col("embedding")))).as("embedding"))
    // The base corpus is covered by ivfIndexPath's corpusFingerprint,
    // but the ARRIVALS are not — two different equal-sized arrival sets
    // would otherwise share a key and the second refit would silently
    // serve (and then compact away) the first's index, losing vectors.
    // One order-independent content hash over the streamed rows closes
    // it; arrivals are stream-sized, never corpus-sized.
    // decimal(38,0) sum: order-independent AND overflow-free under ANSI
    // (a plain Long sum of 64-bit hashes overflows after two rows)
    val arrivalsFp = streamed
      .agg(sum(xxhash64(col("vec_id"), col("embedding"))
        .cast("decimal(38,0)")).as("fp"))
      .first() match {
        case r if r.isNullAt(0) => "empty"
        case r => r.getDecimal(0).toBigInteger.toString(16)
          .replace("-", "m")
      }
    val n = Tables.parquetRowCount(spark, dir, "embeddings") +
      streamed.count()
    val path = ivfIndexPath(spark, dir, s"s03refit-a$arrivalsFp", nLists, n)
    val freshBuild = !ivfExists(spark, path)
    if (freshBuild) {
      val stride = math.max(1L, n / 4096)
      val fitSample = union
        .filter(pmod(col("vec_id"), lit(stride)) === 0)
        .select(array_to_vector(col("embedding")).as("features")).cache()
      val model = try new KMeans().setK(nLists).setSeed(42).setMaxIter(5)
        .fit(fitSample) finally fitSample.unpersist(false)
      val assigned = model.transform(
          union.withColumn("features", array_to_vector(col("embedding"))))
        .select(col("vec_id"), col("embedding"), col("prediction").as("list_id"))
      val centDf = spark.createDataFrame(
        model.clusterCenters.toIndexedSeq.zipWithIndex.map { case (c, i) =>
          (i, c.toArray.map(_.toFloat))
        }).toDF("list_id", "centroid")
      publishIndex(spark, path) { tmp =>
        assigned.repartition(col("list_id")).write.parquet(tmp + "/assigned")
        centDf.coalesce(1).write.parquet(tmp + "/centroids")
      }
    }
    // Sweep SUPERSEDED refit generations for this corpus + nLists: each
    // refit's key embeds its arrival-set content hash, so an earlier
    // generation's path is unreachable once a newer refit absorbs more
    // arrivals — left behind it only leaks disk (publishIndex's
    // stale-sibling sweep can't see it: the stems differ). The match is
    // FULLY ANCHORED — family prefix, THIS dir tag (immediately
    // followed by the _n segment, so a sibling corpus whose sanitized
    // dir merely extends this one can never match), THIS nLists, and a
    // terminal fingerprint (in-flight `.tmp-*` builds never match).
    // Runs UNCONDITIONALLY (a crash between publish and sweep would
    // otherwise leak the old generation forever behind the cache hit),
    // in the caller's stream-quiet window (maybeRefit's contract) — but
    // deletes only generations STRICTLY OLDER (by directory mtime) than
    // this call's own: a concurrent refit in another session carries a
    // different arrival hash and hence a different name, and an
    // mtime-unordered delete could reap its just-published live index
    // between its publish and its trailing read. Older-only keeps the
    // crash-leak cleanup (a superseded generation always predates its
    // successor) while never touching a sibling that published after
    // us; equal-mtime siblings survive (leak-not-delete is the safe
    // direction on coarse-granularity filesystems).
    locally {
      val dst = new org.apache.hadoop.fs.Path(path)
      val fs = dst.getFileSystem(spark.sessionState.newHadoopConf())
      val dirTag = java.util.regex.Pattern.quote(
        dir.replaceAll("[^A-Za-z0-9._-]", "_"))
      // [0-9a-z]+ covers hex digits, the negative-sum 'm' prefix, AND
      // the "empty"-arrivals sentinel — a narrower class would leave
      // empty-arrival generations unsweepable forever
      val gen = ("^s03refit-a[0-9a-z]+_" + dirTag +
        s"_n\\d+_k$nLists" + "_f[0-9a-f]+$").r
      if (fs.exists(dst.getParent)) {
        val dstMtime = fs.getFileStatus(dst).getModificationTime
        fs.listStatus(dst.getParent)
          .filter(st => st.getPath.getName != dst.getName &&
            gen.findFirstIn(st.getPath.getName).isDefined &&
            st.getModificationTime < dstMtime)
          .foreach(st => fs.delete(st.getPath, true))
      }
    }
    (spark.read.parquet(path + "/assigned"),
      spark.read.parquet(path + "/centroids"))
  }

  // ───────────── two-level coarse quantizer (distributed fit) ──────────

  /** s12: the 100 TB answer to "nLists ≈ √n exceeds any driver-bounded
    * fit sample". A single-level IVF at n = 10¹¹ wants nLists ≈ 10⁵–10⁶
    * centroids — more centroids than a 4096-point driver sample has
    * POINTS, and a driver Lloyd pass at that k is infeasible anyway. The
    * classic fix (IMI/hierarchical IVF) splits the quantizer into two
    * levels of ≈ √nLists each:
    *
    *  - level 1: k1 = ⌈√nLists⌉ centroids, fit from the SAME bounded
    *    deterministic stride sample as s03 (k1 ≈ 320 even at nLists =
    *    10⁵, so the 4096-point sample stays over-determined 12×);
    *  - level 2: k2 = ⌈nLists/k1⌉ centroids PER CELL, fit INSIDE each
    *    level-1 cell by one executor task over a deterministic
    *    lowest-vec_id per-cell sample — the fit fans out across the
    *    cluster and the driver never runs a k-means bigger than k1.
    *
    * Assignment and probing are hierarchical too: argmin over k1
    * literals, then argmin within the matched cell's k2-row codebook —
    * (k1 + k2)·d ≈ 2√nLists·d per row instead of nLists·d, the other
    * term that breaks at 10⁵ lists. The flat list id is l1·k2 + local,
    * so the published index serves the same (assigned, centroids)
    * contract as [[s03Index]]. Fit determinism: stride samples +
    * fixed-iteration [[lloydKMeans]] at both levels (no MLlib RNG), so
    * a rebuild reproduces the index bit-for-bit (spec-pinned). */
  private[graft] def twoLevelIndex(spark: SparkSession, dir: String,
      nLists: Int, fitPerCell: Int = 1024): (DataFrame, DataFrame, DataFrame) = {
    import spark.implicits._
    val n = Tables.parquetRowCount(spark, dir, "embeddings")
    val path = ivfIndexPath(spark, dir, "s03tl", nLists, n)
    if (!ivfExists(spark, path)) {
      val k1 = math.max(1, math.ceil(math.sqrt(nLists.toDouble)).toInt)
      val k2 = math.max(1, math.ceil(nLists.toDouble / k1).toInt)
      val e = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
      val stride = math.max(1L, n / 4096)
      val l1pts = e.filter(pmod(col("vec_id"), lit(stride)) === 0)
        .orderBy("vec_id").select("embedding").collect()
        .map(_.getSeq[Float](0).toArray.map(_.toDouble))
      val l1cents = lloydKMeans(l1pts, k1, iters = 10)
        .map(_.map(_.toFloat)).toIndexedSeq
      val cellAssigned = e.withColumn("l1",
        graft.streaming.StreamVecIndex.listIdOf(col("embedding"), l1cents))
      // per-cell level-2 fit: one run of rows per cell after an l1
      // repartition + (l1, vec_id) sort — each task fits its cells from
      // the first `fitPerCell` rows (lowest vec_id = deterministic),
      // emits (l1, codebook) and holds ≤ fitPerCell points at a time
      val books: Array[(Int, Seq[Seq[Float]])] = cellAssigned
        .select(col("l1"), col("vec_id"), col("embedding"))
        .as[(Int, Long, Array[Float])]
        .repartition(col("l1"))
        .sortWithinPartitions("l1", "vec_id")
        .mapPartitions { it =>
          val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Seq[Seq[Float]])]
          var cur = Int.MinValue
          var cell = scala.collection.mutable.ArrayBuffer.empty[Array[Double]]
          def flush(): Unit = if (cur != Int.MinValue && cell.nonEmpty) {
            out += ((cur, lloydKMeans(cell.toArray, k2, iters = 10)
              .map(_.map(_.toFloat).toSeq).toSeq))
            cell = scala.collection.mutable.ArrayBuffer.empty[Array[Double]]
          }
          it.foreach { case (l1, _, emb) =>
            if (l1 != cur) { flush(); cur = l1 }
            if (cell.length < fitPerCell) cell += emb.map(_.toDouble)
          }
          flush()
          out.iterator
        }.collect()
      // codebook table: k1·k2 ≈ nLists centroids ≈ 25 MB at nLists=10⁵,
      // d=64 — broadcastable; only the driver COLLECTS it, never fits it
      val bookDf = broadcast(spark.createDataFrame(books.toIndexedSeq)
        .toDF("l1", "books"))
      // within-cell argmin over the joined codebook column — the
      // codegen'd graft_argmin_sqdist loop (a full-corpus per-row pass;
      // the interpreted HOF form would be the s09-encode mistake again)
      val assigned = cellAssigned.join(bookDf, Seq("l1"))
        .withColumn("local",
          graft.functions.NativeFunctions.argminSqDist(col("embedding"), col("books")))
        .select(col("vec_id"), col("embedding"),
          (col("l1") * k2 + col("local")).as("list_id"))
      val centDf = spark.createDataFrame(
        books.toIndexedSeq.flatMap { case (l1, bs) =>
          bs.zipWithIndex.map { case (c, j) => (l1 * k2 + j, c) }
        }).toDF("list_id", "centroid")
      val cellDf = spark.createDataFrame(
        l1cents.zipWithIndex.map { case (c, i) => (i, c.toSeq) })
        .toDF("l1", "centroid")
      publishIndex(spark, path) { tmp =>
        assigned.repartition(col("list_id")).write.parquet(tmp + "/assigned")
        centDf.coalesce(1).write.parquet(tmp + "/centroids")
        cellDf.coalesce(1).write.parquet(tmp + "/cells")
      }
    }
    (spark.read.parquet(path + "/assigned"),
      spark.read.parquet(path + "/centroids"),
      spark.read.parquet(path + "/cells"))
  }

  /** s12: ANN over the two-level index with HIERARCHICAL probing — the
    * query ranks k1 cell centroids, descends into the best cells'
    * codebooks, and exact-rescans only the top nProbe flat lists. Same
    * candidate-join + heap-top-k serving shape as s03; what changes at
    * 10⁵ lists is only that no per-query scan ever touches all nLists
    * centroids. Rows-only (k-means is not DuckDB-expressible);
    * invariants spec-pinned like s03's. */
  def s12AnnIvf2(spark: SparkSession, dir: String): DataFrame =
    s12AnnIvf2(spark, dir, nLists = autoNLists(spark, dir), nCells = 2, nProbe = 4)

  def s12AnnIvf2(spark: SparkSession, dir: String, nLists: Int,
      nCells: Int, nProbe: Int): DataFrame = {
    val (assigned, centDf, cellDf) = twoLevelIndex(spark, dir, nLists)
    val k2 = math.max(1, math.ceil(nLists.toDouble /
      math.max(1, math.ceil(math.sqrt(nLists.toDouble)).toInt)).toInt)
    val q = assigned.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val sqDist = aggregate(
      zip_with(col("qv"), col("centroid"),
        (x, y) => (x.cast("double") - y.cast("double")) * (x.cast("double") - y.cast("double"))),
      lit(0.0), (acc, v) => acc + v)
    // stage 1: rank the k1 ≈ √nLists CELL centroids only
    val cellW = Window.partitionBy(col("query_id"))
      .orderBy(col("dist").asc, col("l1"))
    val topCells = q.crossJoin(broadcast(cellDf))
      .withColumn("dist", sqDist)
      .withColumn("cr", row_number().over(cellW))
      .filter(col("cr") <= nCells)
      .select(col("query_id"), col("qv"), col("l1"))
    // stage 2: rank lists INSIDE the probed cells only — the codebook
    // join fans each (query, cell) row out to its k2 local centroids,
    // so per-query distance work is nCells·k2, never nLists
    val listW = Window.partitionBy(col("query_id"))
      .orderBy(col("dist").asc, col("list_id"))
    val probes = topCells
      .join(broadcast(centDf.withColumn("l1", floor(col("list_id") / k2).cast("int"))), Seq("l1"))
      .withColumn("dist", sqDist)
      .withColumn("pr", row_number().over(listW))
      .filter(col("pr") <= nProbe)
      .select(col("list_id"), col("query_id"), col("qv"))
    val scored = assigned.select(col("list_id"), col("vec_id").as("neighbor_id"),
        col("embedding").as("cv"))
      .join(broadcast(probes), Seq("list_id"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cos", VF.cosine(col("qv"), col("cv")))
    ranked(graft.plans.TopK.perGroup(scored, Seq(col("query_id")),
      Seq(round(col("cos"), 6).desc, col("neighbor_id").asc), 3), 3)
  }

  // ──────────────── PCA audit (embedding compression) ─────────────────

  /** s13: PCA spectrum audit — the sizing signal for EMBEDDING
    * COMPRESSION (the d-side answer to s09's code-side compression, and
    * the whitening step SemDeDup-style semantic dedup normalizes with):
    * how much of the corpus's variance do the top components carry, i.e.
    * how far can d be cut before recall pays. Fit is DISTRIBUTED where
    * it must be and driver-side where that is exact and tiny: the d×d
    * covariance comes from MLlib's one-pass `RowMatrix.computeCovariance`
    * (a map-side Gram accumulation + one reduce — the corpus is read
    * once and nothing wider than d² floats crosses the wire, at d = 64
    * that is 32 KB per partition), and the eigendecomposition runs on
    * the driver over that 64×64 matrix (breeze `eigSym` — deterministic,
    * no RNG). Rows-only (no eigensolver in DuckDB); the spec recomputes
    * the covariance AND the spectrum independently and pins projection
    * orthonormality. Output: one row per component — eigenvalue,
    * explained %, cumulative %. */
  def s13PcaAudit(spark: SparkSession, dir: String): DataFrame =
    s13PcaAudit(spark, dir, k = 16)

  def s13PcaAudit(spark: SparkSession, dir: String, k: Int): DataFrame = {
    import org.apache.spark.mllib.linalg.Vectors
    import org.apache.spark.mllib.linalg.distributed.RowMatrix
    val rows = Tables.embeddings(spark, dir)
      .select(col("embedding")).rdd
      .map(r => Vectors.dense(r.getSeq[Float](0).map(_.toDouble).toArray))
    val cov = new RowMatrix(rows).computeCovariance()
    val d = cov.numRows
    val eig = breeze.linalg.eigSym(
      new breeze.linalg.DenseMatrix(d, d, cov.toArray))
    // breeze returns eigenvalues ascending; clamp tiny negative noise
    val evs = eig.eigenvalues.toArray.reverse.map(v => math.max(v, 0.0))
    val total = evs.sum
    val out = evs.take(k).zipWithIndex.scanLeft((-1, 0.0, 0.0, 0.0)) {
      case ((_, _, _, cum), (ev, i)) =>
        (i, ev, 100.0 * ev / total, cum + 100.0 * ev / total)
    }.drop(1).map { case (i, ev, pct, cum) =>
      (i, BigDecimal(ev).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
        BigDecimal(pct).setScale(3, BigDecimal.RoundingMode.HALF_UP).toDouble,
        BigDecimal(cum).setScale(3, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    spark.createDataFrame(out.toIndexedSeq)
      .toDF("component", "eigenvalue", "explained_pct", "cum_pct")
  }

  /** The top-k principal axes behind [[s13PcaAudit]] (columns of the
    * eigenvector matrix, descending eigenvalue) plus the corpus mean —
    * what a map-side projection (`Σ_i (emb_i − μ_i)·W_i` per output
    * dim) broadcasts as literals. Driver math over the d×d spectrum.
    *
    * MEMOIZED per (corpus content, k) — the t28Model rule: s16's
    * shortlist sweep serves three s14 variants from ONE covariance
    * pass, and every consumer of the same corpus sees the same axes
    * (eigSym is deterministic, so this is a cost memo, not a
    * correctness one). The key is [[ivfIndexPath]]'s identity string
    * (dir + rowcount + content fingerprint + k), so an in-place
    * regenerated corpus can never be served stale axes. */
  private val pcaAxesCache = new java.util.concurrent.ConcurrentHashMap[
    String, (Array[Double], Seq[Array[Double]])]()

  private[graft] def pcaAxes(spark: SparkSession, dir: String,
      k: Int): (Array[Double], Seq[Array[Double]]) =
    pcaAxesCache.computeIfAbsent(
      ivfIndexPath(spark, dir, "pcaaxes", k,
        Tables.parquetRowCount(spark, dir, "embeddings")),
      _ => pcaAxesFit(spark, dir, k))

  private def pcaAxesFit(spark: SparkSession, dir: String,
      k: Int): (Array[Double], Seq[Array[Double]]) = {
    import org.apache.spark.mllib.linalg.Vectors
    import org.apache.spark.mllib.linalg.distributed.RowMatrix
    val rows = Tables.embeddings(spark, dir)
      .select(col("embedding")).rdd
      .map(r => Vectors.dense(r.getSeq[Float](0).map(_.toDouble).toArray))
    val mat = new RowMatrix(rows)
    val d = mat.numCols().toInt
    val mean = mat.computeColumnSummaryStatistics().mean.toArray
    val eig = breeze.linalg.eigSym(
      new breeze.linalg.DenseMatrix(d, d, mat.computeCovariance().toArray))
    val order = eig.eigenvalues.toArray.zipWithIndex.sortBy(-_._1).map(_._2)
    val axes = order.take(k).toSeq.map { c =>
      Array.tabulate(d)(r => eig.eigenvectors(r, c))
    }
    (mean, axes)
  }

  /** s14: dimension-REDUCED ANN — the serving-side USE of s13's
    * spectrum: embeddings project once (map-side, the codegen'd
    * [[graft.functions.NativeFunctions.pcaProject]] mat-vec) onto the
    * top `kDims` principal axes, the per-pair shortlist distance runs
    * in the REDUCED space (kDims multiplies instead of d — and at
    * 100 TB the stored index is the d/kDims-× smaller projected table),
    * and the exact cosine rescore touches only the `shortlist`
    * top candidates per query. Because PCA is a rotation of centered
    * vectors, projected euclidean distance = centered euclidean
    * distance exactly when kDims = d, and the shortlist-covers-corpus
    * limit reproduces s01's exact ranking bit-for-bit (spec-pinned —
    * s10's rescore-limit discipline). Rows-only (eigensolver). */
  def s14AnnPca(spark: SparkSession, dir: String): DataFrame =
    s14AnnPca(spark, dir, kDims = 16, shortlist = 32)

  def s14AnnPca(spark: SparkSession, dir: String, kDims: Int,
      shortlist: Int): DataFrame = {
    val (mean, axes) = pcaAxes(spark, dir, kDims)
    val proj = graft.functions.NativeFunctions.pcaProject(col("embedding"),
      mean.toSeq, axes.map(_.toSeq))
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"), proj.as("z"))
    val q = e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        col("z").as("qz"))
    // per-pair reduced-space distance is THE hot loop (|corpus|×|queries|
    // evaluations) — codegen'd graft_sqdist, not an interpreted HOF
    val scored = e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("pd",
        graft.functions.NativeFunctions.sqDist(col("qz"), col("z")))
    val cand = graft.plans.TopK.perGroup(scored, Seq(col("query_id")),
      Seq(col("pd").asc, col("vec_id").asc), shortlist)
    ranked(cand
      .select(col("query_id"), col("qv"), col("vec_id").as("neighbor_id"),
        col("embedding").as("cv"))
      .withColumn("cos", VF.cosine(col("qv"), col("cv"))), 3)
  }

  /** Persist-or-serve wrapper around [[rangeIndexOf]] for the exact
    * range-search family (s06 full corpus, d13 train split): first use
    * fits + assigns + WRITES (assigned lists, list stats, unit
    * centroids); later uses read the three tables. Serving is
    * result-identical to fresh fit (deterministic stride sample +
    * fixed-iteration spherical k-means; spec-pinned). */
  private[graft] def rangeIndexPersisted(spark: SparkSession, dir: String,
      tag: String, e: DataFrame, n: Long,
      nLists: Int): (DataFrame, DataFrame, Seq[Array[Float]]) = {
    val path = ivfIndexPath(spark, dir, tag, nLists, n)
    if (!ivfExists(spark, path)) {
      val (assigned, stats, cents) = rangeIndexOf(e, n, nLists)
      val centDf = spark.createDataFrame(
        cents.toIndexedSeq.zipWithIndex.map { case (c, i) => (i, c) })
        .toDF("list_id", "centroid")
      publishIndex(spark, path) { tmp =>
        assigned.select(col("vec_id"), col("embedding"), col("cosines"),
            col("best_cos"), col("list_id"))
          .repartition(col("list_id")).write.parquet(tmp + "/assigned")
        stats.coalesce(1).write.parquet(tmp + "/stats")
        centDf.coalesce(1).write.parquet(tmp + "/centroids")
      }
      assigned.unpersist(false) // disk copy supersedes the build cache
    }
    val cents = spark.read.parquet(path + "/centroids")
      .orderBy("list_id").collect()
      .map(_.getSeq[Float](1).toArray)
    (spark.read.parquet(path + "/assigned"),
      spark.read.parquet(path + "/stats"), cents.toIndexedSeq)
  }

  /** Multi-table default: 4 independent sign-LSH tables. Like `bits`,
    * a KNOB — recall ≈ 1−(1−p)^L for per-table hit rate p, so L is the
    * remediation lever when the corpus's neighbor angles are wide (as
    * s04 shows they are here). */
  val AnnTables = 4

  /** s05: multi-table sign-LSH ANN — the classical recall-amplification
    * remedy the s02/s04 docstrings name. The corpus is indexed in
    * `nTables` INDEPENDENT hash families ([[VF.signBucketT]]'s rotated
    * coordinate-pair family), each probed with s02's flip-1-bit
    * multi-probe; a (query, neighbor) pair is a candidate if it
    * collides in ANY table's probe set, so per-query recall goes from p
    * to 1−(1−p)^L while the join stays a bucket equi-join on (table,
    * bucket) — never a cross join. Table 0 with probing IS s02's exact
    * candidate generator, so s05's candidate set is a SUPERSET of
    * s02's and recall domination holds by construction (spec-pinned).
    * Costs at 100 TB: the index (and the candidate volume) grows ×L,
    * the classic multi-table trade; the corpus-side explode is L index
    * ENTRIES per vector, each a (table, bucket, id) row shuffled once
    * by bucket key, and only the (tiny, broadcast) query side is
    * replicated ×(bits+1) by probing. Candidates colliding in several
    * tables/probes are deduped by DISTINCT on the scored pair — cosine
    * is deterministic per pair, so duplicate rows are value-identical
    * (d05's band-dedup pattern).
    *
    * Measured recall@3 vs s01 (DuckDB mirror, 8 bits + probe):
    * sf0.001/0.01/0.1 = 9/7/6 of 24 for 4 tables vs s02's 2/4/3, at
    * ~13% of scorable pairs scored (vs s01's 100%) — the 1−(1−p)^L
    * curve in action at unchanged join shape. */
  def s05AnnMultiTable(spark: SparkSession, dir: String): DataFrame =
    s05AnnMultiTable(spark, dir, AnnSignBits, AnnTables)

  def s05AnnMultiTable(spark: SparkSession, dir: String, bits: Int,
      nTables: Int): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val indexed = e.select(col("vec_id"), col("embedding"),
        explode(array((0 until nTables).map(t => struct(lit(t).as("t"),
          VF.signBucketT(col("embedding"), bits, t).as("bucket"))): _*)).as("tb"))
      .select(col("vec_id"), col("embedding"),
        col("tb.t").as("t"), col("tb.bucket").as("bucket"))
    val q = multiProbed(indexed.filter(col("vec_id") < NumQueries), bits)
      .select(col("t"), col("bucket"), col("vec_id").as("query_id"),
        col("embedding").as("qv"))
    val scored = indexed.select(col("t"), col("bucket"),
        col("vec_id").as("neighbor_id"), col("embedding").as("cv"))
      .join(broadcast(q), Seq("t", "bucket"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        VF.cosine(col("qv"), col("cv")).as("cos"))
      .distinct()
    ranked(graft.plans.TopK.perGroup(scored, Seq(col("query_id")),
      Seq(round(col("cos"), 6).desc, col("neighbor_id").asc), 3), 3)
  }

  /** s04: ANN recall audit — recall@3 of the LSH path (s02) against the
    * exact top-3 (s01), per query. The metric every ANN deployment
    * monitors; pure composition of the two gated operators, one tiny
    * join on (query_id, neighbor_id). */
  def s04AnnRecall(spark: SparkSession, dir: String): DataFrame =
    recallAudit(spark, dir, s02AnnLsh(spark, dir))

  /** THE recall@k definition (one definition, every auditable ANN
    * path): a reference top-k `(query_id, neighbor_id)` set LEFT-joined
    * to an approximate neighbor set on the pair key. s04/s07/s11 feed
    * it s01's exact cosine top-3; s16 feeds a localCheckpointed copy
    * across a shortlist sweep; s17 feeds the exact float-IP top-3 (the
    * MIPS reference). */
  private def recallAuditOf(exact: DataFrame, approx: DataFrame): DataFrame = {
    val ann = approx
      .select(col("query_id").as("aq"), col("neighbor_id").as("an"))
    exact.join(ann,
        col("query_id") === col("aq") && col("neighbor_id") === col("an"), "left")
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("k_exact"), count(col("an")).as("n_hit"))
      .withColumn("recall", round(col("n_hit") / col("k_exact"), 4))
      .orderBy("query_id")
  }

  /** Shared recall@3 audit core of s04/s07/s11: exact top-3 (s01)
    * against an approximate neighbor set. */
  private def recallAudit(spark: SparkSession, dir: String,
      approx: DataFrame): DataFrame =
    recallAuditOf(s01KnnBrute(spark, dir).filter(col("rk") <= 3)
      .select(col("query_id"), col("neighbor_id")), approx)

  /** s07: IVF recall audit — recall@3 of the IVF path (s03) against the
    * exact top-3 (s01), per query: the quantitative check the rows-only
    * s03 gate cannot provide (KMeans is not DuckDB-expressible, so the
    * gate pins only row shape — THIS operator pins quality, spec-pinned
    * against a driver-side recomputation). Same tiny composition shape
    * as s04: two gated operators joined on (query_id, neighbor_id).
    * Expect mid recall here for the same honest reason s04 reports low
    * single-table LSH recall: the corpus's true neighbors sit at wide
    * angles, and nProbe=2 of 16 lists bounds how many survive — the
    * remediation knob is nProbe (recall → 1 as nProbe → nLists). */
  def s07IvfRecall(spark: SparkSession, dir: String): DataFrame =
    recallAudit(spark, dir, s03AnnIvf(spark, dir))

  /** s11: PQ recall audit — recall@3 of the compressed-domain ranking
    * (s09's ADC top-3, ASCENDING approximate distance) against the exact
    * cosine top-3, completing the per-path audit symmetry (LSH→s04,
    * IVF→s07, PQ→this): the number a serving tier watches to size
    * (m, k) — more subspaces/centroids push ADC ranking toward the
    * float ranking; the two metrics (cosine vs euclid-on-raw) also
    * diverge where vector norms vary, which is honest signal, not
    * noise. Same tiny composition as s04/s07; rows-only (k-means). */
  def s11PqRecall(spark: SparkSession, dir: String): DataFrame =
    recallAudit(spark, dir, s09PqAnn(spark, dir))

  /** (m, k)-knob form of the PQ recall audit — the sizing sweep a
    * serving tier runs before picking DEPLOY's production (m=16-64,
    * k=256) over the gate's toy defaults; RECALL.json carries one row
    * at each so the quality-vs-compression trade is a round-diffable
    * number, not prose. */
  def s11PqRecall(spark: SparkSession, dir: String, m: Int, k: Int): DataFrame =
    recallAudit(spark, dir, s09PqAnn(spark, dir, m, k))

  /** s05's recall@3 vs the exact top-3 — the multi-table LSH path was
    * the one ANN family RECALL.json omitted (r14 verdict item: "wire
    * RECALL into the round diff and complete its coverage"). */
  def s05MultiTableRecall(spark: SparkSession, dir: String): DataFrame =
    recallAudit(spark, dir, s05AnnMultiTable(spark, dir)
      .select(col("query_id"), col("neighbor_id")))

  /** s06's range-set recall vs the brute scan: k_exact is the TRUE
    * τ-neighbor count per query (not a fixed k), n_hit what the pruned
    * search returned — 1.0 by the triangle-bound exactness argument,
    * and the audit row makes that claim measured instead of proved-only
    * (a slack regression would surface here as recall < 1). */
  def s06RangeRecall(spark: SparkSession, dir: String): DataFrame =
    recallAuditOf(
      s06RangeSearchBrute(spark, dir).select(col("query_id"), col("neighbor_id")),
      s06RangeSearch(spark, dir).select(col("query_id"), col("neighbor_id")))

  /** s16: PCA-shortlist recall SWEEP — s14's quality check promoted to
    * a first-class audit (the s04/s07/s11 symmetry): recall@3 vs s01's
    * exact top-3, per query, at each shortlist size. The shortlist is
    * s14's remediation knob, and the sweep is the sizing table a
    * serving tier reads it off: TopK-by-projected-distance candidate
    * sets are NESTED across the sweep (top-8 ⊆ top-16 ⊆ top-32 under
    * the same deterministic ordering), so per-query recall is monotone
    * non-decreasing in shortlist — spec-pinned along with a full driver
    * recompute. The exact side is computed ONCE and localCheckpointed
    * (|queries|·3 rows — the q36/q46 small-view snapshot rule); the
    * PCA axes come from the memoized [[pcaAxes]] fit, so the sweep pays
    * one covariance pass, not three. Rows-only (eigensolver, s14's
    * rule). */
  def s16PcaRecall(spark: SparkSession, dir: String): DataFrame =
    s16PcaRecall(spark, dir, kDims = 16, Seq(8, 16, 32))

  def s16PcaRecall(spark: SparkSession, dir: String, kDims: Int,
      shortlists: Seq[Int]): DataFrame = {
    val exact = s01KnnBrute(spark, dir).filter(col("rk") <= 3)
      .select(col("query_id"), col("neighbor_id")).localCheckpoint()
    shortlists.map { sl =>
      recallAuditOf(exact, s14AnnPca(spark, dir, kDims, sl))
        .withColumn("shortlist", lit(sl.toLong))
    }.reduce(_.unionByName(_))
      .select(col("shortlist"), col("query_id"), col("k_exact"),
        col("n_hit"), col("recall"))
      .orderBy("shortlist", "query_id")
  }

  /** s17: SQ8 recall audit — s15's quality check promoted to a
    * first-class audit: recall@3 of the integer-dot ranking against the
    * exact FLOAT inner-product top-3 (the MIPS reference — s01's cosine
    * normalizes, so it is the wrong yardstick for an IP ranking; the
    * two orderings diverge exactly where vector norms vary, which is
    * signal a serving tier must see). Same [[recallAuditOf]] core as
    * every other audit; the exact side is one broadcast-queries ×
    * corpus codegen'd dot pass through the TopKPerGroup heap (s01's
    * shape). Rows-only with a spec-pinned driver recompute: the float
    * IP ordering can tie within an ulp at a rank boundary, so the gate
    * pins shape only and the spec pins values. */
  def s17Sq8Recall(spark: SparkSession, dir: String): DataFrame =
    recallAuditOf(s17ExactIpTop3(spark, dir),
      s15Sq8Mips(spark, dir).select(col("query_id"), col("neighbor_id")))

  /** s18: FILTERED k-NN — the production vector-search feature every
    * serving tier grows next (search WITHIN a metadata predicate:
    * tenant, language, license class, freshness): exact top-3 cosine
    * among corpus vectors satisfying the filter — here `label % 2 = 0`,
    * the stand-in for any metadata predicate. The at-scale point is
    * WHERE the filter runs: BELOW the scoring, at the parquet scan
    * (PushedFilters — plan-pinned), so the scored population is the
    * filtered slice, never the corpus; the naive alternative
    * (post-filter a top-k) UNDER-FILLS results whenever the filter is
    * selective (k survivors of a filtered top-k < k true filtered
    * neighbors — the classic filtered-ANN correctness trap,
    * spec-pinned against exactly that form). Same broadcast-queries +
    * TopKPerGroup shape as s01, fully hash-gated. The IVF composition
    * needs no new operator: s03's candidate stage is a DataFrame, so
    * the same predicate applied to the persisted assigned table before
    * the list join IS filtered ANN at IVF cost. */
  def s18FilteredKnn(spark: SparkSession, dir: String): DataFrame =
    s18FilteredKnn(spark, dir, k = 3)

  /** `k` overload (round 12): the depth knob the SQL surface exposes
    * (`graft_filtered_knn(dir, k)`); the gated entry stays at the
    * default 3. */
  def s18FilteredKnn(spark: SparkSession, dir: String, k: Int): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val q = e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val scored = e.filter(pmod(col("label"), lit(2)) === 0)
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("cv"))
      .crossJoin(broadcast(q))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cos", VF.cosine(col("qv"), col("cv")))
    ranked(graft.plans.TopK.perGroup(scored, Seq(col("query_id")),
      Seq(round(col("cos"), 6).desc, col("neighbor_id").asc), k), k)
  }

  /** RRF rank constant (Cormack et al. 2009's k=60 — the published
    * default every hybrid-search stack ships) and the integer scale:
    * the fused score is Σ `RrfScale div (k + rank)` over the rankers
    * that returned the doc — integer division on integer ranks, so the
    * score is a BIGINT both engines compute bit-identically (the
    * all-integer rule; 1/(60+r) as a float would hash-diverge on
    * formatting alone). At RrfScale = 10¹² adjacent ranks differ by
    * ≥ ~1.5·10⁸ — float-RRF's ordering is preserved exactly for any
    * rank ≤ 10⁵ per list, far beyond any top-k a fusion stage sees. */
  val RrfK = 60
  val RrfScale = 1000000000000L

  /** The s20 fusion query's vector leg: the embedding of `vec_id = 0`
    * stands in for the externally-encoded query vector a real hybrid
    * request carries (s18's `label % 2` stand-in rule). */
  val RrfQueryVec = 0L

  /** s20: HYBRID retrieval — BM25 lexical ranking fused with an
    * embedding-cosine ranking by reciprocal-rank fusion, the production
    * RAG-stack retrieval query (a user query arrives as terms AND an
    * encoded vector; neither ranker alone survives contact with real
    * queries — RRF is the standard no-training fusion). Leg 1 is t07's
    * gated BM25 top-20 verbatim (single-sourced — the lexical ranking
    * cannot drift from its own gate); leg 2 ranks the embedded corpus
    * slice by exact cosine to the query vector. The embeddings table is
    * the corpus contract for the embedded SUBSET of `documents`
    * (`vec_id` = `doc_id` of an embedded doc — every test SF satisfies
    * max(vec_id) < |documents|), the usual production state where
    * embeddings exist for the vectorized fraction of the corpus and
    * lexical search covers all of it — exactly the gap hybrid fusion
    * papers over.
    *
    * Scale shape: the lexical leg is t07's two-tiny-shuffle plan; the
    * vector leg is ONE map-side cosine pass against the broadcast query
    * vector feeding `orderBy(...).limit(20)` — Spark plans that as
    * TakeOrderedAndProject (per-partition top-20 heaps, driver merge of
    * ≤ 20·partitions rows), the right single-query global top-k at any
    * corpus size (plan-pinned: no global Sort, no window over the
    * corpus). Fusion itself touches ≤ 40 rows. All output columns are
    * integers (ranks, BIGINT RRF score); ties in the fused score break
    * on doc_id in both engines. */
  /** The vector leg's top-20 candidate list — (doc_id, round-6 cosine
    * to the stand-in query vector), the TakeOrderedAndProject partial
    * top-k over the embedded corpus. Single-sourced between [[s20RrfFusion]]
    * (which ranks it) and [[s23MmrRerank]] (which diversifies it) so
    * the two retrieval stages can never disagree on the pool. */
  private[graft] def s20VecCandidates(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val qv = e.filter(col("vec_id") === RrfQueryVec)
      .select(col("embedding").as("qv"))
    e.filter(col("vec_id") =!= RrfQueryVec)
      .crossJoin(broadcast(qv))
      .select(col("vec_id").as("doc_id"),
        round(VF.cosine(col("qv"), col("embedding")), 6).as("c6"))
      .orderBy(col("c6").desc, col("doc_id")).limit(20)
  }

  def s20RrfFusion(spark: SparkSession, dir: String): DataFrame = {
    // ≤20/40-row windows, intentionally single-partition; keys are
    // NON-FOLDABLE (col % 1) so Spark 4's EliminateWindowPartitions
    // can't fold them away and re-trigger the accident-flagging warning
    val lexRanked = Window.partitionBy(col("doc_id") % 1)
      .orderBy(col("bm25").desc, col("doc_id"))
    val lex = TextAnalysis.t07Bm25Search(spark, dir)
      .withColumn("rank_lex", row_number().over(lexRanked).cast("long"))
      .select(col("doc_id"), col("rank_lex"))
    val vecRanked = Window.partitionBy(col("doc_id") % 1)
      .orderBy(col("c6").desc, col("doc_id"))
    val vec = s20VecCandidates(spark, dir)
      .withColumn("rank_vec", row_number().over(vecRanked).cast("long"))
      .select(col("doc_id"), col("rank_vec"))
    val fusedRanked = Window.partitionBy(col("doc_id") % 1)
      .orderBy(col("rrf_score").desc, col("doc_id"))
    lex.join(vec, Seq("doc_id"), "full_outer")
      .withColumn("rrf_score",
        coalesce(expr(s"${RrfScale}L div (${RrfK}L + rank_lex)"), lit(0L)) +
          coalesce(expr(s"${RrfScale}L div (${RrfK}L + rank_vec)"), lit(0L)))
      .withColumn("rk", row_number().over(fusedRanked).cast("long"))
      .filter(col("rk") <= 10)
      .select(col("rk"), col("doc_id"), col("rank_lex"), col("rank_vec"),
        col("rrf_score"))
      .orderBy("rk")
  }

  /** s23 knobs: MMR trade-off λ (0.7 = the relevance-leaning default
    * the Carbonell & Goldstein 1998 paper popularized) and the
    * diversified result depth. */
  val MmrLambda = 0.7
  val MmrK = 5

  /** s23: MMR diversity RE-RANK — the retrieval stack's final stage
    * (Carbonell & Goldstein, SIGIR 1998): greedily select from the
    * [[s20VecCandidates]] top-20 pool by maximal marginal relevance
    * `λ·rel(d) − (1−λ)·max_{s∈S} cos(d, s)` — a near-duplicate of an
    * already-selected result is DEMOTED (it reappears once its novelty
    * penalty clears), so the user-facing top-k covers the query's
    * facets instead of repeating its best match k times. The production
    * RAG answer-context builder: k near-identical passages waste k−1
    * context slots.
    *
    * Scale shape: the distributed work is s20's leg — one map-side
    * cosine pass planned as TakeOrderedAndProject (plan-pinned there);
    * the greedy loop is INHERENTLY SEQUENTIAL (each pick changes every
    * remaining score) and runs driver-side on the ≤20-row candidate
    * list — bounded by the candidate limit, never by the corpus (the
    * s08/s03 driver-bounded-fit rule; at 100 TB the pool is still 20
    * rows). First pick = pure relevance (max-sim term is 0 while S is
    * empty); ties break on doc_id in every step. Rows-only: the greedy
    * recursion is not SQL-expressible; the spec recomputes the whole
    * selection independently and pins the planted demote-then-return
    * behavior. */
  def s23MmrRerank(spark: SparkSession, dir: String): DataFrame =
    s23MmrRerank(spark, dir, MmrK, MmrLambda)

  def s23MmrRerank(spark: SparkSession, dir: String, k: Int,
      lam: Double): DataFrame = {
    val cand = s20VecCandidates(spark, dir)
      .join(Tables.embeddings(spark, dir)
        .select(col("vec_id").as("doc_id"), col("embedding")), Seq("doc_id"))
      .orderBy(col("c6").desc, col("doc_id"))
      .collect() // ≤ 20 rows — the candidate limit, never corpus-sized
    val ids = cand.map(_.getAs[Long]("doc_id"))
    val rel = cand.map(_.getAs[Double]("c6"))
    val emb = cand.map(_.getAs[Seq[Float]]("embedding").map(_.toDouble).toArray)
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var (dot, na, nb, i) = (0.0, 0.0, 0.0, 0)
      while (i < a.length) {
        dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      dot / math.sqrt(na * nb)
    }
    val n = ids.length
    // -inf, not 0: the max-similarity-to-selected term is a true max of
    // cosines and can be NEGATIVE (an anti-correlated candidate earns a
    // bonus, per the paper) — a zero floor would silently erase it
    val maxSim = Array.fill(n)(Double.NegativeInfinity)
    val picked = Array.fill(n)(false)
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double, Double, Double)]
    var step = 0
    while (step < math.min(k, n)) {
      val simTerm = (i: Int) => if (step == 0) 0.0 else maxSim(i)
      val best = (0 until n).filterNot(picked)
        .map(i => (i, lam * rel(i) - (1 - lam) * simTerm(i)))
        .minBy { case (i, s) => (-s, ids(i)) }
      val (bi, bs) = best
      picked(bi) = true
      out += ((step + 1L, ids(bi), rnd4(rel(bi)), rnd4(simTerm(bi)), rnd4(bs)))
      var i = 0
      while (i < n) {
        if (!picked(i)) maxSim(i) = math.max(maxSim(i), cos(emb(i), emb(bi)))
        i += 1
      }
      step += 1
    }
    val sq = spark
    import sq.implicits._
    out.toSeq.toDF("rk", "doc_id", "relevance", "max_sim_selected", "mmr_score")
      .orderBy("rk")
  }

  private def rnd4(x: Double): Double =
    BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Multi-probe width for the IVF k-NN graph: each vector's candidate
    * pool is its `S19Probes` nearest inverted lists — a scanned
    * fraction of nProbe/nLists of the quadratic work. What that buys
    * DEPENDS ON THE CORPUS GEOMETRY, and the test corpus is the worst
    * case: its true top-1 cosines sit at 0.37 ± 0.1 (near-orthogonal —
    * no cluster structure for a locality partition to exploit), so
    * recall tracks the scanned fraction plus the quantizer's locality
    * bonus — measured at sf0.001: nProbe 2 → 0.47 (3.7× the 2/16
    * random-scan floor), 4 → 0.68, 8 → 0.90. The regime the graph is
    * BUILT for behaves oppositely: a near-dup pair (cosine → 1) lands
    * in the same list with probability → 1, so SemDeDup-grade edges
    * survive aggressive pruning (d05/d12b's planted-duplicate specs pin
    * exactly that). The spec therefore pins the locality bonus (≥ 2×
    * floor) and probe-monotone recall, not an absolute bar the corpus
    * geometry owns. */
  val S19Probes = 2

  /** s19: the exact k-NN GRAPH — top-3 cosine neighbors for EVERY
    * corpus vector (s01 with the query set widened to the whole
    * corpus): the curation primitive SemDeDup-style pruning, diversity
    * sampling, coreset seeding, and label propagation all read. An
    * exact graph is inherently ALL-PAIRS — no sub-quadratic exact plan
    * exists — so this gated form is the YARDSTICK: the audit reference
    * [[s19bKnnGraphIvf]]'s recall is measured against (the s01↔s03
    * relationship, corpus-wide). At 100 TB you build the graph with
    * s19b and spot-audit it with s19 on a slice; the all-pairs scan
    * here keeps s01's shape — one side broadcast, the scored stream
    * reduced map-side by the TopKPerGroup heap, so ≤ 3 rows per vector
    * reach the only shuffle (never a corpus-sized sort).
    *
    * PERSISTED (the s03 rule, round 11): the graph is a build-once
    * ARTIFACT, not a per-query computation — s19/s24/s25/s26 all read
    * the same table via [[s19GraphIndex]] instead of each re-running
    * the all-pairs scan (previously the four heaviest bench entries
    * were mostly the SAME scan four times). The build is fully
    * deterministic (exact cosine, round(cos,6)+id tie-breaks), so
    * index-served ≡ fresh (spec-pinned, s03's equality rule), and the
    * gated hash is unchanged. A persisted corpus k-NN graph is itself
    * the production feature: curation pipelines (SemDeDup pruning,
    * diversity sampling, s25 propagation, s26 outlier scans) all read
    * one graph build. */
  def s19KnnGraph(spark: SparkSession, dir: String): DataFrame =
    s19KnnGraph(spark, dir, k = 3)

  /** `k` overload (round 12): the edge-depth knob the SQL surface
    * exposes (`graft_knn_graph(dir, k)`); each k is its own persisted
    * artifact slot (the k is the key's existing arity position), so a
    * deeper graph never invalidates the gated k=3 build. */
  def s19KnnGraph(spark: SparkSession, dir: String, k: Int): DataFrame =
    s19GraphIndex(spark, dir, k).orderBy("query_id", "rk")

  /** The fresh all-pairs build behind [[s19GraphIndex]] — split out so
    * the spec can pin index-served ≡ fresh. */
  private[graft] def s19KnnGraphFresh(spark: SparkSession, dir: String,
      k: Int = 3): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val q = e.select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val scored = e.select(col("vec_id").as("neighbor_id"), col("embedding").as("cv"))
      .crossJoin(broadcast(q))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cos", VF.cosine(col("qv"), col("cv")))
    ranked(graft.plans.TopK.perGroup(scored, Seq(col("query_id")),
      Seq(round(col("cos"), 6).desc, col("neighbor_id").asc), k), k)
  }

  /** The persisted exact-graph artifact: built once per
    * (corpus dir, row count, content fingerprint) key under the same
    * crash-safe publish contract as [[s03Index]] (tag `s19graph`, the
    * k slot reusing the key arithmetic), read everywhere after.
    * Stored CLUSTERED by query_id so a per-vertex consumer (s25's
    * edge join, s26's isolation agg) scans contiguous edges. */
  private[graft] def s19GraphIndex(spark: SparkSession, dir: String,
      k: Int = 3): DataFrame = {
    val n = Tables.parquetRowCount(spark, dir, "embeddings")
    val path = ivfIndexPath(spark, dir, "s19graph", k, n)
    if (!ivfExists(spark, path))
      publishIndex(spark, path) { tmp =>
        s19KnnGraphFresh(spark, dir, k)
          .repartition(col("query_id")).write.parquet(tmp + "/graph")
      }
    spark.read.parquet(path + "/graph")
  }

  /** The PRODUCTION graph artifact: the linear IVF candidate build
    * plus `rounds` NN-Descent refinements, PERSISTED under the same
    * contract as the exact [[s19GraphIndex]] (content-fingerprint key,
    * crash-safe publish, clustered by query_id) — the build DEPLOY.md's
    * swap rule tells a 100 TB pipeline to feed s25Of/s26Of/SemDeDup
    * instead of the exact yardstick, now build-once-serve-many like
    * every other index here. Deterministic end to end (the s03 fit is
    * stride-sampled and seed-fixed; scoring and tie-breaks are exact),
    * so index-served ≡ fresh (spec-pinned). */
  def s19bGraphIndex(spark: SparkSession, dir: String): DataFrame =
    s19bGraphIndex(spark, dir, nLists = autoNLists(spark, dir),
      nProbe = S19Probes, rounds = 1)

  def s19bGraphIndex(spark: SparkSession, dir: String, nLists: Int,
      nProbe: Int, rounds: Int): DataFrame = {
    val n = Tables.parquetRowCount(spark, dir, "embeddings")
    val path = ivfIndexPath(spark, dir,
      s"s19bgraph-l${nLists}p${nProbe}r$rounds", 3, n)
    if (!ivfExists(spark, path))
      publishIndex(spark, path) { tmp =>
        val g = if (rounds == 0) s19bKnnGraphIvf(spark, dir, nLists, nProbe)
          else s21GraphRefine(spark, dir, nLists, nProbe, rounds)
        g.repartition(col("query_id")).write.parquet(tmp + "/graph")
      }
    spark.read.parquet(path + "/graph")
  }

  /** s19b: the k-NN graph at SCALE — candidates from the persisted s03
    * IVF index instead of all-pairs: every vector probes its
    * [[S19Probes]] nearest lists (one codegen'd `graft_argmink_sqdist`
    * pass against the broadcast centroid matrix — the multi-probe
    * generalization of the assignment argmin), candidates are the
    * probed lists' members via ONE list_id equi-join, exact cosine +
    * the same heap top-3 within the pool. Cost: |corpus|·nProbe/nLists
    * of the quadratic scan (2/16 here — the s03 arithmetic, corpus-
    * wide); the join is corpus×(corpus·nProbe) on list_id, both sides
    * shuffle once (SHUFFLE_HASH, built from the unreplicated corpus
    * side — nothing broadcasts, nothing is quadratic; list populations
    * are bounded by the quantizer balance + the nLists ≈ √n sizing
    * rule, and a pathological hot list is d02's maxDf story on
    * list_id). Probing ALL lists makes the candidate pool the whole
    * corpus — s19b(nProbe = nLists) ≡ s19 exactly, the spec's equality
    * pin (no tuning-dependent bar). Rows-only: the pool rides the
    * k-means fit (s03's rule); coverage, edge soundness, the locality
    * bonus over the random-scan floor, and probe-monotone recall are
    * spec-pinned (see [[S19Probes]] for the measured recall curve). */
  def s19bKnnGraphIvf(spark: SparkSession, dir: String): DataFrame =
    s19bKnnGraphIvf(spark, dir, nLists = autoNLists(spark, dir), nProbe = S19Probes)

  def s19bKnnGraphIvf(spark: SparkSession, dir: String, nLists: Int,
      nProbe: Int): DataFrame = {
    val (assigned, centDf) = s03Index(spark, dir, nLists)
    // centroid matrix as ONE broadcast row in list_id order (nLists·d
    // floats — ~25 MB at nLists = 10⁵, s12's broadcastability bound):
    // probe selection is then a map-side native-expression pass over
    // the corpus, never a per-row join against the centroid table
    val centsRow = centDf
      .agg(transform(array_sort(collect_list(struct(col("list_id"), col("centroid")))),
        s => s.getField("centroid")).as("cents"))
    val probes = assigned
      .crossJoin(broadcast(centsRow))
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        explode(graft.functions.NativeFunctions.argminKSqDist(
          col("embedding"), col("cents"), nProbe)).as("list_id"))
    val scored = assigned
      .select(col("list_id"), col("vec_id").as("neighbor_id"), col("embedding").as("cv"))
      .hint("SHUFFLE_HASH") // build from the unreplicated (1×) corpus side
      .join(probes, Seq("list_id"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cos", VF.cosine(col("qv"), col("cv")))
    ranked(graft.plans.TopK.perGroup(scored, Seq(col("query_id")),
      Seq(round(col("cos"), 6).desc, col("neighbor_id").asc), 3), 3)
  }

  /** s21 reverse-edge cap: NN-Descent's reverse-neighbor SAMPLE knob.
    * Forward degree is k by construction, but reverse degree is
    * unbounded (a hub vector can be half the corpus's nearest
    * neighbor); capping the reverse list at the same k by cosine keeps
    * every vertex's expansion pool ≤ (2k)² + 2k — the bound that makes
    * the refinement linear in |corpus| at any scale. */
  val S21ReverseCap = 3

  /** s21: k-NN-graph REFINEMENT — one NN-Descent iteration (Dong et
    * al., WWW 2011) over [[s19bKnnGraphIvf]]'s approximate graph: a
    * neighbor of my neighbor is probably my neighbor, so each vertex
    * re-scores candidates = own edges ∪ capped REVERSE edges ∪ the
    * 2-hop expansion of both, exact cosine, heap top-3. This is how a
    * production graph build actually converges: the IVF pass seeds
    * locality cheaply (nProbe/nLists of the quadratic scan), then
    * refinement rounds push recall toward 1 WITHOUT touching the
    * quantizer — candidates come from the graph itself, so a recall
    * miss that straddles a list boundary (exactly s19b's divergence
    * mode, the d12b straddler story) is recovered through any shared
    * neighbor on either side of the boundary.
    *
    * Recall is MONOTONE by construction: the candidate pool contains
    * the current edges, and best-3-of-a-superset can only move toward
    * the exact top-3 (anything displacing a true top-3 member scores
    * higher, hence is itself true top-3) — the spec pins both the
    * guarantee (per-query best cosine never drops) and the measured
    * improvement on the adversarial near-orthogonal test corpus
    * (recall@3 vs the exact graph: 0.465 → 0.593 in ONE round at
    * nProbe = 2 — a quarter of s19b's miss mass recovered without
    * widening the probe).
    *
    * Scale shape: edge lists are k-bounded (forward k, reverse capped
    * at [[S21ReverseCap]] via the same heap), the 2-hop expansion is an
    * equi-join of two ≤2k-degree edge lists (≤(2k)² candidate rows per
    * vertex — linear in |corpus|, never quadratic), re-scoring joins
    * the embedding table twice on its key (shuffle-hash, linear), and
    * the final top-3 is the map-side TopKPerGroup heap. Lineage
    * honesty (the p10 rule): within a round the current graph feeds
    * BOTH the forward and the capped-reverse leg, so its plan executes
    * twice — ≤3 rows/vertex of recompute, deliberately not cached;
    * `rounds` > 1 iterates the cycle (each round re-derives reverse
    * edges from the refined graph) and lineage grows per round, so a
    * many-round build on a real cluster checkpoints between rounds —
    * d07's rule. */
  def s21GraphRefine(spark: SparkSession, dir: String): DataFrame =
    s21GraphRefine(spark, dir, nLists = autoNLists(spark, dir),
      nProbe = S19Probes, rounds = 1)

  def s21GraphRefine(spark: SparkSession, dir: String, nLists: Int,
      nProbe: Int, rounds: Int): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    // r16: the refine round consumes the kNN graph through FIVE lineage
    // paths (fwd, rev, und twice in the hop-2 self-join, und again as
    // the 1-hop candidate base) — without a pin the whole IVF
    // build+probe subtree re-executes per consumer (only exchanges are
    // reused; the p20/dfCapped disease). Pin the graph and the
    // undirected edge list — k·|V| narrow rows, ~dim/3 smaller than the
    // embeddings table itself — under the same at-rest size bound the
    // p20 pin uses; past it the r15 lineage shape returns. sf0.1
    // scoped A/B (same session shape, min-of-3): 1.69 → 1.31 s.
    val pin = Tables.parquetBytes(spark, dir, "embeddings") <=
      Pipelines.P20PinMaxBytes
    def p(df: DataFrame): DataFrame = if (pin) df.localCheckpoint() else df
    var g = p(s19bKnnGraphIvf(spark, dir, nLists, nProbe)
      .select(col("query_id"), col("neighbor_id"), col("cosine")))
    var r = 0
    while (r < rounds) {
      val fwd = g.select(col("query_id"), col("neighbor_id"))
      val rev = graft.plans.TopK.perGroup(
        g.select(col("neighbor_id").as("query_id"),
          col("query_id").as("neighbor_id"), col("cosine")),
        Seq(col("query_id")),
        Seq(col("cosine").desc, col("neighbor_id").asc), S21ReverseCap)
        .select(col("query_id"), col("neighbor_id"))
      val und = p(fwd.unionByName(rev))
      val hop2 = und.as("e1").join(und.as("e2"),
          col("e1.neighbor_id") === col("e2.query_id"))
        .select(col("e1.query_id").as("query_id"),
          col("e2.neighbor_id").as("cand_id"))
      val cands = und.select(col("query_id"), col("neighbor_id").as("cand_id"))
        .unionByName(hop2)
        .filter(col("query_id") =!= col("cand_id"))
        .distinct()
      val scored = cands
        .join(e.select(col("vec_id").as("query_id"), col("embedding").as("qv")),
          Seq("query_id"))
        .join(e.select(col("vec_id").as("cand_id"), col("embedding").as("cv")),
          Seq("cand_id"))
        .select(col("query_id"), col("cand_id").as("neighbor_id"),
          VF.cosine(col("qv"), col("cv")).as("cos"))
      g = graft.plans.TopK.perGroup(scored, Seq(col("query_id")),
          Seq(round(col("cos"), 6).desc, col("neighbor_id").asc), 3)
        .withColumn("cosine", round(col("cos"), 4))
        .select(col("query_id"), col("neighbor_id"), col("cosine"))
      r += 1
    }
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    g.withColumn("rk", row_number().over(w).cast("long"))
      .select(col("query_id"), col("rk"), col("neighbor_id"), col("cosine"))
      .orderBy("query_id", "rk")
  }

  /** s22: corpus CLUSTER PROFILE — the "what is in my 100 TB corpus"
    * domain-discovery report every curation run starts from (the
    * cluster-then-inspect recipe behind SemDeDup's clusters and
    * DCLM-style domain weighting): one row per IVF list of the
    * PERSISTED s03 index — population, the majority embedding label
    * with its share (cluster/label agreement = is the geometry finding
    * real structure), and the cluster's most DISTINCTIVE tokens from
    * the linked documents, scored cluster-tf × log-inverse-cluster-
    * frequency (a token appearing in every cluster scores 0 — plain
    * counts would crown corpus-wide boilerplate in all 16 rows).
    *
    * Scale shape: reuses the build-once assigned table (zero fit cost
    * here); label join + per-(list, label) partial agg is linear; the
    * term pass is one tokenize scan, a (list, token) partial agg, a
    * token-level cluster-frequency agg joined back (broadcast-sized:
    * ≤ distinct tokens), and a per-list top-3 through the TopKPerGroup
    * heap — no shuffle carries more than the (list, token) aggregate.
    * Output is nLists rows — driver-sized by construction. Rows-only:
    * list assignments ride the k-means fit (s03's rule); the spec pins
    * the accounting against a driver recompute and the label-share
    * arithmetic exactly. */
  def s22ClusterProfile(spark: SparkSession, dir: String): DataFrame =
    s22ClusterProfile(spark, dir, nLists = autoNLists(spark, dir))

  def s22ClusterProfile(spark: SparkSession, dir: String, nLists: Int): DataFrame = {
    import graft.functions.{TextFunctions => TF}
    val (assigned, _) = s03Index(spark, dir, nLists)
    val av = assigned.select(col("vec_id"), col("list_id"))
      .join(Tables.embeddings(spark, dir).select(col("vec_id"), col("label")),
        Seq("vec_id"))
    val sizes = av.groupBy(col("list_id")).agg(count(lit(1)).as("n_vectors"))
    val topLab = graft.plans.TopK.perGroup(
        av.groupBy(col("list_id"), col("label")).agg(count(lit(1)).as("n")),
        Seq(col("list_id")), Seq(col("n").desc, col("label").asc), 1)
      .select(col("list_id"), col("label").as("top_label"),
        col("n").as("n_top_label"))
    // distinctive terms: per-doc DISTINCT tokens (presence, not raw
    // counts — one spammy doc must not own the cluster's description),
    // stopwords out, tf × log(nLists / cluster-frequency)
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"),
        explode(array_distinct(TF.tokens(col("text")))).as("tok"))
      .filter(!col("tok").isin(TF.stopwords: _*) && length(col("tok")) > 1)
    val listToks = toks
      .join(av.select(col("vec_id").as("doc_id"), col("list_id")), Seq("doc_id"))
      .groupBy(col("list_id"), col("tok")).agg(count(lit(1)).as("tf"))
    val clusterFreq = listToks.groupBy(col("tok"))
      .agg(count(lit(1)).as("ncl"))
    val top3 = graft.plans.TopK.perGroup(
        listToks.join(clusterFreq, Seq("tok"))
          .withColumn("score",
            col("tf") * log(lit(nLists.toDouble) / col("ncl"))),
        Seq(col("list_id")),
        Seq(col("score").desc, col("tok").asc), 3)
      .groupBy(col("list_id"))
      .agg(concat_ws(" ", transform(
        array_sort(collect_list(struct((-col("score")).as("s"), col("tok")))),
        s => s.getField("tok"))).as("top_terms"))
    sizes.join(topLab, Seq("list_id"))
      .join(top3, Seq("list_id"), "left")
      .select(col("list_id"), col("n_vectors"), col("top_label"),
        col("n_top_label"),
        expr("n_top_label * 100 div n_vectors").as("label_share_pct"),
        coalesce(col("top_terms"), lit("")).as("top_terms"))
      .orderBy("list_id")
  }

  /** s24: GRAPH recall audit — s19b/s21's quality promoted from spec
    * assertion to first-class report (the s04/s07/s16 rule: a rows-only
    * operator's QUALITY gets its own measured, recomputable table): one
    * row per graph variant — the IVF-candidate build at the default
    * probe width and the one-round NN-Descent refinement — scoring
    * corpus-wide recall@3 against the exact s19 graph in integer ppm
    * (no float boundary). This is the sizing table for the
    * nProbe-vs-rounds trade: on the adversarial test corpus it reads
    * ~465k ppm → ~593k ppm for one refinement round, i.e. a round buys
    * more recall than doubling the probe width pays for.
    *
    * The exact reference is the persisted [[s19GraphIndex]] artifact
    * (build-once, read here — no per-audit all-pairs rebuild) and feeds
    * both audits; each audit is one pair-key left join + a single
    * global partial agg. */
  def s24GraphRecall(spark: SparkSession, dir: String): DataFrame = {
    val exact = s19GraphIndex(spark, dir)
      .select(col("query_id"), col("neighbor_id"))
    def audit(name: String, g: DataFrame): DataFrame =
      exact.join(g.select(col("query_id").as("aq"), col("neighbor_id").as("an")),
          col("query_id") === col("aq") && col("neighbor_id") === col("an"), "left")
        .agg(countDistinct(col("query_id")).as("n_queries"),
          count(lit(1)).as("k_total"), count(col("an")).as("n_hits"))
        .select(lit(name).as("variant"), col("n_queries"), col("k_total"),
          col("n_hits"), expr("n_hits * 1000000 div k_total").as("recall_ppm"))
    audit("ivf_nprobe2", s19bKnnGraphIvf(spark, dir))
      .unionByName(audit("refined_1round", s21GraphRefine(spark, dir)))
      .orderBy("variant")
  }

  /** s26 flag threshold: a vector is an OUTLIER when the sum of its
    * top-3 neighbor cosines in 10⁻⁴ units stays under this — i.e. its
    * BEST three neighbors average below ~0.29 cosine. On the
    * adversarial near-orthogonal corpus the isolation sum ranges
    * ~8000–13000 with p5 ≈ 8850 at every test SF (measured), so this
    * flags the genuine bottom few percent without flagging the mass —
    * a production run re-derives the cut from its own q20b sketch. */
  val S26IsolationMicro = 8800L

  /** s26: k-NN OUTLIER scan — embedding-space isolation pruning, the
    * curation step CLIP-filter-style pipelines run before training
    * (garbled decodes, wrong-modality rows, and corrupt embeddings
    * land far from everything; their k-NN neighborhood is empty in
    * cosine terms even though brute-force always returns SOMETHING).
    * Isolation score per vector = Σ of its top-3 neighbor cosines in
    * integer micro-units; flag when under [[S26IsolationMicro]]. Per
    * label: vectors, flagged count, and the mean isolation (integer
    * div) — the tail report a release reads before pruning.
    *
    * Float honesty (SURVEY §6): the only float is s19's round(cos, 4),
    * which already hash-gates — the micro conversion re-rounds that
    * gated double (ROUND(c4 × 10⁴), >10⁵ ULPs from any .5 boundary)
    * and everything after is integer, so the whole report gates. The
    * sum is over a vector's OWN ≤3 edges (collected per group, not
    * float-accumulated across partitions — no order sensitivity).
    * Shape: the gated graph + one per-vector agg + a ≤|labels| rollup
    * — linear in edges.
    *
    * Graph-parameterized (s25Of's rule, round 11): the gated entry
    * reads the persisted exact graph (the only hash-gated build); a
    * production run at 100 TB feeds [[s26Of]] the LINEAR
    * [[s19bKnnGraphIvf]] build instead — the scan is then
    * |corpus|·nProbe/nLists, never quadratic, and nothing broadcasts
    * the corpus (spec-pinned over the IVF graph; swap documented in
    * DEPLOY.md). */
  def s26KnnOutlier(spark: SparkSession, dir: String): DataFrame =
    s26Of(s19GraphIndex(spark, dir),
      Tables.embeddings(spark, dir).select(col("vec_id"), col("label")))

  /** The isolation scan over ANY (query_id, neighbor_id, cosine) graph
    * + (vec_id, label) relation — linear in edges whatever graph is
    * supplied, so the s19b IVF build makes the whole outlier report
    * sub-quadratic end to end. */
  private[graft] def s26Of(g: DataFrame, labels: DataFrame): DataFrame = {
    val micro = g
      .select(col("query_id"),
        round(col("cosine") * 10000).cast("long").as("micro"))
      .groupBy(col("query_id"))
      .agg(sum(col("micro")).as("iso_micro"))
    labels
      .select(col("vec_id").as("query_id"), col("label"))
      .join(micro, Seq("query_id"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(when(col("iso_micro") < S26IsolationMicro, 1L).otherwise(0L))
          .as("n_outliers"),
        sum(col("iso_micro")).as("iso_sum"))
      .select(col("label"), col("n_vecs"), col("n_outliers"),
        expr("iso_sum div n_vecs").as("mean_iso_micro"))
      .orderBy("label")
  }

  /** s25 knobs: the seed residue class (vec_id % [[S25SeedMod]] = 0 —
    * 20% of the corpus plays the curated-labels role) and the bounded
    * round count. */
  val S25SeedMod = 5
  val S25Rounds = 2

  /** s25: LABEL PROPAGATION over the exact k-NN graph — the
    * semi-supervised labeling trick a curation pipeline runs when
    * labels are expensive (Zhu & Ghahramani 2002): a small curated
    * seed set (quality tiers, domains, licenses) spreads to the
    * unlabeled corpus through embedding-space neighbors — each
    * unlabeled vector takes the MAJORITY label among its already-
    * labeled graph neighbors (ties → smallest label), newly-labeled
    * vectors vote in later rounds. The report is the audit that says
    * whether embedding neighborhoods actually carry label structure:
    * per label, seeds, propagated count, and propagation accuracy
    * against the held-back true labels in integer ppm.
    *
    * Shape at 100 TB: [[S25Rounds]] bounded rounds, each ONE equi-join
    * of the k-bounded edge list against the current label table plus a
    * per-vertex majority aggregate whose buffer is one (count, −label)
    * struct max — no window, partial-aggregable, linear in edges.
    * All-integer logic on top of the gated s19 graph, so the whole
    * propagation sits under the hash gate (oracle unrolls the same two
    * rounds over the same graph CTE). Lineage honesty (s21's rule):
    * the graph plan executes once per round; a many-round production
    * run checkpoints the label table between rounds — d07's rule. */
  def s25LabelProp(spark: SparkSession, dir: String): DataFrame =
    s25LabelProp(spark, dir, S25Rounds)

  def s25LabelProp(spark: SparkSession, dir: String, rounds: Int): DataFrame =
    s25Of(Tables.embeddings(spark, dir).select(col("vec_id"), col("label")),
      s19GraphIndex(spark, dir).select(col("query_id"), col("neighbor_id")),
      rounds)

  /** The propagation core over any (vec_id, label) relation + edge
    * list — split out so the spec can drive it with a PLANTED
    * label-clustered fixture: on the synthetic corpus labels are
    * random w.r.t. geometry, so the gated audit honestly reads
    * near-chance accuracy (exactly the question the audit answers);
    * the fixture proves the machinery reports ~10⁶ ppm when
    * neighborhoods DO carry label structure.
    *
    * Label TYPE contract: the majority tie-break buffer is
    * max(struct(count, −label)) — partial-aggregable but NUMERIC-only
    * (the unary minus). Non-numeric labels (quality tiers, licenses —
    * the production seed sets) are dictionary-encoded to dense integer
    * codes first: ORDER-PRESERVING (rank over the sorted distinct-label
    * set, ≤|labels| rows — driver-bounded), so min-code ties ≡
    * min-label ties and the decoded report is exactly what a native
    * string propagation would produce (spec-pinned).
    *
    * NULL-label rows are excluded UP FRONT on both paths: a NULL true
    * label can neither seed nor be audited, and leaving them only in
    * the numeric path would make the two paths diverge (the string
    * dictionary's equi-join drops NULL keys silently). */
  private[graft] def s25Of(e0: DataFrame, g: DataFrame, rounds: Int): DataFrame = {
    val e = e0.filter(col("label").isNotNull)
    e.schema("label").dataType match {
      case _: org.apache.spark.sql.types.NumericType => s25OfNumeric(e, g, rounds)
      case _ =>
        val codes = e.select(col("label")).distinct()
          .withColumn("lcode",
            // ≤|labels|-row rank; the marker keeps the window
            // partitioned (non-foldable, q36/t22/p19's rule)
            row_number().over(Window.partitionBy(length(col("label")) % 1)
              .orderBy(col("label"))).cast("long"))
        val coded = e.join(broadcast(codes), Seq("label"))
          .select(col("vec_id"), col("lcode").as("label"))
        s25OfNumeric(coded, g, rounds)
          .withColumnRenamed("label", "lcode")
          .join(broadcast(codes), Seq("lcode"))
          .select(col("label"), col("n_seed"), col("n_propagated"),
            col("n_correct"), col("acc_ppm"))
          .orderBy("label")
    }
  }

  private def s25OfNumeric(e: DataFrame, g: DataFrame, rounds: Int): DataFrame = {
    var labels = e.filter(col("vec_id") % S25SeedMod === 0)
      .select(col("vec_id"), col("label").as("plabel"), lit(0).as("round"))
    var r = 1
    while (r <= rounds) {
      val cand = g
        .join(labels.select(col("vec_id").as("neighbor_id"), col("plabel")),
          Seq("neighbor_id"))
        .join(labels.select(col("vec_id").as("query_id")),
          Seq("query_id"), "left_anti")
        .groupBy(col("query_id"), col("plabel"))
        .agg(count(lit(1)).as("c"))
        // lexicographic struct max = majority count, then max(-label) =
        // MIN label on ties — d21's partial-aggregable argmax buffer
        .groupBy(col("query_id"))
        .agg(max(struct(col("c"), (-col("plabel")).as("nl"))).as("m"))
        .select(col("query_id").as("vec_id"), (-col("m.nl")).as("plabel"),
          lit(r).as("round"))
      labels = labels.unionByName(cand)
      r += 1
    }
    labels
      .join(e.withColumnRenamed("label", "true_label"), Seq("vec_id"))
      .groupBy(col("plabel").as("label"))
      .agg(sum(when(col("round") === 0, 1L).otherwise(0L)).as("n_seed"),
        sum(when(col("round") > 0, 1L).otherwise(0L)).as("n_propagated"),
        sum(when(col("round") > 0 && col("plabel") === col("true_label"), 1L)
          .otherwise(0L)).as("n_correct"))
      .withColumn("acc_ppm",
        expr("n_correct * 1000000 div greatest(1, n_propagated)"))
      .orderBy("label")
  }

  /** Exact float-IP top-3 per query — s17's reference ranking. */
  private[graft] def s17ExactIpTop3(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val q = e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val scored = e.select(col("vec_id").as("neighbor_id"), col("embedding").as("cv"))
      .crossJoin(broadcast(q))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("ip",
        graft.functions.NativeFunctions.dotProduct(col("qv"), col("cv")))
    graft.plans.TopK.perGroup(scored, Seq(col("query_id")),
        Seq(col("ip").desc, col("neighbor_id").asc), 3)
      .select(col("query_id"), col("neighbor_id"))
  }

  /** Coreset size for [[s08KcenterCoreset]] — a KNOB like s03's nLists:
    * a real data-pruning run sizes k to its selection budget. */
  val CoresetK = 16

  /** s08: k-CENTER CORESET selection — the diversity-maximizing
    * prototype subset a data-pruning pipeline keeps when it cannot
    * afford (or does not want) the full corpus: greedy farthest-point
    * traversal (Gonzalez' classic 2-approximation to the k-center
    * dispersion objective) picks k maximally-spread exemplars, and
    * every corpus vector is assigned to its nearest exemplar. Where
    * d12/SemDeDup prunes REDUNDANCY (drop near-copies), this keeps
    * COVERAGE (retain spread) — the two ends of the
    * diversity-vs-density selection spectrum.
    *
    * Scale shape (s03/t21 sample-fit precedent): the greedy traversal
    * is inherently sequential, so it runs driver-side on the bounded
    * stride sample (≤ 4096 rows — the selection is a FIT, k·n sample
    * dots in ~ms); the corpus-side assignment is one map-side scan
    * against k broadcast centroid literals (native codegen'd cosine,
    * argmax over k) feeding a ≤ k-group partial agg — no shuffle wider
    * than k rows, never a pairwise join. Output per selected center:
    * selection rank, the center's vec_id, members assigned, and the
    * worst member cosine (per-center coverage quality). Rows-only (the
    * iterative greedy fit is not DuckDB-expressible — s03 precedent);
    * SimilaritySpec pins the greedy-sequence invariants and the
    * assignment totals. */
  def s08KcenterCoreset(spark: SparkSession, dir: String,
      k: Int = CoresetK): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val n = Tables.parquetRowCount(spark, dir, "embeddings")
    val stride = math.max(1L, n / 4096)
    val sampleRows = e.filter(pmod(col("vec_id"), lit(stride)) === 0)
      .orderBy("vec_id").select(col("vec_id"), col("embedding")).collect()
    val ids = sampleRows.map(_.getLong(0))
    val pts = sampleRows.map(_.getSeq[Float](1).toArray.map(_.toDouble))
      .map(unitOrE1)
    val centers = farthestPoints(pts, k)
    val cents = centers.map(i => pts(i).map(_.toFloat))
    import spark.implicits._
    val meta = centers.zipWithIndex
      .map { case (si, rank) => (rank, ids(si)) }
      .toDF("center_rank", "center_id")
    val cosines = centroidCosines(cents)
    val assigned = e.withColumn("cosines", cosines)
      .withColumn("best_cos", array_max(col("cosines")))
      .withColumn("center_rank",
        (array_position(col("cosines"), col("best_cos")) - 1).cast("int"))
      .groupBy(col("center_rank"))
      .agg(count(lit(1)).as("n_assigned"),
        round(min(col("best_cos")), 4).as("min_cos"))
    // left from the center list: a center emptied by an exact-duplicate
    // twin (ties assign to the FIRST max) must stay visible as 0, not
    // silently shrink the report below k rows. A left outer join can
    // only build on its right side, so the hint goes on the ≤ k-row
    // assignment aggregate, not on the preserved center list.
    meta.join(broadcast(assigned), Seq("center_rank"), "left")
      .select(col("center_rank").cast("long").as("center_rank"),
        col("center_id"), coalesce(col("n_assigned"), lit(0L)).as("n_assigned"),
        col("min_cos"))
      .orderBy("center_rank")
  }

  /** Cosine threshold for [[s06RangeSearch]]. Measured margin at sf0.01:
    * the nearest pair on either side of the line sits 0.0012 away
    * (next: 0.0023, 0.0028) — thin, but still ~10¹² × cross-engine
    * float noise; anyone retuning τ should re-measure the gap first
    * (q31 precedent). */
  val RangeTau = 0.3

  /** FIXTURE inverted-list count for the range family's explicit-knob
    * forms (spec corpora pin a fixed denominator). The no-knob
    * corpus-dir entries (s06, d13) size from parquet footers via
    * [[autoNLists]] like every other index family (r13 — this was the
    * last fixed index knob); exactness never depends on the value
    * (triangle-bound pruning), only pruning power does. */
  val RangeLists = 16

  /** s06: RANGE similarity search — every corpus vector within cosine ≥
    * τ of each query, the "all similar enough" retrieval/contamination
    * form that top-k cannot express (k-NN bounds the COUNT; range search
    * bounds the QUALITY — a query with no near content returns nothing
    * instead of k strangers).
    *
    * Shipped plan: EXACT pruned search over an inverted-list index
    * ([[s06RangeSearchPruned]]) — result-identical to the brute scan
    * (spec-pinned at test SF, and guaranteed by the triangle inequality
    * plus the [[positiveNorm]] zero-norm screen, not by data luck), with
    * per-query list pruning instead of a full corpus scan per query. An LSH candidate generator (the s02 bucket
    * join) CANNOT back this operator: sign-LSH drops any τ-pair whose
    * bits disagree, so its result is a recall-limited subset — fine for
    * the top-k ANN family where approximation is declared, wrong for a
    * hash-gated exact operator. The approximate form exists separately
    * as [[s06RangeSearchAnn]] for declared-approximate sweeps. */
  def s06RangeSearch(spark: SparkSession, dir: String): DataFrame =
    s06RangeSearchPruned(spark, dir, RangeTau, autoNLists(spark, dir))

  /** The un-pruned reference scan — oracle mirror and the spec's equality
    * baseline. O(corpus × queries): correct, but the shape that dies on
    * a large query set (contamination sweeps). */
  private[graft] def s06RangeSearchBrute(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir).filter(positiveNorm)
    val q = e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    e.select(col("vec_id").as("neighbor_id"), col("embedding").as("cv"))
      .crossJoin(broadcast(q))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cos", VF.cosine(col("qv"), col("cv")))
      .filter(coalesce(col("cos") >= RangeTau, lit(false)))
      .select(col("query_id"), col("neighbor_id"), round(col("cos"), 4).as("cosine"))
      .orderBy("query_id", "neighbor_id")
  }

  /** Per-query surviving probe lists for the pruned range search —
    * exposed for the spec's pruning-effectiveness assertion. Columns:
    * (list_id, query_id, qv). */
  private[graft] def s06Probes(spark: SparkSession, dir: String, tau: Double,
      nLists: Int): DataFrame = {
    val (assigned, stats) = rangeIndex(spark, dir, nLists)
    probesFrom(assigned, stats, tau)
  }

  /** Float-noise slack on the triangle bound: the unit centroids are
    * float-rounded (‖ĉ‖ = 1 ± 1e-7), so the 2−2·cos distance identity
    * carries ~1e-6 absolute error on each side of the comparison. The
    * slack only GROWS the candidate superset — exactness is one-sided. */
  private val RangeSlack = 1e-5

  private def probesFrom(assigned: DataFrame, stats: DataFrame,
      tau: Double): DataFrame =
    trianglePrune(assigned.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        col("cosines")), stats, tau)

  /** Triangle-inequality list pruning, factored so the query side can be
    * EITHER index members (s06: queries ⊆ corpus, centroid cosines
    * already on the row) or an external query set (d13: the eval split
    * probing the train index — queries are NOT index members; callers
    * attach `cosines` via [[centroidCosines]] first). Input columns:
    * (query_id, qv, cosines); output: surviving (list_id, query_id, qv)
    * probes. */
  private[graft] def trianglePrune(qWithCos: DataFrame, stats: DataFrame,
      tau: Double): DataFrame = {
    // On unit vectors ‖u−v‖² = 2−2·cos(u,v), so cos ≥ τ ⟺ ‖u−v‖ ≤ R.
    val searchR = math.sqrt(2.0 - 2.0 * tau)
    qWithCos
      .select(col("query_id"), col("qv"), posexplode(col("cosines")))
      .withColumn("list_id", col("pos").cast("int"))
      .withColumn("qdist",
        sqrt(greatest(lit(0.0), lit(2.0) - lit(2.0) * col("col"))))
      .join(broadcast(stats), Seq("list_id"))
      // triangle inequality: a member m of list with unit centroid ĉ and
      // ‖q̂−m̂‖ ≤ R has ‖q̂−ĉ‖ ≤ ‖q̂−m̂‖ + ‖m̂−ĉ‖ ≤ R + radius — any
      // list failing this bound provably holds no result for q.
      .filter(col("qdist") <= col("radius") + lit(searchR + RangeSlack))
      .select(col("list_id"), col("query_id"), col("qv"))
  }

  /** Per-row array of cosines against the (bounded, ≤ nLists) centroid
    * literals — the map-side assignment scan shared by the index build
    * and external query sets. Native codegen'd cosine per centroid. */
  private[graft] def centroidCosines(cents: Seq[Array[Float]]): Column =
    array(cents.map(c => VF.cosine(col("embedding"), typedLit(c))): _*)

  /** Inverted-list index for exact pruned search. A spherical k-means
    * over a bounded deterministic sample (s03's stride rule, ≤ maxFit
    * rows — ~1 MB, the one collect this operator does; at 100 TB the
    * sample bound is unchanged) runs DRIVER-side in ~10 ms — a
    * distributed fit spends ~1.5 s of job overhead quantizing 4096
    * points, all of it waste (measured: 3.9 s with MLlib KMeans + HOF
    * distance lambdas, 0.8 s this form). From the float unit centroids
    * everything on the corpus is the native codegen'd cosine against
    * centroid literals — no UDF, no interpreted HOF in any full scan:
    *   - assignment: list_id = argmax_i cos(v, ĉ_i) (≡ nearest unit
    *     centroid in euclidean-on-sphere distance),
    *   - member distance to own centroid: ‖v̂−ĉ‖ = √(2−2·cos(v, ĉ)),
    *   - per-list covering radius: √(2−2·min_members cos) — one
    *     groupBy over the assignment scan, no join.
    * Returns (assigned corpus with `cosines`+`list_id`, stats
    * (list_id, radius)) — stats is ≤ nLists rows, always
    * broadcastable. Exactness never depends on fit quality or on WHICH
    * point serves as a list's centroid — only pruning power does. */
  private[graft] def rangeIndex(spark: SparkSession, dir: String,
      nLists: Int): (DataFrame, DataFrame) = {
    val e = Tables.embeddings(spark, dir).filter(positiveNorm)
      .select(col("vec_id"), col("embedding"))
    val n = Tables.parquetRowCount(spark, dir, "embeddings")
    val (assigned, stats, _) =
      rangeIndexPersisted(spark, dir, "s06", e, n, nLists)
    (assigned, stats)
  }

  /** Zero-norm screen for the EXACT operators (s06/d13): cosine against
    * the zero vector is NaN, and NaN compares GREATER than τ in both
    * Spark and DuckDB — a brute scan would count every (query, 0⃗) pair
    * while the metric index cannot see them (a NaN has no distance, so
    * the triangle bound never protects its list). Excluding zero-norm
    * vectors from BOTH sides (and from both the brute mirror and the
    * oracle) keeps pruned ≡ brute a theorem rather than a data-luck
    * fact; a zero embedding is an upstream encoder failure, not a
    * similarity result. */
  private[graft] val positiveNorm: Column =
    VF.dot(col("embedding"), col("embedding")) > lit(0.0)

  /** [[rangeIndex]] over an arbitrary corpus frame (vec_id, embedding) —
    * the generalization that lets d13 index only the TRAIN split. `n`
    * is an upper bound on the corpus size used only to size the fit
    * sample's stride (a parquet footer count of the underlying table is
    * fine: a filtered corpus just fits on proportionally fewer sample
    * points, and exactness never depends on the fit). Also returns the
    * unit centroids so external query sets can compute their own probe
    * cosines ([[centroidCosines]]). */
  private[graft] def rangeIndexOf(e: DataFrame, n: Long,
      nLists: Int): (DataFrame, DataFrame, Seq[Array[Float]]) = {
    val maxFit = 4096
    val stride = math.max(1L, n / maxFit)
    val sample: Array[Array[Double]] = e
      .filter(pmod(col("vec_id"), lit(stride)) === 0)
      .orderBy("vec_id").select("embedding").collect()
      .map(_.getSeq[Float](0).toArray.map(_.toDouble))
      .map(unitOrE1)
    val cents = sphericalKMeans(sample, nLists, iters = 10)
      .map(_.map(_.toFloat))
    val cosines = centroidCosines(cents)
    // PERSIST the assignment: it feeds three plan branches (list stats,
    // the probe set, and the member side of the candidate join) — an
    // unpersisted subtree would re-scan the corpus and recompute the
    // nLists cosines per branch, making the "assigned once, map-side"
    // claim false and the pruned plan costlier than the brute scan it
    // replaces. Spark evicts LRU under pressure; at 100 TB the index
    // is a written table, not a cache.
    val assigned = e
      .withColumn("cosines", cosines)
      .withColumn("best_cos", array_max(col("cosines")))
      .withColumn("list_id",
        (array_position(col("cosines"), col("best_cos")) - 1).cast("int"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val stats = assigned.groupBy(col("list_id"))
      .agg(sqrt(greatest(lit(0.0),
        lit(2.0) - lit(2.0) * min(col("best_cos")))).as("radius"))
    (assigned, stats, cents)
  }

  private def unitOrE1(a: Array[Double]): Array[Double] = {
    val nrm = math.sqrt(a.map(x => x * x).sum)
    if (nrm > 0) a.map(_ / nrm)
    else { val z = a.map(_ => 0.0); z(0) = 1.0; z } // degenerate: any unit point
  }

  private def ddot(a: Array[Double], b: Array[Double]): Double = {
    var d = 0.0; var j = 0
    while (j < a.length) { d += a(j) * b(j); j += 1 }
    d
  }

  /** Greedy farthest-point traversal (Gonzalez' k-center
    * 2-approximation) on unit vectors: start from pts(0), repeatedly
    * add the point whose max cosine to the chosen set is SMALLEST
    * (= farthest on the sphere). Returns the chosen indices in
    * selection order. Doubles as k-means++-style seeding
    * ([[sphericalKMeans]]) and as the s08 coreset selector. O(n·k)
    * driver math on the bounded sample. */
  private[graft] def farthestPoints(pts: Array[Array[Double]], k: Int): Seq[Int] = {
    require(pts.nonEmpty, "empty sample")
    val sel = scala.collection.mutable.ArrayBuffer(0)
    val selected = Array.fill(pts.length)(false)
    selected(0) = true
    val maxCos = Array.fill(pts.length)(Double.NegativeInfinity)
    while (sel.length < math.min(k, pts.length)) {
      var i = 0
      while (i < pts.length) {
        val c = ddot(pts(i), pts(sel.last))
        if (c > maxCos(i)) maxCos(i) = c
        i += 1
      }
      // argmin over UNSELECTED indices only: when every remaining point
      // is an exact duplicate of a chosen one (all maxCos ≈ 1), an
      // unrestricted argmin would settle on index 0 — already selected —
      // and emit repeated indices. Restricting keeps the returned
      // indices distinct (duplicate COORDINATES may still be chosen,
      // last, which is honest: they are distinct sample rows).
      var best = -1; var bestScore = Double.PositiveInfinity
      i = 0
      while (i < pts.length) {
        if (!selected(i) && maxCos(i) < bestScore) {
          bestScore = maxCos(i); best = i
        }
        i += 1
      }
      sel += best
      selected(best) = true
    }
    sel.toSeq
  }

  /** Deterministic spherical k-means on unit vectors: greedy
    * farthest-point seeding (the deterministic k-means++ analogue —
    * stride seeding collapses onto the dominant mode and leaves mixed,
    * wide-radius lists), argmax-cosine assignment, mean-then-renormalize
    * update. Empty clusters keep their previous centroid. Pure driver
    * math on the bounded sample. */
  private def sphericalKMeans(pts: Array[Array[Double]], k: Int,
      iters: Int): Seq[Array[Double]] = {
    require(pts.nonEmpty, "empty quantizer sample")
    val dim = pts(0).length
    val seeds = farthestPoints(pts, k).map(pts)
    var cents = Array.tabulate(k)(i => seeds(i % seeds.length))
    for (_ <- 0 until iters) {
      val sums = Array.fill(k)(new Array[Double](dim))
      val counts = new Array[Int](k)
      pts.foreach { p =>
        var best = 0; var bestDot = Double.NegativeInfinity
        var i = 0
        while (i < k) {
          var d = 0.0; var j = 0
          while (j < dim) { d += p(j) * cents(i)(j); j += 1 }
          if (d > bestDot) { bestDot = d; best = i }
          i += 1
        }
        var j = 0
        while (j < dim) { sums(best)(j) += p(j); j += 1 }
        counts(best) += 1
      }
      cents = Array.tabulate(k)(i =>
        if (counts(i) == 0) cents(i) else unitOrE1(sums(i)))
    }
    cents.toIndexedSeq
  }

  /** EXACT pruned range search. The corpus is assigned to inverted lists
    * once (map-side, broadcast centroids — the same IVF shape as s03);
    * each query keeps only the lists the triangle bound cannot rule out,
    * and the exact cosine ≥ τ filter runs on surviving (query, list)
    * members via a list_id equi-join — never the full corpus per query.
    *
    * Pruning power scales with τ and cluster tightness: at τ = 0.9
    * (near-dup/contamination regime, search radius 0.45) most lists
    * prune; at the default τ = 0.3 (search radius 1.18, wider than most
    * inter-cluster gaps in 64-dim) few do, and the plan DEGRADES
    * GRACEFULLY to the brute scan's candidate volume — exactness never
    * depends on the clustering, only the scan savings do. That is the
    * correct trade for an exact operator; callers who can accept misses
    * at scale use [[s06RangeSearchAnn]]. */
  def s06RangeSearchPruned(spark: SparkSession, dir: String, tau: Double,
      nLists: Int): DataFrame = {
    val (assigned, stats) = rangeIndex(spark, dir, nLists)
    val probes = probesFrom(assigned, stats, tau)
    assigned.select(col("list_id"), col("vec_id").as("neighbor_id"),
        col("embedding").as("cv"))
      .join(broadcast(probes), Seq("list_id"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cos", VF.cosine(col("qv"), col("cv")))
      .filter(coalesce(col("cos") >= tau, lit(false)))
      .select(col("query_id"), col("neighbor_id"), round(col("cos"), 4).as("cosine"))
      .orderBy("query_id", "neighbor_id")
  }

  /** APPROXIMATE range search — the s02 sign-LSH bucket join as candidate
    * generator with the exact cosine ≥ τ verify on candidates only, for
    * declared-approximate sweeps over very large query sets where
    * recall < 1 is acceptable. Result ⊆ the exact range set by
    * construction (verify is exact; spec-pinned); recall follows the
    * same per-bit agreement curve s04 audits. */
  def s06RangeSearchAnn(spark: SparkSession, dir: String, tau: Double = RangeTau,
      bits: Int = AnnSignBits): DataFrame = {
    val e = Tables.embeddings(spark, dir).filter(positiveNorm)
      .withColumn("bucket", VF.signBucket(col("embedding"), bits))
    val q = multiProbed(e.filter(col("vec_id") < NumQueries)
      .select(col("bucket"), col("vec_id").as("query_id"),
        col("embedding").as("qv")), bits)
    e.select(col("bucket"), col("vec_id").as("neighbor_id"), col("embedding").as("cv"))
      .join(broadcast(q), Seq("bucket"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cos", VF.cosine(col("qv"), col("cv")))
      .filter(coalesce(col("cos") >= tau, lit(false)))
      .select(col("query_id"), col("neighbor_id"), round(col("cos"), 4).as("cosine"))
      .orderBy("query_id", "neighbor_id")
  }

  /** PQ knobs: 8 subspaces × 16 sub-centroids = 8 half-byte codes per
    * vector — a 64-dim float32 embedding (256 B) compresses to 4 B of
    * codes (64×), the memory arithmetic that lets a 100 TB vector corpus
    * fit a serving tier. Production PQ uses m=16..64, k=256 (byte
    * codes) with the identical plan. */
  val PqSubspaces = 8
  val PqCodebookSize = 16

  /** Deterministic Lloyd's k-means (euclidean) on a bounded driver
    * sample: strided seeding over the ordered sample, fixed iteration
    * count, argmin ties to the lower index — reproducible on any
    * engine/cluster (the t21/s03 determinism rule). O(n·k·d·iters)
    * driver math on ≤4096 rows. */
  private def lloydKMeans(pts: Array[Array[Double]], k: Int,
      iters: Int): Array[Array[Double]] = {
    val n = pts.length
    val kk = math.min(k, n)
    var cents = Array.tabulate(kk)(i => pts((i.toLong * n / kk).toInt).clone())
    for (_ <- 0 until iters) {
      val sums = Array.fill(kk)(new Array[Double](pts(0).length))
      val cnts = new Array[Long](kk)
      pts.foreach { p =>
        var best = 0; var bd = Double.MaxValue; var j = 0
        while (j < kk) {
          var d = 0.0; var t = 0
          while (t < p.length) { val df = p(t) - cents(j)(t); d += df * df; t += 1 }
          if (d < bd) { bd = d; best = j }
          j += 1
        }
        cnts(best) += 1
        var t = 0; while (t < p.length) { sums(best)(t) += p(t); t += 1 }
      }
      cents = Array.tabulate(kk)(j =>
        if (cnts(j) == 0) cents(j) else sums(j).map(_ / cnts(j)))
    }
    cents
  }

  /** PQ codebooks: per subspace, a k-means over the subvectors of the
    * bounded stride sample (s03's fit discipline). Returns (codebooks
    * [m][k][dsub], dsub). */
  private[graft] def pqCodebooks(spark: SparkSession, dir: String, m: Int,
      k: Int): (IndexedSeq[Array[Array[Double]]], Int) = {
    val e = Tables.embeddings(spark, dir)
    val n = Tables.parquetRowCount(spark, dir, "embeddings")
    val stride = math.max(1L, n / 4096)
    val sample = e.filter(pmod(col("vec_id"), lit(stride)) === 0)
      .orderBy("vec_id").select("embedding").collect()
      .map(_.getSeq[Float](0).toArray.map(_.toDouble))
    val d = sample.head.length
    require(d % m == 0, s"dim $d not divisible by $m subspaces")
    val dsub = d / m
    val books = (0 until m).map { mm =>
      lloydKMeans(sample.map(_.slice(mm * dsub, (mm + 1) * dsub)), k, iters = 10)
    }
    (books, dsub)
  }

  /** Map-side PQ ENCODING column — the codegen'd
    * [[graft.functions.PqUtil.encode]] expression (per subspace, argmin
    * squared distance to the sub-centroids, ties to the lower code). At
    * 100 TB this is the one full corpus pass PQ ever does, so it runs
    * as one compiled loop per row inside whole-stage codegen. */
  private[graft] def pqEncodeNative(emb: Column,
      books: IndexedSeq[Array[Array[Double]]]): Column =
    graft.functions.NativeFunctions.pqEncode(emb,
      books.map(_.map(_.toSeq).toSeq).toSeq)

  /** The declarative HOF mirror of [[pqEncodeNative]] (array_position
    * of array_min over fold-summed squared diffs) — retained as the
    * engine-checkable parity pin (NativeExprSpec), not the data path. */
  private[graft] def pqCodes(emb: Column,
      books: IndexedSeq[Array[Array[Double]]], dsub: Int): Column =
    array(books.indices.map { mm =>
      val sub = slice(emb, mm * dsub + 1, dsub)
      val dists = array(books(mm).map { c =>
        aggregate(zip_with(sub, typedLit(c.toSeq),
          (x, y) => (x.cast("double") - y) * (x.cast("double") - y)),
          lit(0.0), (a, v) => a + v)
      }.toIndexedSeq: _*)
      (array_position(dists, array_min(dists)) - 1).cast("int")
    }: _*)

  /** s09: PRODUCT-QUANTIZATION ANN (Jégou et al. 2011) — the memory-side
    * scale path the LSH/IVF family doesn't cover: vectors compress to m
    * sub-centroid codes (64× here), and query-to-vector distance is
    * approximated ASYMMETRICALLY (ADC) — the query precomputes one m×k
    * table of exact subspace distances, and each corpus vector costs m
    * table LOOKUPS instead of d multiplies, on codes instead of floats.
    * Top-3 per query by approximate distance, ties broken by id.
    *
    * Scale shape: codebooks fit on the bounded driver sample, the
    * corpus is ENCODED in one map-side pass (the codes table is what a
    * serving tier stores — 4 B/vector), the 8-query × m×k ADC tables
    * broadcast as literals, and scoring is a map-side fold over codes
    * feeding the TopKPerGroup heap: no shuffle wider than k·|queries|
    * rows, no join at all. Rows-only in the gate (iterative k-means —
    * s03 precedent); SimilaritySpec pins code validity, exact ADC
    * reconstruction against a driver recompute, determinism, and the
    * quantization-error bound vs true distances. */
  /** Per-query ADC tables: exact squared distance from each query's
    * subvectors to every sub-centroid — |queries|×m×k doubles of driver
    * math, broadcast to the scan. Shared by s09 and s10. */
  private[graft] def pqQueryTables(spark: SparkSession, dir: String,
      books: IndexedSeq[Array[Array[Double]]], dsub: Int): DataFrame = {
    import spark.implicits._
    val m = books.length
    Tables.embeddings(spark, dir).filter(col("vec_id") < NumQueries)
      .orderBy("vec_id").select(col("vec_id"), col("embedding")).collect()
      .map { r =>
        val qv = r.getSeq[Float](1).toArray.map(_.toDouble)
        val tab = (0 until m).map { mm =>
          val qs = qv.slice(mm * dsub, (mm + 1) * dsub)
          books(mm).map { c =>
            var dd = 0.0; var t = 0
            while (t < qs.length) { val df = qs(t) - c(t); dd += df * df; t += 1 }
            dd
          }.toSeq
        }
        (r.getLong(0), tab)
      }.toSeq.toDF("query_id", "qtab")
  }

  /** s09's PERSISTED index: the encoded CODES table (vec_id, codes — the
    * 4 B/vector relation a PQ serving tier stores) plus the codebooks,
    * written once per (corpus, m, k) under the warehouse exactly like
    * [[s03Index]]. Serving reads codes instead of re-fitting AND
    * re-encoding the corpus — per-query-batch cost becomes the ADC fold
    * over the codes table alone. Deterministic fit ⇒ index-served ≡
    * fresh-build (the existing s09 determinism spec crosses the
    * build/serve boundary). */
  private[graft] def s09Index(spark: SparkSession, dir: String, m: Int,
      k: Int): (DataFrame, IndexedSeq[Array[Array[Double]]], Int) = {
    import spark.implicits._
    val n = Tables.parquetRowCount(spark, dir, "embeddings")
    val path = ivfIndexPath(spark, dir, s"pq$m", k, n)
    if (!ivfExists(spark, path)) {
      val (books, _) = pqCodebooks(spark, dir, m, k)
      val codes = Tables.embeddings(spark, dir)
        .select(col("vec_id"), pqEncodeNative(col("embedding"), books).as("codes"))
      publishIndex(spark, path) { tmp =>
        codes.write.parquet(tmp + "/codes")
        booksDf(spark, books).coalesce(1).write.parquet(tmp + "/books")
      }
    }
    val books = booksFromPath(spark, path)
    (spark.read.parquet(path + "/codes"), books, books.head.head.length)
  }

  private def booksDf(spark: SparkSession,
      books: IndexedSeq[Array[Array[Double]]]): DataFrame = {
    import spark.implicits._
    books.zipWithIndex.flatMap { case (bk, mm) =>
      bk.zipWithIndex.map { case (c, j) => (mm, j, c.toSeq) }
    }.toDF("m", "j", "cent")
  }

  private def booksFromPath(spark: SparkSession,
      path: String): IndexedSeq[Array[Array[Double]]] =
    spark.read.parquet(path + "/books")
      .orderBy("m", "j").collect()
      .map(r => (r.getInt(0), r.getSeq[Double](2).toArray))
      .groupBy(_._1).toIndexedSeq.sortBy(_._1)
      .map(_._2.map(_._2).toArray)

  def s09PqAnn(spark: SparkSession, dir: String): DataFrame =
    s09PqAnn(spark, dir, PqSubspaces, PqCodebookSize)

  def s09PqAnn(spark: SparkSession, dir: String, m: Int, k: Int): DataFrame = {
    val (encoded0, books, dsub) = s09Index(spark, dir, m, k)
    val qTabs = pqQueryTables(spark, dir, books, dsub)
    val encoded = encoded0.select(col("vec_id").as("neighbor_id"), col("codes"))
    val scored = encoded.crossJoin(broadcast(qTabs))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("adc",
        graft.functions.NativeFunctions.pqAdc(col("codes"), col("qtab")))
    val top = graft.plans.TopK.perGroup(scored, Seq(col("query_id")),
      Seq(round(col("adc"), 6).asc, col("neighbor_id").asc), 3)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(round(col("adc"), 6).asc, col("neighbor_id"))
    top.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("query_id"), col("rk").cast("long").as("rk"),
        col("neighbor_id"), round(col("adc"), 4).as("adc_dist"))
      .orderBy("query_id", "rk")
  }

  /** s10: IVF-PQ ANN — the FAISS-architecture composition of s03 and
    * s09, the shape a production 100 TB vector service actually runs:
    * the IVF coarse quantizer bounds WHICH vectors are touched (nProbe
    * of nLists inverted lists), the PQ codes bound WHAT each touched
    * vector costs (m table lookups on 4 B of codes instead of d float
    * multiplies on 256 B), and a final EXACT rescore of the top
    * `rescore` ADC candidates restores float precision where it matters
    * (the standard shortlist-then-rescore pattern). With `rescore` ≥
    * the probed-list population the result is IDENTICAL to s03
    * (spec-pinned equality — ADC ordering only decides which candidates
    * reach the exact pass); the default trades that guarantee for a
    * bounded exact-scoring budget per query.
    *
    * Scale shape: both index sides are the PERSISTED tables (s03Index's
    * lists + codebooks refit deterministically), candidates ride the
    * same list_id equi-join as s03, ADC is a map-side fold, and BOTH
    * top-k stages are heap operators — the exact pass touches ≤
    * rescore×|queries| rows total. Rows-only (k-means, s03 precedent);
    * specs pin the s03-equality limit, shortlist containment, and
    * determinism. */
  def s10IvfPqAnn(spark: SparkSession, dir: String): DataFrame =
    s10IvfPqAnn(spark, dir, nLists = autoNLists(spark, dir), nProbe = 2,
      m = PqSubspaces, k = PqCodebookSize, rescore = 8)

  /** s10's PERSISTED combined index — the actual FAISS IVFPQ at-rest
    * layout: ONE table carrying (vec_id, embedding, list_id, codes),
    * clustered by list, plus the codebooks; built from [[s03Index]]'s
    * assignment + one encode pass, then served forever. */
  private[graft] def s10Index(spark: SparkSession, dir: String, nLists: Int,
      m: Int, k: Int): (DataFrame, DataFrame, IndexedSeq[Array[Array[Double]]], Int) = {
    val n = Tables.parquetRowCount(spark, dir, "embeddings")
    val path = ivfIndexPath(spark, dir, s"ivfpq${nLists}x$m", k, n)
    val (assigned, centDf) = s03Index(spark, dir, nLists)
    if (!ivfExists(spark, path)) {
      val (books, _) = pqCodebooks(spark, dir, m, k)
      val apq = assigned.withColumn("codes",
        pqEncodeNative(col("embedding"), books))
      publishIndex(spark, path) { tmp =>
        apq.repartition(col("list_id")).write.parquet(tmp + "/assigned")
        booksDf(spark, books).coalesce(1).write.parquet(tmp + "/books")
      }
    }
    val books = booksFromPath(spark, path)
    (spark.read.parquet(path + "/assigned"), centDf, books,
      books.head.head.length)
  }

  def s10IvfPqAnn(spark: SparkSession, dir: String, nLists: Int, nProbe: Int,
      m: Int, k: Int, rescore: Int): DataFrame = {
    val (apq, centDf, books, dsub) = s10Index(spark, dir, nLists, m, k)
    val probes = ivfProbes(apq, centDf, nProbe)
    val qTabs = pqQueryTables(spark, dir, books, dsub)
      .withColumnRenamed("query_id", "qt_id")
    val cand = apq.select(col("list_id"), col("vec_id").as("neighbor_id"),
        col("embedding").as("cv"), col("codes"))
      .join(broadcast(probes), Seq("list_id"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .join(broadcast(qTabs), col("query_id") === col("qt_id"))
      .withColumn("adc",
        graft.functions.NativeFunctions.pqAdc(col("codes"), col("qtab")))
    val shortlist = graft.plans.TopK.perGroup(cand, Seq(col("query_id")),
      Seq(round(col("adc"), 6).asc, col("neighbor_id").asc), rescore)
    val exact = shortlist.withColumn("cos", VF.cosine(col("qv"), col("cv")))
    ranked(graft.plans.TopK.perGroup(exact, Seq(col("query_id")),
      Seq(round(col("cos"), 6).desc, col("neighbor_id").asc), 3), 3)
  }

  // ──────────────── s15: scalar-quantization (SQ8) MIPS ────────────────

  /** The corpus-wide symmetric quantization scale 127/max|x| — ONE
    * scalar off one partial-aggregable pass (no per-dim table): the
    * per-tensor int8 scheme GEMM kernels quantize with. Driver value,
    * folded into the encode expression as a literal. */
  private[graft] def sq8Scale(spark: SparkSession, dir: String): Double = {
    val maxAbs = Tables.embeddings(spark, dir)
      .select(explode(col("embedding")).as("v"))
      .agg(max(abs(col("v")))).head().getFloat(0)
    require(maxAbs > 0f, "sq8: all-zero corpus")
    127.0 / maxAbs.toDouble
  }

  /** s15: SCALAR-QUANTIZATION maximum-inner-product search — the third
    * compression point on the s09 axis (PQ 64×, PCA d/k×, SQ8 4×): every
    * vector stores as d int8 codes (code = round(x·127/max|x|),
    * symmetric per-tensor — FAISS's SQ8 / int8-GEMM scheme), and scoring
    * is the INTEGER dot product of code arrays, which approximates the
    * true inner product monotonically (one global scale ⇒ no per-dim
    * reweighting — ranking error is quantization noise only,
    * spec-measured vs the exact float IP ranking). Unlike s09's ADC the
    * score is exact integer arithmetic, so the WHOLE operator —
    * corpus-wide scale, encode rounding, dot, (dot DESC, id) ranking —
    * is one semantics both engines evaluate: fully hash-gated, the only
    * gated ANN variant (s03/s09/s12 ride k-means fits).
    *
    * Shape at 100 TB: scale is one scalar pass; encode is the codegen'd
    * `graft_sq8_encode` map-side pass (the 4×-smaller codes table is
    * what a serving tier stores — persist it like s03's index); scoring
    * scans codes against the ≤|queries| broadcast query codes with the
    * codegen'd integer dot and reduces through the TopKPerGroup heap —
    * s01's exact shape at a quarter of the bytes and integer ALUs. */
  def s15Sq8Mips(spark: SparkSession, dir: String): DataFrame =
    s15Sq8Mips(spark, dir, k = 3)

  def s15Sq8Mips(spark: SparkSession, dir: String, k: Int): DataFrame = {
    val scale = sq8Scale(spark, dir)
    val codes = Tables.embeddings(spark, dir)
      .select(col("vec_id"),
        graft.functions.NativeFunctions.sq8Encode(col("embedding"), scale)
          .as("code"))
    val q = codes.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("code").as("qc"))
    val scored = codes.select(col("vec_id").as("neighbor_id"), col("code").as("cc"))
      .crossJoin(broadcast(q))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("dot_q",
        graft.functions.NativeFunctions.sq8Dot(col("qc"), col("cc")))
    val top = graft.plans.TopK.perGroup(scored, Seq(col("query_id")),
      Seq(col("dot_q").desc, col("neighbor_id").asc), k)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("dot_q").desc, col("neighbor_id"))
    top.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("rk").cast("long").as("rk"),
        col("neighbor_id"), col("dot_q"))
      .orderBy("query_id", "rk")
  }

  /** Declarative mirrors of the SQ8 expressions — parity oracles only
    * (NativeExprSpec discipline). */
  private[graft] def sq8EncodeDeclarative(emb: Column, scale: Double): Column =
    transform(emb, x => round(x.cast("double") * lit(scale)).cast("int"))
  private[graft] def sq8DotDeclarative(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("long") * y.cast("long")),
      lit(0L), (acc, v) => acc + v)

  val oracle: Map[String, String] = Map(
    "s15_sq8_mips" ->
      s"""WITH sc AS (
            SELECT 127.0 / MAX(abs(v)) AS s FROM (
              SELECT unnest(embedding) AS v FROM embeddings)),
          codes AS (
            SELECT vec_id,
              list_transform(embedding,
                x -> CAST(round(CAST(x AS DOUBLE) * sc.s) AS INT)) AS code
            FROM embeddings, sc),
          q AS (SELECT vec_id AS query_id, code AS qc FROM codes
                WHERE vec_id < $NumQueries),
          scored AS (
            SELECT q.query_id, c.vec_id AS neighbor_id,
              list_reduce(list_prepend(CAST(0 AS BIGINT),
                list_transform(generate_series(1, len(q.qc)),
                  i -> CAST(q.qc[i] AS BIGINT) * CAST(c.code[i] AS BIGINT))),
                (acc, v) -> acc + v) AS dot_q
            FROM q, codes c WHERE c.vec_id <> q.query_id),
          r AS (
            SELECT query_id, neighbor_id, dot_q,
              row_number() OVER (PARTITION BY query_id
                ORDER BY dot_q DESC, neighbor_id) AS rk
            FROM scored)
          SELECT query_id, CAST(rk AS BIGINT) AS rk, neighbor_id, dot_q
          FROM r WHERE rk <= 3
          ORDER BY query_id, rk""",
    "s06_range_search" ->
      // zero-norm vectors excluded from both sides (undefined cosine;
      // see positiveNorm) — mirrors the engine's screen exactly.
      s"""WITH nz AS (SELECT vec_id, embedding FROM embeddings
               WHERE ${VS.dot("embedding", "embedding")} > 0),
            q AS (SELECT vec_id AS query_id, embedding AS qv
               FROM nz WHERE vec_id < $NumQueries)
          SELECT query_id, e.vec_id AS neighbor_id,
            round(${VS.cosine("qv", "e.embedding")}, 4) AS cosine
          FROM nz e, q
          WHERE e.vec_id <> query_id
            AND ${VS.cosine("qv", "e.embedding")} >= $RangeTau
          ORDER BY query_id, neighbor_id""",
    "s04_ann_recall" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv
               FROM embeddings WHERE vec_id < $NumQueries),
          s AS (SELECT query_id, e.vec_id AS neighbor_id,
                  ${VS.cosine("qv", "e.embedding")} AS cos
                FROM embeddings e, q WHERE e.vec_id <> query_id),
          r AS (SELECT query_id, neighbor_id,
                  ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY round(cos, 6) DESC, neighbor_id) AS rk
                FROM s),
          e3 AS (SELECT query_id, neighbor_id FROM r WHERE rk <= 3),
          eb AS (SELECT vec_id, embedding,
                  ${VS.signBucket("embedding", AnnSignBits)} AS bucket FROM embeddings),
          qb0 AS (SELECT bucket, vec_id AS query_id, embedding AS qv
                 FROM eb WHERE vec_id < $NumQueries),
          qb AS (SELECT CASE WHEN g.i = 0 THEN qb0.bucket
                   ELSE xor(qb0.bucket, CAST(1 AS BIGINT) << CAST(g.i - 1 AS INT))
                   END AS bucket, query_id, qv
                 FROM qb0 CROSS JOIN generate_series(0, $AnnSignBits) AS g(i)),
          sb AS (SELECT query_id, eb.vec_id AS neighbor_id,
                  ${VS.cosine("qv", "eb.embedding")} AS cos
                 FROM eb JOIN qb ON eb.bucket = qb.bucket AND eb.vec_id <> qb.query_id),
          rb AS (SELECT query_id, neighbor_id,
                  ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY round(cos, 6) DESC, neighbor_id) AS rk
                 FROM sb),
          a3 AS (SELECT query_id, neighbor_id FROM rb WHERE rk <= 3)
          SELECT e3.query_id, COUNT(*) AS k_exact,
            COUNT(a3.neighbor_id) AS n_hit,
            ROUND(COUNT(a3.neighbor_id) / COUNT(*), 4) AS recall
          FROM e3 LEFT JOIN a3 ON e3.query_id = a3.query_id
            AND e3.neighbor_id = a3.neighbor_id
          GROUP BY 1 ORDER BY 1""",
    "s18_filtered_knn" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv
               FROM embeddings WHERE vec_id < $NumQueries),
          s AS (SELECT query_id, e.vec_id AS neighbor_id,
                  ${VS.cosine("qv", "e.embedding")} AS cos
                FROM embeddings e, q
                WHERE e.vec_id <> query_id AND e.label % 2 = 0),
          r AS (SELECT query_id, neighbor_id, cos,
                  ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY round(cos, 6) DESC, neighbor_id) AS rk
                FROM s)
          SELECT query_id, rk, neighbor_id, round(cos, 4) AS cosine
          FROM r WHERE rk <= 3 ORDER BY query_id, rk""",
    "s20_rrf_fusion" ->
      // leg 1 embeds t07's gated SQL VERBATIM (single-sourced with the
      // lexical gate); leg 2 mirrors the engine's round-6 cosine
      // ordering; the fusion is all-BIGINT integer division.
      s"""WITH lexbase AS (${TextAnalysis.oracle("t07_bm25_search")}),
          lex AS (SELECT doc_id,
                    ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS rank_lex
                  FROM lexbase),
          qv AS (SELECT embedding AS q FROM embeddings
                 WHERE vec_id = $RrfQueryVec),
          vecbase AS (SELECT vec_id AS doc_id,
                        round(${VS.cosine("q", "embedding")}, 6) AS c6
                      FROM embeddings, qv WHERE vec_id <> $RrfQueryVec
                      ORDER BY c6 DESC, doc_id LIMIT 20),
          vec AS (SELECT doc_id,
                    ROW_NUMBER() OVER (ORDER BY c6 DESC, doc_id) AS rank_vec
                  FROM vecbase),
          f AS (SELECT COALESCE(lex.doc_id, vec.doc_id) AS doc_id,
                  rank_lex, rank_vec,
                  COALESCE($RrfScale // ($RrfK + rank_lex), 0)
                    + COALESCE($RrfScale // ($RrfK + rank_vec), 0) AS rrf_score
                FROM lex FULL OUTER JOIN vec ON lex.doc_id = vec.doc_id),
          r AS (SELECT doc_id, rank_lex, rank_vec, rrf_score,
                  ROW_NUMBER() OVER (ORDER BY rrf_score DESC, doc_id) AS rk
                FROM f)
          SELECT CAST(rk AS BIGINT) AS rk, doc_id, rank_lex, rank_vec,
            rrf_score
          FROM r WHERE rk <= 10 ORDER BY rk""",
    "s19_knn_graph" ->
      // s01's oracle with the query filter removed: every vector is a
      // query — the exact corpus-wide neighbor graph
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv
               FROM embeddings),
          s AS (SELECT query_id, e.vec_id AS neighbor_id,
                  ${VS.cosine("qv", "e.embedding")} AS cos
                FROM embeddings e, q WHERE e.vec_id <> query_id),
          r AS (SELECT query_id, neighbor_id, cos,
                  ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY round(cos, 6) DESC, neighbor_id) AS rk
                FROM s)
          SELECT query_id, rk, neighbor_id, round(cos, 4) AS cosine
          FROM r WHERE rk <= 3 ORDER BY query_id, rk""",
    "s26_knn_outlier" ->
      // s19's graph chain; micro conversion re-rounds the gated
      // round(cos,4) double, all arithmetic after it integer
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv
               FROM embeddings),
          s AS (SELECT query_id, e.vec_id AS neighbor_id,
                  ${VS.cosine("qv", "e.embedding")} AS cos
                FROM embeddings e, q WHERE e.vec_id <> query_id),
          r AS (SELECT query_id, cos,
                  ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY round(cos, 6) DESC, neighbor_id) AS rk
                FROM s),
          m AS (SELECT query_id,
                  SUM(CAST(ROUND(round(cos, 4) * 10000) AS BIGINT)) AS iso
                FROM r WHERE rk <= 3 GROUP BY 1)
          SELECT e.label, COUNT(*) AS n_vecs,
            CAST(SUM(CASE WHEN m.iso < $S26IsolationMicro THEN 1 ELSE 0 END)
              AS BIGINT) AS n_outliers,
            -- Spark's `div` truncates toward zero; DuckDB's // floors —
            -- they agree only on non-negative sums, and a label's iso
            -- sum CAN go negative (anti-correlated tail), so mirror
            -- truncation explicitly
            CAST(CASE WHEN SUM(m.iso) >= 0 THEN SUM(m.iso) // COUNT(*)
              ELSE -((-SUM(m.iso)) // COUNT(*)) END AS BIGINT)
              AS mean_iso_micro
          FROM embeddings e JOIN m ON e.vec_id = m.query_id
          GROUP BY 1 ORDER BY 1""",
    "s25_label_prop" ->
      // s19's graph CTE + the two propagation rounds unrolled; the
      // ROW_NUMBER pick (c DESC, plabel ASC) is the engine's
      // (count, -label) struct max
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv
               FROM embeddings),
          s AS (SELECT query_id, e.vec_id AS neighbor_id,
                  ${VS.cosine("qv", "e.embedding")} AS cos
                FROM embeddings e, q WHERE e.vec_id <> query_id),
          r AS (SELECT query_id, neighbor_id,
                  ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY round(cos, 6) DESC, neighbor_id) AS rk
                FROM s),
          g AS (SELECT query_id, neighbor_id FROM r WHERE rk <= 3),
          l0 AS (SELECT vec_id, label AS plabel, 0 AS round
                 FROM embeddings WHERE vec_id % $S25SeedMod = 0),
          c1 AS (SELECT g.query_id, l.plabel, COUNT(*) AS c
                 FROM g JOIN l0 l ON g.neighbor_id = l.vec_id
                 WHERE g.query_id NOT IN (SELECT vec_id FROM l0)
                 GROUP BY 1, 2),
          p1 AS (SELECT query_id, plabel, ROW_NUMBER() OVER (
                   PARTITION BY query_id ORDER BY c DESC, plabel ASC) AS rn
                 FROM c1),
          l1 AS (SELECT * FROM l0 UNION ALL
                 SELECT query_id, plabel, 1 FROM p1 WHERE rn = 1),
          c2 AS (SELECT g.query_id, l.plabel, COUNT(*) AS c
                 FROM g JOIN l1 l ON g.neighbor_id = l.vec_id
                 WHERE g.query_id NOT IN (SELECT vec_id FROM l1)
                 GROUP BY 1, 2),
          p2 AS (SELECT query_id, plabel, ROW_NUMBER() OVER (
                   PARTITION BY query_id ORDER BY c DESC, plabel ASC) AS rn
                 FROM c2),
          l2 AS (SELECT * FROM l1 UNION ALL
                 SELECT query_id, plabel, 2 FROM p2 WHERE rn = 1)
          SELECT l2.plabel AS label,
            CAST(SUM(CASE WHEN l2.round = 0 THEN 1 ELSE 0 END) AS BIGINT)
              AS n_seed,
            CAST(SUM(CASE WHEN l2.round > 0 THEN 1 ELSE 0 END) AS BIGINT)
              AS n_propagated,
            CAST(SUM(CASE WHEN l2.round > 0 AND l2.plabel = e.label
              THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
            CAST(SUM(CASE WHEN l2.round > 0 AND l2.plabel = e.label
              THEN 1 ELSE 0 END) * 1000000
              // GREATEST(1, SUM(CASE WHEN l2.round > 0 THEN 1 ELSE 0 END))
              AS BIGINT) AS acc_ppm
          FROM l2 JOIN embeddings e ON l2.vec_id = e.vec_id
          GROUP BY 1 ORDER BY 1""",
    "s01_knn_brute" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv
               FROM embeddings WHERE vec_id < $NumQueries),
          s AS (SELECT query_id, e.vec_id AS neighbor_id,
                  ${VS.cosine("qv", "e.embedding")} AS cos
                FROM embeddings e, q WHERE e.vec_id <> query_id),
          r AS (SELECT query_id, neighbor_id, cos,
                  ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY round(cos, 6) DESC, neighbor_id) AS rk
                FROM s)
          SELECT query_id, rk, neighbor_id, round(cos, 4) AS cosine
          FROM r WHERE rk <= 5 ORDER BY query_id, rk""",
    "s05_ann_multitable" ->
      s"""WITH tb AS (SELECT vec_id, embedding, g.t AS t,
                  ${VS.signBucketT("embedding", AnnSignBits, "g.t")} AS bucket
                FROM embeddings CROSS JOIN generate_series(0, ${AnnTables - 1}) AS g(t)),
          q0 AS (SELECT t, bucket, vec_id AS query_id, embedding AS qv
                FROM tb WHERE vec_id < $NumQueries),
          q AS (SELECT t, CASE WHEN g.i = 0 THEN q0.bucket
                  ELSE xor(q0.bucket, CAST(1 AS BIGINT) << CAST(g.i - 1 AS INT))
                  END AS bucket, query_id, qv
                FROM q0 CROSS JOIN generate_series(0, $AnnSignBits) AS g(i)),
          s AS (SELECT DISTINCT query_id, tb.vec_id AS neighbor_id,
                  ${VS.cosine("qv", "tb.embedding")} AS cos
                FROM tb JOIN q ON tb.t = q.t AND tb.bucket = q.bucket
                  AND tb.vec_id <> q.query_id),
          r AS (SELECT query_id, neighbor_id, cos,
                  ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY round(cos, 6) DESC, neighbor_id) AS rk
                FROM s)
          SELECT query_id, rk, neighbor_id, round(cos, 4) AS cosine
          FROM r WHERE rk <= 3 ORDER BY query_id, rk""",
    "s02_ann_lsh" ->
      s"""WITH e AS (SELECT vec_id, embedding,
                  ${VS.signBucket("embedding", AnnSignBits)} AS bucket FROM embeddings),
          q0 AS (SELECT bucket, vec_id AS query_id, embedding AS qv
                FROM e WHERE vec_id < $NumQueries),
          q AS (SELECT CASE WHEN g.i = 0 THEN q0.bucket
                  ELSE xor(q0.bucket, CAST(1 AS BIGINT) << CAST(g.i - 1 AS INT))
                  END AS bucket, query_id, qv
                FROM q0 CROSS JOIN generate_series(0, $AnnSignBits) AS g(i)),
          s AS (SELECT query_id, e.vec_id AS neighbor_id,
                  ${VS.cosine("qv", "e.embedding")} AS cos
                FROM e JOIN q ON e.bucket = q.bucket AND e.vec_id <> q.query_id),
          r AS (SELECT query_id, neighbor_id, cos,
                  ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY round(cos, 6) DESC, neighbor_id) AS rk
                FROM s)
          SELECT query_id, rk, neighbor_id, round(cos, 4) AS cosine
          FROM r WHERE rk <= 3 ORDER BY query_id, rk""",
  )
}
