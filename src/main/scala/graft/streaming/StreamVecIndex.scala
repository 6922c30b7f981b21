package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming maintenance of the IVF vector index (SURVEY §2.G): newly
  * ingested embeddings are assigned to their inverted list AT ARRIVAL and
  * appended to the at-rest index, so similarity search serves fresh
  * vectors without an offline rebuild — the batch/stream split every
  * production vector service runs (the coarse quantizer retrains OFFLINE
  * and rarely; assignments stream continuously against the frozen
  * centroids; s03Index's persisted table is the batch-built base the
  * stream extends).
  *
  * Assignment is one map-side pass per micro-batch: squared-euclidean
  * argmin against the ≤ nLists broadcast centroid literals — the same
  * metric the batch KMeans assignment uses, so streamed rows land in the
  * same lists batch processing would put them in (spec-pinned against a
  * driver recompute).
  *
  * At-rest state is a [[GenerationTree]]: each micro-batch commits a
  * `batch-<id>` generation ([[graft.sources.Commit.commitOrReplay]]);
  * readers union base + committed post-horizon generations;
  * generations past `maxGenerations` fold into base ([[GenerationTree
  * .compact]], dedupe OFF — rows are per-vector facts that must all
  * survive). A restarted query with a fresh checkpoint (ids back at 0)
  * pointed at an existing tree must not overwrite absorbed vectors:
  * the same-rows compare and the horizon manifest refuse that loudly,
  * and the assignment's determinism makes the genuine-replay compare
  * exact.
  * After a refit absorbs the tree into the published index, the tree is
  * [[GenerationTree.retire]]d — emptied BEHIND the advanced horizon, so
  * the recycled-id refusal survives retirement. The drift signal that
  * schedules a quantizer refit is the per-list count skew in
  * [[indexStats]]. */
object StreamVecIndex {

  /** Squared-euclidean argmin list assignment against centroid literals
    * (ties to the lower list id). Runs as the codegen'd
    * `graft_argmin_sqdist` expression — at 100 TB this is a per-row
    * k·d loop on EVERY arriving vector (and the full corpus in the
    * two-level build), so it compiles instead of interpreting; the
    * declarative HOF mirror below is spec-pinned bit-identical. */
  private[graft] def listIdOf(emb: Column,
      cents: IndexedSeq[Array[Float]]): Column =
    graft.functions.NativeFunctions.argminSqDist(emb,
      typedLit(cents.map(_.toSeq)))

  /** The declarative zip_with/aggregate + array_position form listIdOf
    * compiled away — kept ONLY as the parity oracle (NativeExprSpec
    * discipline: the native swap must be bit-identical). */
  private[graft] def listIdOfDeclarative(emb: Column,
      cents: IndexedSeq[Array[Float]]): Column = {
    val dists = array(cents.map { c =>
      aggregate(zip_with(emb, typedLit(c.toSeq),
        (x, y) => (x.cast("double") - y.cast("double")) * (x.cast("double") - y.cast("double"))),
        lit(0.0), (a, v) => a + v)
    }: _*)
    (array_position(dists, array_min(dists)) - 1).cast("int")
  }

  /** One micro-batch's assignment + commit against the generation tree
    * — exposed so specs can drive a replayed/colliding batch id
    * directly (StreamIncDedup's rule). */
  private[graft] def processVecBatch(batch: DataFrame,
      cents: IndexedSeq[Array[Float]], indexDir: String,
      batchId: Long): Unit = {
    val spark = batch.sparkSession
    val root = new org.apache.hadoop.fs.Path(indexDir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    GenerationTree.recover(fs, root)
    refuseLegacyVersionDirs(fs, root)
    GenerationTree.requireAboveHorizon(fs, root, batchId)
    val own = new org.apache.hadoop.fs.Path(root,
      s"${GenerationTree.BatchPrefix}$batchId")
    val assigned = batch.select(col("vec_id"), col("embedding"),
        listIdOf(col("embedding"), cents).as("list_id"))
      .repartition(col("list_id"))
    // assignment is deterministic, so a genuine replay reproduces the
    // committed generation exactly
    graft.sources.Commit.commitOrReplay(fs, own, assigned)
  }

  /** Start maintaining `indexDir` from a stream of (vec_id: long,
    * embedding: array<float>) rows, assigning against the given frozen
    * centroids (ordered by list id — e.g. s03Index's centroid table).
    * `maxGenerations` is the compaction trigger (the ingest twins'
    * rule): past it, committed generations fold into base inside
    * foreachBatch — the quiet window is structural. */
  def maintain(vectors: DataFrame, cents: IndexedSeq[Array[Float]],
      indexDir: String, checkpointLocation: String,
      maxGenerations: Int = 64): StreamingQuery =
    vectors.writeStream
      .option("checkpointLocation", checkpointLocation)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processVecBatch(batch, cents, indexDir, batchId)
        val root = new org.apache.hadoop.fs.Path(indexDir)
        val fs = root.getFileSystem(
          batch.sparkSession.sessionState.newHadoopConf())
        if (GenerationTree.committedBatchCount(fs, root) > maxGenerations) {
          // dedupe OFF: rows are per-vector facts, all must survive
          val _ = GenerationTree.compact(batch.sparkSession, indexDir)
        }
        ()
      }
      .start()

  /** Upgrade guard: an index dir written by the older `v=<batchId>`
    * version-dir scheme would read as EMPTY under the generation tree
    * (liveGenerations matches only `base`/`batch-<id>`) — absorbed
    * vectors silently vanishing is exactly the failure mode the tree
    * exists to prevent, so refuse loudly with the migration recipe
    * instead. The migration is a pure rename: `v=<id>` → `batch-<id>`
    * (contents and commit markers are already in the tree's
    * at-rest shape). */
  private def refuseLegacyVersionDirs(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): Unit = {
    if (!fs.exists(root)) return
    val legacy = fs.listStatus(root).filter(_.isDirectory)
      .map(_.getPath.getName).filter(_.startsWith("v="))
    require(legacy.isEmpty,
      s"vector-index dir $root holds pre-generation-tree version dirs " +
        s"(${legacy.take(3).mkString(", ")}${if (legacy.length > 3) ", …" else ""}) " +
        "— this release reads batch-<id> generations and would silently " +
        "ignore them. Migrate by renaming each v=<id> dir to batch-<id> " +
        "(contents and _SUCCESS markers carry over unchanged).")
  }

  /** All committed streamed index rows (vec_id, embedding, list_id):
    * base + committed post-horizon generations. */
  def readIndex(spark: SparkSession, indexDir: String): DataFrame = {
    val root = new org.apache.hadoop.fs.Path(indexDir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    GenerationTree.recover(fs, root)
    refuseLegacyVersionDirs(fs, root)
    GenerationTree.liveGenerations(fs, root, None) match {
      case gens if gens.isEmpty =>
        import org.apache.spark.sql.types._
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          StructType(Seq(StructField("vec_id", LongType),
            StructField("embedding", ArrayType(FloatType)),
            StructField("list_id", IntegerType))))
      case gens => gens.map(p => spark.read.parquet(p.toString))
        .reduce(_ unionByName _)
    }
  }

  /** Per-list membership counts of the streamed index — the drift signal
    * that schedules an offline quantizer refit (a hot list means the
    * frozen centroids no longer cover the incoming distribution). */
  def indexStats(spark: SparkSession, indexDir: String): DataFrame =
    readIndex(spark, indexDir)
      .groupBy(col("list_id")).agg(count(lit(1)).as("n_vecs"))
      .orderBy("list_id")

  // ─────────────────── drift signal → refit decision ───────────────────

  /** One row per list 0..nLists-1: base-index mass vs streamed mass.
    * Both sides are one partial-agg count shuffle; the join frame is
    * |nLists| rows — bounded regardless of corpus size. */
  def driftStats(spark: SparkSession, indexDir: String,
      baseAssigned: DataFrame, nLists: Int): DataFrame = {
    val base = baseAssigned.groupBy(col("list_id"))
      .agg(count(lit(1)).as("base_n"))
    val str = readIndex(spark, indexDir).groupBy(col("list_id"))
      .agg(count(lit(1)).as("stream_n"))
    spark.range(nLists).select(col("id").cast("int").as("list_id"))
      .join(base, Seq("list_id"), "left")
      .join(str, Seq("list_id"), "left")
      .na.fill(0L, Seq("base_n", "stream_n"))
  }

  /** Outcome of [[refitDecision]]: the hottest list's streamed-share /
    * base-share ratio and whether it crossed the refit threshold. */
  final case class DriftDecision(streamedVecs: Long, hottestList: Int,
      hottestRatio: Double, refit: Boolean)

  /** CONSUME the drift signal: refit when any list's share of the
    * STREAMED mass exceeds `hotFactor` × its (smoothed) share of the
    * BASE mass. That ratio is scale-free — it reads "arrivals are
    * concentrating where the frozen quantizer spends little resolution",
    * which is exactly when recall degrades (a new content cluster lands
    * whole inside one coarse cell and nProbe-of-nLists probing can no
    * longer separate it). Add-one smoothing on the base side keeps an
    * EMPTY base list receiving stream mass (the purest drift case) a
    * large finite ratio instead of a division by zero. Driver math is
    * over the ≤ nLists stat rows — bounded at any corpus size. */
  def refitDecision(spark: SparkSession, indexDir: String,
      baseAssigned: DataFrame, nLists: Int,
      hotFactor: Double = 4.0): DriftDecision = {
    val rows = driftStats(spark, indexDir, baseAssigned, nLists).collect()
    val baseTotal = rows.map(_.getAs[Long]("base_n")).sum
    val streamTotal = rows.map(_.getAs[Long]("stream_n")).sum
    if (streamTotal == 0L) return DriftDecision(0L, -1, 0.0, refit = false)
    val (hotList, hotRatio) = rows.map { r =>
      val streamShare = r.getAs[Long]("stream_n").toDouble / streamTotal
      val baseShare = (r.getAs[Long]("base_n") + 1.0) / (baseTotal + nLists)
      (r.getAs[Int]("list_id"), streamShare / baseShare)
    }.maxBy(_._2)
    DriftDecision(streamTotal, hotList, hotRatio, refit = hotRatio > hotFactor)
  }

  /** The full drift→refit loop an offline scheduler runs at a
    * stream-quiet point (between micro-batch windows — the streamed dir
    * is compacted away on success, so the maintain() query must not be
    * writing concurrently): decide against the persisted batch index;
    * when drifted, REBUILD over base ∪ arrivals via the persisted-index
    * path (`Similarity.refitIndex` — same crash-safe publish) and
    * compact the absorbed version dirs. Returns the decision and, when
    * a refit ran, the new (assigned, centroids) tables. After a refit
    * the streamed dir is empty: the next [[refitDecision]] reads "no
    * arrivals yet" — the loop is convergent, not self-triggering. */
  def maybeRefit(spark: SparkSession, dir: String, indexDir: String,
      nLists: Int, hotFactor: Double = 4.0): (DriftDecision, Option[(DataFrame, DataFrame)]) = {
    val (baseAssigned, _) = graft.operators.Similarity.s03Index(spark, dir, nLists)
    val decision = refitDecision(spark, indexDir, baseAssigned, nLists, hotFactor)
    if (!decision.refit) (decision, None)
    else {
      val arrivals = readIndex(spark, indexDir)
        .select(col("vec_id"), col("embedding"))
      val rebuilt = graft.operators.Similarity.refitIndex(spark, dir, arrivals, nLists)
      // arrivals are now rows of the published index — RETIRE the tree
      // (emptied behind an advanced horizon, so a recycled batch id
      // still refuses; readers switch to the refit generation)
      val _ = GenerationTree.retire(spark, indexDir)
      (decision, Some(rebuilt))
    }
  }
}
