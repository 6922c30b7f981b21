package graft.streaming

import graft.operators.Dedup
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** SURVEY §2.G — DURABLE exact dedup at ingest: the seen-before
  * content-fingerprint check every production intake runs first, keyed
  * on d01's exact-dup hash ([[graft.operators.Dedup.d01DupKey]] —
  * single-sourced, the stream cannot key differently from the batch
  * canonical-pick).
  *
  * [[StreamDedup]] already owns the LOW-LATENCY window: its
  * `dropDuplicatesWithinWatermark` state is bounded by rate × delay and
  * dies with the checkpoint — documents older than the watermark that
  * reappear are treated as new. This twin owns the other half its doc
  * points at: CORPUS HISTORY. The fingerprint set lives at rest as
  * parquet (the stream_incdedup generation tree: `root/base` written
  * once from the release's d01 keys, plus one committed `batch-<id>`
  * dir per absorbed micro-batch), so a re-crawl of a
  * document absorbed months ago still flags, and a restarted query
  * resumes from the last committed generation with zero state-store
  * recovery.
  *
  * Per batch: ONE left join of the arrivals against the at-rest key set
  * (broadcast while small, shuffle-hash at history scale — fingerprints
  * are ~48 B/doc, the narrowest possible history relation), a per-key
  * first-arrival window WITHIN the batch (batch-sized, never
  * history-sized), verdicts `novel` / `dup_in_batch` /
  * `dup_of_history`, then the absorb appends the batch's novel
  * fingerprints as its own generation. Replay-idempotent exactly like
  * stream_incdedup: the probe excludes the current batch id's
  * generation (a replayed batch never sees its own previous attempt),
  * and the absorb content-compares a COMMITTED generation under its id
  * — identical means a genuine replay (the commit stands untouched),
  * different means a batch-id collision from a restarted query with a
  * fresh checkpoint and the op REFUSES rather than deleting absorbed
  * history; only uncommitted debris is ever dropped. Byte-identical
  * verdicts and state on the at-least-once replay. */
object StreamExactDedup {

  /** One micro-batch's probe + absorb — exposed so specs can drive a
    * replayed batch id directly. Returns the materialized per-doc
    * verdicts (doc_id, dup_key, verdict). */
  private[graft] def processBatch(b: DataFrame, root: String,
      batchId: Long): DataFrame = {
    val spark = b.sparkSession
    val rootP = new Path(root)
    val fs = rootP.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(rootP)) fs.mkdirs(rootP)
    val own = new Path(rootP, s"batch-$batchId")
    // roll back a crashed compaction swap, then refuse recycled ids
    GenerationTree.recover(fs, rootP)
    GenerationTree.requireAboveHorizon(fs, rootP, batchId)
    val gens = GenerationTree.liveGenerations(fs, rootP, Some(own.getName))
    val atRest =
      if (gens.isEmpty)
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
          StructType(Seq(StructField("dup_key", StringType))))
      else gens.map(p => spark.read.parquet(p.toString))
        .reduce(_ unionByName _).select(col("dup_key")).distinct()
    val w = Window.partitionBy(col("dup_key")).orderBy(col("doc_id"))
    val verdicts = b
      .withColumn("dup_key", Dedup.d01DupKey)
      .join(atRest.withColumn("seen", lit(true)), Seq("dup_key"), "left")
      .withColumn("rn", row_number().over(w))
      .withColumn("verdict",
        when(col("seen"), "dup_of_history")
          .when(col("rn") > 1, "dup_in_batch")
          .otherwise("novel"))
      .select(col("doc_id"), col("dup_key"), col("verdict"))
      .localCheckpoint(true) // materialize BEFORE the absorb mutates state
    val novel = verdicts.filter(col("verdict") === "novel")
      .select(col("dup_key")).distinct()
    graft.sources.Commit.commitOrReplay(fs, own, novel)
    verdicts
  }

  /** Start the durable dedup over the `docs` stream (needs doc_id +
    * text) against the generation tree at `root` (optionally seeded
    * with the release's keys at `root/base`); `onBatch` receives each
    * micro-batch's materialized (doc_id, dup_key, verdict) rows.
    *
    * `maxGenerations` is the compaction trigger (stream_incdedup's
    * rule): past it, [[GenerationTree.compact]] folds all but the
    * newest committed generation into base — with dedupe ON, since the
    * fingerprint tree is a SET (the probe distincts anyway; folding
    * duplicate keys away just shrinks the artifact). */
  def run(docs: DataFrame, root: String, maxGenerations: Int = 64)(
      onBatch: DataFrame => Unit): StreamingQuery =
    docs.writeStream
      .outputMode("append")
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        val b = batch.toDF()
        if (!b.isEmpty) {
          onBatch(processBatch(b, root, batchId))
          val rootP = new Path(root)
          val fs = rootP.getFileSystem(b.sparkSession.sessionState.newHadoopConf())
          if (GenerationTree.committedBatchCount(fs, rootP) > maxGenerations) {
            val _ = GenerationTree.compact(b.sparkSession, root, dedupe = true)
          }
        }
      }
      .start()
}
