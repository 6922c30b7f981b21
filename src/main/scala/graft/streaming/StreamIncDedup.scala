package graft.streaming

import graft.operators.Dedup
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.streaming.StreamingQuery

/** SURVEY §2.G — d18's nightly dedup cycle AT INGEST: each arriving
  * micro-batch of documents is probed against the at-rest shingle index
  * ([[graft.operators.Dedup.d18FromIndex]] — new×old + new×new pairs,
  * never old×old) and then ABSORBED into it so the grown index serves
  * the next micro-batch: the build→probe→absorb cycle with "night"
  * shrunk to "micro-batch". Single-sourced with the batch surface — the
  * body calls the PUBLIC d18 functions, so streamed pairs cannot drift
  * from the nightly's (stream_shards' frozen-artifact rule, applied to
  * an at-rest index instead of driver values).
  *
  * Replay-idempotence (foreachBatch is AT-LEAST-ONCE): a plain append
  * absorb would corrupt on the crash-between-absorb-and-offset-commit
  * replay — the re-run's probe would see the batch's own rows in the
  * index (self-pairs + doubled new×new shared counts, exactly the
  * corruption [[graft.operators.Dedup.d18AbsorbBatch]]'s doc warns
  * absorb-before-probe causes) and the second append would duplicate
  * index rows forever. So the index is a GENERATION TREE, not one flat
  * dir (stream_vecindex/stream_rollup's versioned-commit rule):
  * `indexRoot/base` (written once by
  * [[graft.operators.Dedup.d18BuildIndex]]) plus one `batch-<id>` dir
  * per absorbed micro-batch. The probe reads base ∪ committed
  * ([[graft.sources.Commit]]) generations EXCLUDING the current batch id — a
  * replayed batch never sees its own previous attempt, committed or
  * partial — and the absorb content-compares a COMMITTED leftover
  * under its id: identical means a genuine replay (the commit stands,
  * byte-identical state and output), different means a batch-id
  * collision from a restarted query with a fresh checkpoint and the
  * op REFUSES rather than deleting absorbed history; only uncommitted
  * debris is ever dropped.
  *
  * Ordering hazard, made structural: d18FromIndex's DataFrame is lazy —
  * the body materializes the probe through an EAGER localCheckpoint
  * (pair output is report-sized, never corpus-sized) before the absorb
  * touches disk.
  *
  * State story: NO state store — the at-rest parquet tree IS the state,
  * exactly as the nightly leaves it, so a restarted query resumes from
  * the last committed generation (contrast stream_neardup, whose LSH
  * bucket lists live in the state store and die with the checkpoint:
  * that form owns the low-latency in-flight window, this form owns
  * durable corpus history). `batchMaxDf` carries the batch-local
  * stop-shingle cap through BOTH the probe and the absorb (the
  * capped-cycle discipline: a boilerplate-carrying micro-batch can
  * neither melt its own new×new join nor regrow hot keys in the
  * artifact).
  *
  * Reference: the tail-f arrival loop (reference
  * src/test/java/oz/poc/file/TailF.java) reacts to records one batch at
  * a time as they land; this is that arrival loop carrying d18's dedup
  * contract instead of a raw copy. */
object StreamIncDedup {

  /** One micro-batch's probe + absorb against the generation tree —
    * the exact body `run` executes, exposed so specs can drive a
    * REPLAYED batch id directly and pin idempotence. Returns the
    * materialized (doc_i, doc_j, jaccard) pairs. */
  private[graft] def processBatch(b: DataFrame, indexRoot: String,
      batchId: Long, batchMaxDf: Long,
      replayVerified: Boolean = false): DataFrame = {
    val spark = b.sparkSession
    val root = new Path(indexRoot)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val own = new Path(root, s"batch-$batchId")
    // roll back a compaction swap that died between its renames BEFORE
    // reading anything — otherwise base (and all folded history) is
    // invisible to this probe
    GenerationTree.recover(fs, root)
    // an id at or below the compaction horizon can never be a genuine
    // replay — refuse the recycled id before touching anything
    GenerationTree.requireAboveHorizon(fs, root, batchId)
    // committed post-horizon generations only, never this batch's own
    // prior attempt: an uncommitted dir is a crashed append's debris
    // (replaced below if it is ours; a concurrent writer's otherwise),
    // and a dir at or below the horizon is a folded leftover whose rows
    // already live in base (reading it would double d18's df counts)
    val gens = GenerationTree.liveGenerations(fs, root, Some(own.getName))
    require(gens.nonEmpty,
      s"generation tree at $indexRoot has no base — build it with d18BuildIndex first")
    val index = gens.map(p => spark.read.parquet(p.toString))
      .reduce(_ unionByName _)
    val pairs = Dedup.d18FromIndex(index, b, Dedup.NoDfCap, batchMaxDf)
      .localCheckpoint(true)
    // the absorb: d18AbsorbBatch's rows, committed as this batch's
    // generation or proved a replay. `replayVerified` = the caller
    // (graft.Nightly) already proved own holds these rows.
    if (!replayVerified) graft.sources.Commit.commitOrReplay(fs, own,
      Dedup.dfCapped(Dedup.shingleIndexRows(b), "h", batchMaxDf))
    pairs
  }

  /** Start probing the `docs` stream (needs doc_id + text) against the
    * generation tree rooted at `indexRoot` (base corpus pre-built at
    * `indexRoot/base` by [[graft.operators.Dedup.d18BuildIndex]]);
    * `onBatch` receives each micro-batch's materialized
    * (doc_i, doc_j, jaccard) pairs. Arrival doc_ids must be disjoint
    * from everything already in the tree (d18FromIndex's contract — a
    * breach surfaces as doc_i == doc_j self-pairs, the documented alert
    * shape).
    *
    * `maxGenerations` is the compaction trigger: when the committed
    * batch generations exceed it, [[GenerationTree.compact]] folds all
    * but the newest into base (dedupe OFF — the shingle index counts
    * occurrences, every row must survive). Runs inside foreachBatch, so
    * the quiet-window contract is structural; replay across a
    * compaction is verdict-identical (spec-pinned). */
  def run(docs: DataFrame, indexRoot: String,
      batchMaxDf: Long = Dedup.NoDfCap,
      maxGenerations: Int = 64)(
      onBatch: DataFrame => Unit): StreamingQuery =
    docs.writeStream
      .outputMode("append")
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        val b = batch.toDF()
        if (!b.isEmpty) {
          onBatch(processBatch(b, indexRoot, batchId, batchMaxDf))
          val root = new Path(indexRoot)
          val fs = root.getFileSystem(b.sparkSession.sessionState.newHadoopConf())
          if (GenerationTree.committedBatchCount(fs, root) > maxGenerations) {
            val _ = GenerationTree.compact(b.sparkSession, indexRoot)
          }
        }
      }
      .start()
}
