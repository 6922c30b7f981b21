package graft.streaming

import graft.sources.Commit
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The at-rest GENERATION TREE shared by the durable ingest twins
  * (stream_incdedup's shingle index, stream_exactdedup's fingerprint
  * set): `root/base` plus one committed ([[graft.sources.Commit]])
  * `batch-<id>` dir per absorbed micro-batch — plus the COMPACTION
  * those trees were missing:
  * a year of minute-batches is ~500k directories, all listed (one
  * NameNode storm) and all footer-opened on EVERY probe. [[compact]]
  * folds committed generations into base so the tree stays a handful of
  * dirs forever, without giving up either replay-idempotence or the
  * collision refusal:
  *
  *  - Only generations STRICTLY OLDER than the newest `keepLatest` are
  *    foldable. Structured Streaming re-runs at most the in-flight
  *    batch (batch N executing proves N−1's offsets committed), so a
  *    folded id can NEVER be a genuine at-least-once replay — which is
  *    what makes folding sound: the standing newest generation still
  *    serves the one replay that can happen, content-compared exactly
  *    as before.
  *  - The fold writes base ∪ folded generations to a tmp dir CONTAINING
  *    a `_horizon-<maxFoldedId>` marker file, then swaps it in
  *    ([[graft.sources.Commit.swap]]) — data and horizon publish
  *    atomically. Probes read the horizon and ignore
  *    any `batch-<id ≤ horizon>` dir, so a crash between the swap and
  *    the folded-dir deletes leaves DUPLICATE rows invisible rather
  *    than double-counted (d18's df arithmetic would corrupt
  *    otherwise); the leftovers are swept on the next compact.
  *  - An ARRIVING batch id at or below the horizon refuses loudly
  *    ([[requireAboveHorizon]]): it cannot be a replay (folded ids are
  *    checkpoint-committed), so it is the fresh-checkpoint restart
  *    collision the content-compare used to catch — the guard survives
  *    compaction, it just fires from the manifest instead of a
  *    byte-compare.
  *
  * Quiet-window contract (maybeRefit's rule): run [[compact]] only when
  * no probe of this tree is in flight. The ingest twins call it from
  * inside their own `foreachBatch` (micro-batches of one query are
  * sequential, so the window is structural). */
object GenerationTree {

  val BatchPrefix = "batch-"

  private[graft] def genId(name: String): Option[Long] =
    if (!name.startsWith(BatchPrefix)) None
    else scala.util.Try(name.stripPrefix(BatchPrefix).toLong).toOption

  /** Compaction horizon of the tree: every `batch-<id ≤ horizon>` is
    * folded into base (and any such dir still standing is a
    * crash-window leftover to ignore). −1 = never compacted. Read from
    * the `_horizon-<id>` marker(s) inside base — markers ride base's
    * atomic swap, so data and horizon can never disagree. */
  def horizon(fs: FileSystem, root: Path): Long = {
    val base = new Path(root, "base")
    if (!fs.exists(base)) -1L
    else fs.listStatus(base).map(_.getPath.getName)
      .filter(_.startsWith("_horizon-"))
      .flatMap(n => scala.util.Try(n.stripPrefix("_horizon-").toLong).toOption)
      .foldLeft(-1L)(math.max)
  }

  /** The generations a probe reads: base plus every committed
    * post-horizon `batch-<id>` dir, excluding `exclude` (the probing
    * batch's own prior attempt), ordered base-first then by id. */
  def liveGenerations(fs: FileSystem, root: Path,
      exclude: Option[String]): Seq[Path] = {
    val base = new Path(root, "base")
    (if (fs.exists(base)) Seq(base) else Seq.empty) ++
      committedGenerations(fs, root).filterNot(p => exclude.contains(p.getName))
  }

  /** Committed post-horizon `batch-<id>` dirs, by id. */
  private def committedGenerations(fs: FileSystem, root: Path): Seq[Path] = {
    if (!fs.exists(root)) return Seq.empty
    val h = horizon(fs, root)
    fs.listStatus(root).filter(_.isDirectory).map(_.getPath).toSeq
      .filter(p => genId(p.getName).exists(id => id > h && Commit.committed(fs, p)))
      .sortBy(p => genId(p.getName).get)
  }

  /** Crash recovery for the compaction swap, callable from the PROBE
    * path: a fold that died between its two renames leaves base
    * missing, so every probe would see no folded history and a replay
    * would wedge on the collision compare. Every probe calls this
    * first; safe under the quiet-window contract. */
  def recover(fs: FileSystem, root: Path): Unit =
    Commit.recover(fs, new Path(root, "base"))

  /** The collision guard's compacted half: an id at or below the
    * horizon cannot be a genuine replay, so it is a restarted query
    * with a fresh checkpoint (ids back at 0) pointed at a compacted
    * tree — refuse rather than absorbing under a recycled id. */
  def requireAboveHorizon(fs: FileSystem, root: Path, batchId: Long): Unit = {
    val h = horizon(fs, root)
    require(batchId > h,
      s"batch id $batchId is at or below this tree's compaction horizon $h " +
        "— a folded generation can never be replayed, so this is a " +
        "batch-id collision (restarted query with a fresh checkpoint " +
        "against a compacted tree?). Refusing to absorb under a recycled " +
        "id; point the restarted query at a fresh tree or keep its " +
        "checkpoint.")
  }

  /** Committed post-horizon batch generations — the threshold signal. */
  def committedBatchCount(fs: FileSystem, root: Path): Int =
    committedGenerations(fs, root).size

  /** Fold every committed generation except the newest `keepLatest`
    * into base. `dedupe` collapses duplicate rows in the folded base —
    * sound ONLY for set-semantics trees (stream_exactdedup's key set);
    * an occurrence-counting tree (stream_incdedup's shingle index, d18
    * df arithmetic) must keep every row. Crash-safe at every step: the
    * swap recovers a dead run first and rolls back on failure, and
    * folded-dir deletes run last (a crash there leaves leftovers the
    * horizon already hides). Returns (foldedCount, newHorizon). */
  def compact(spark: SparkSession, root: String, keepLatest: Int = 1,
      dedupe: Boolean = false): (Int, Long) = {
    require(keepLatest >= 1, "keepLatest must leave the replayable newest generation standing")
    fold(spark, root, keepLatest, rows => if (dedupe) rows.distinct() else rows)
  }

  /** Retire the WHOLE tree behind an advanced horizon, keeping zero
    * rows — for state that was absorbed into an EXTERNAL artifact
    * (stream_vecindex's refit publishes base ∪ arrivals as a persisted
    * index, so the tree's rows now live there; folding them into base
    * would double-count the next refit). This is [[compact]]'s fold
    * with every generation folded and no row kept: base becomes a
    * SCHEMA-PRESERVING zero-row parquet plus the
    * `_horizon-<maxRetiredId>` marker, so readers see an empty tree and
    * the recycled-id refusal ([[requireAboveHorizon]]) SURVIVES the
    * retirement. Quiet-window contract as [[compact]]; a genuinely
    * in-flight batch replayed across a retirement also refuses — its
    * rows are in the external artifact, so a loud wedge beats silent
    * duplication. No-op when the tree holds no committed state. */
  def retire(spark: SparkSession, root: String): (Int, Long) =
    fold(spark, root, 0, _.limit(0).coalesce(1))

  /** Rewrite base as `keep` of base ∪ every committed post-horizon
    * generation but the newest `keepLatest`, behind the advanced
    * horizon, then delete the folded generations. */
  private def fold(spark: SparkSession, root: String, keepLatest: Int,
      keep: DataFrame => DataFrame): (Int, Long) = {
    val rootP = new Path(root)
    val fs = rootP.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(rootP)) return (0, -1L)
    val base = new Path(rootP, "base")
    recover(fs, rootP)
    val h = horizon(fs, rootP)
    // sweep folded leftovers (crash between a previous swap and its deletes)
    fs.listStatus(rootP).filter(_.isDirectory).map(_.getPath)
      .filter(p => genId(p.getName).exists(_ <= h))
      .foreach(fs.delete(_, true))
    val folded = committedGenerations(fs, rootP).dropRight(keepLatest)
    val parts = (if (fs.exists(base)) Seq(base) else Seq.empty) ++ folded
    // compact has nothing to do without a generation to fold; retire
    // still empties a non-empty base
    if (folded.isEmpty && (keepLatest > 0 || parts.isEmpty)) return (0, h)
    val newH = folded.lastOption.flatMap(p => genId(p.getName)).getOrElse(h)
    Commit.swap(fs, base) { tmp =>
      keep(parts.map(p => spark.read.parquet(p.toString)).reduce(_ unionByName _))
        .write.mode("overwrite").parquet(tmp.toString)
      if (newH >= 0) fs.create(new Path(tmp, s"_horizon-$newH"), true).close()
    }
    folded.foreach(fs.delete(_, true))
    (folded.size, newH)
  }
}
