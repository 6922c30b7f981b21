package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** How an operator materializes an intermediate that more than one
  * branch of its plan consumes. This is the repo's pin policy:
  *
  *  - A bounded aggregate (|parts|, |suppliers|, |customers|, a
  *    component-label table) is always pinned. Without the pin every
  *    consumer re-runs the aggregate, and a range exchange's boundary
  *    sampler re-runs its child once more.
  *  - A corpus-derived intermediate is pinned only while the table it
  *    derives from is at most [[MaxInputBytes]] at rest
  *    ([[localIfUnder]]). Past that, pinning whole corpus copies costs
  *    more executor storage than the recompute it saves.
  *  - [[Local]] keeps the blocks in executor storage, which dies with
  *    an executor. [[Reliable]] is the cluster form: an unmanaged
  *    parquet snapshot that survives executor loss.
  *
  * Only a [[Snapshot]] cuts lineage. [[Off]] exists where an
  * un-snapshotted form is correct: the plan audits of q31/q36, which pin
  * the scan and exchange topology a snapshot would hide, and the
  * size-gated corpus pins past their bound. Operators whose iterations
  * rely on the snapshot (d07's rounds, q46's twice-read view) take a
  * [[Snapshot]], so `Off` does not type-check there. */
sealed trait Pin {

  /** `df` materialized under this policy. `name` is the snapshot's
    * subdirectory under a [[Reliable]] dir; the other forms ignore it. */
  def apply(df: DataFrame, name: String): DataFrame = this match {
    case Pin.Local => df.localCheckpoint()
    case Pin.Reliable(dir) =>
      df.write.mode("overwrite").parquet(s"$dir/$name")
      df.sparkSession.read.parquet(s"$dir/$name")
    case Pin.Off => df
  }

  /** Deletes the snapshot `apply(_, name)` wrote, once nothing reads it.
    * Only a [[Reliable]] snapshot is a file; local blocks are left to
    * Spark's ContextCleaner. */
  def drop(spark: SparkSession, name: String): Unit = this match {
    case Pin.Reliable(dir) =>
      val p = new org.apache.hadoop.fs.Path(s"$dir/$name")
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    case _ =>
  }
}

object Pin {

  /** A pin that cuts lineage. */
  sealed trait Snapshot extends Pin

  /** `localCheckpoint()`: eager, executor-local. */
  case object Local extends Snapshot

  /** An eager parquet write to `dir/<name>`, read back lazily. It is not
    * an RDD checkpoint: `setCheckpointDir` is session-global and cannot
    * be unset, so it would leak the caller's dir to every later
    * `checkpoint()` in the session. Delete `dir` once the result that
    * reads it is consumed. */
  final case class Reliable(dir: String) extends Snapshot

  /** No materialization: the lineage is kept. */
  case object Off extends Pin

  /** At-rest input bound for corpus-derived pins (p20's stages, s21's
    * graph) and d19's persisted occurrence index. The pinned forms hold
    * a few decompressed copies of the input, so 512 MiB at rest is tens
    * of GiB of executor storage; DEPLOY.md carries the measurements. */
  val MaxInputBytes: Long = 512L << 20

  /** [[Local]] while `atRestBytes` is within [[MaxInputBytes]], else
    * [[Off]]. */
  def localIfUnder(atRestBytes: Long): Pin =
    if (atRestBytes <= MaxInputBytes) Local else Off
}
