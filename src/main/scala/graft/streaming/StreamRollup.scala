package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

/** Streaming twin of q38's incremental rollup (SURVEY §2.G): maintain
  * the (event_type, day) daily state AT INGEST instead of by scheduled
  * batch maintenance. Each micro-batch folds into the stored state with
  * the SAME [[graft.operators.Relational.mergeDailyState]] the batch
  * operator uses — one merge definition, so batch maintenance and
  * streaming maintenance cannot drift (the stream_pack/stream_neardup
  * single-sourcing rule applied to aggregation state).
  *
  * State lives as VERSIONED parquet (`v=<batchId>`), one version per
  * micro-batch, committed by parquet's own commit marker; readers pick
  * the highest committed version. foreachBatch may replay a batch id
  * after a crash — the overwrite of the SAME version directory makes the
  * fold idempotent, so the state is exactly-once without a table format.
  * At 100 TB/day the state stays days × types rows (KBs): each
  * micro-batch costs one delta aggregation + a tiny union-merge, never
  * a history rescan, and the store never grows past `keepVersions`. */
object StreamRollup {

  private val stateSchema = StructType(Seq(
    StructField("event_type", StringType),
    StructField("day", DateType),
    StructField("n_events", LongType),
    StructField("cents", LongType)))

  private[streaming] def fs(spark: SparkSession, dir: String) =
    new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** `v=<batchId>` subdirs that are committed
    * ([[graft.sources.Commit.committed]]). */
  private[streaming] def committedVersions(spark: SparkSession, dir: String): Seq[Long] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val f = fs(spark, dir)
    if (!f.exists(p)) Seq.empty
    else f.listStatus(p).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("v="))
      .filter(s => graft.sources.Commit.committed(f, s.getPath))
      .map(_.getPath.getName.stripPrefix("v=").toLong)
  }

  /** The latest committed state (empty with the state schema before the
    * first batch commits). */
  def readState(spark: SparkSession, stateDir: String): DataFrame =
    committedVersions(spark, stateDir) match {
      case vs if vs.isEmpty =>
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          stateSchema)
      case vs => spark.read.schema(stateSchema).parquet(s"$stateDir/v=${vs.max}")
    }

  /** Dead-letter sentinel key: events arriving older than the retention
    * bound are NOT merged into their (long-retired) day — they fold into
    * this single (event_type = sentinel, day = NULL) state row via the
    * same [[graft.operators.Relational.mergeStates]] definition, so the
    * state itself carries the audit trail (how many events, how much
    * value, were refused). A monitoring alert on this row is the
    * production signal that an upstream producer is replaying history. */
  val LateDroppedType = "_late_dropped"

  /** Start maintaining `stateDir` from a stream of raw events
    * (`ts: timestamp`, `event_type: string`, `value: double`).
    *
    * `retentionDays`: unbounded by default (every late arrival folds into
    * its day — correct for the mergeable state, and what the gate's q38
    * twin verifies). At 100 TB/day production bounds it: an event whose
    * day is older than `highWaterMark − retentionDays` is dead-lettered
    * into the [[LateDroppedType]] sentinel row instead of reopening a
    * retired day — otherwise a misbehaving producer replaying history
    * forces every downstream consumer of the rollup to treat EVERY past
    * day as forever-mutable. The high-water mark is the newest day seen
    * in the stored state or the arriving batch (KB-sized aggregates —
    * the two max() lookups cost nothing per micro-batch), CLAMPED to
    * the processing-time day + `futureSkewDays`: without the clamp, one
    * future-dated event (producer clock skew) would permanently advance
    * the persisted HWM and dead-letter every legitimate event forever.
    * Events beyond the skew allowance are themselves dead-lettered into
    * the same sentinel — a day that hasn't happened yet is as bogus as
    * one retired years ago. */
  def maintain(events: DataFrame, stateDir: String, checkpointLocation: String,
      keepVersions: Int = 3, retentionDays: Option[Int] = None,
      futureSkewDays: Int = 2): StreamingQuery =
    events.writeStream
      .option("checkpointLocation", checkpointLocation)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        import org.apache.spark.sql.functions._
        val spark = batch.sparkSession
        val state = readState(spark, stateDir)
        val R = graft.operators.Relational
        val next = retentionDays match {
          case None => R.mergeDailyState(state, batch)
          case Some(r) =>
            val dayCol = to_date(date_trunc("day", col("ts")))
            // HWM clamp: the newest BELIEVABLE day. Persisted state from
            // before the clamp may already carry a poisoned future day,
            // so the min() applies to the stored max too, healing it.
            val maxDay = java.sql.Date.valueOf(
              java.time.LocalDate.now(java.time.ZoneOffset.UTC)
                .plusDays(futureSkewDays.toLong))
            val ord = Ordering.fromLessThan[java.time.LocalDate](_ isBefore _)
            val hwm = Seq(
              state.agg(max(col("day"))).head().getAs[java.sql.Date](0),
              batch.filter(dayCol <= lit(maxDay))
                .agg(max(dayCol)).head().getAs[java.sql.Date](0))
              .filter(_ != null)
              .map(d => ord.min(d.toLocalDate, maxDay.toLocalDate))
            if (hwm.isEmpty) R.mergeDailyState(state, batch)
            else {
              val cutoff = java.sql.Date.valueOf(hwm.max(ord).minusDays(r.toLong))
              val inWindow = dayCol >= lit(cutoff) && dayCol <= lit(maxDay)
              val fresh = batch.filter(inWindow)
              // dead-letter summary of the refused events (too old OR
              // future-dated beyond the skew allowance), state-shaped
              val dropped = batch.filter(!inWindow)
                .agg(count(lit(1)).as("n_events"),
                  sum(round(col("value") * 100, 0).cast("long")).as("cents"))
                .select(lit(LateDroppedType).as("event_type"),
                  lit(null).cast("date").as("day"),
                  col("n_events"), coalesce(col("cents"), lit(0L)).as("cents"))
                .filter(col("n_events") > 0)
              R.mergeStates(R.mergeDailyState(state, fresh), dropped)
            }
        }
        // same-version overwrite = idempotent on foreachBatch replay
        next.coalesce(1).write.mode("overwrite")
          .parquet(s"$stateDir/v=$batchId")
        // retire old versions (never the one just written)
        val f = fs(spark, stateDir)
        committedVersions(spark, stateDir).sorted.dropRight(keepVersions)
          .filter(_ != batchId)
          .foreach(v => f.delete(
            new org.apache.hadoop.fs.Path(s"$stateDir/v=$v"), true))
        ()
      }
      .start()
}
