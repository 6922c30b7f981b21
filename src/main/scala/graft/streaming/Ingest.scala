package graft.streaming

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Ingest paths — the reference's bulk loader and tail-f source,
  * Spark-first (SURVEY §2.B `ingest` / `tailf` / `stream_ingest`).
  *
  * The reference (IngestTest.java:60-140, CompressedSequenceFile.java)
  * hand-builds a producer/consumer queue writing gzip SequenceFile
  * batches and tunes block sizes; TailF.java polls a file for appended
  * lines. On Spark both collapse to declarative sources/sinks:
  * `spark.read.text` decompresses gzip transparently and parallelizes by
  * file, the parquet sink IS the compressed columnar batch store, and
  * the file stream source with `maxFilesPerTrigger` is the tail-f —
  * checkpointed, so ingest resumes exactly-once after failure. At
  * 100 TB the same two plans hold; parallelism comes from file count ×
  * `maxPartitionBytes`, not from hand-managed writer threads.
  *
  * An existing reference-produced corpus (gzip-batched SequenceFiles)
  * reads directly via [[graft.sources.SeqFile.readSequenceFile]] — the
  * day-one migration path that feeds this ingest without re-encoding.
  */
object Ingest {

  /** Batch ingest: text (plain or .gz — codec inferred per file) →
    * compressed parquet, tagged with the source file. Returns rows
    * ingested, counted by the write itself through `observe`, so no
    * job reads the output back. */
  def ingestText(spark: SparkSession, inPath: String, outPath: String,
      compression: String = "snappy"): Long = {
    val written = Observation()
    spark.read.text(inPath)
      .select(col("value").as("line"), input_file_name().as("src_file"))
      .observe(written, count(lit(1)).as("rows"))
      .write.mode("overwrite").option("compression", compression).parquet(outPath)
    written.get("rows").asInstanceOf[Long]
  }

  /** Streaming ingest (tail-f): watch a directory for new text files,
    * append to a checkpointed parquet sink. AvailableNow drains what
    * exists then stops — swap for ProcessingTime in continuous use. */
  def streamIngest(spark: SparkSession, inDir: String, outDir: String,
      checkpointLocation: String, maxFilesPerTrigger: Int = 16): StreamingQuery =
    spark.readStream
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .text(inDir)
      .select(col("value").as("line"))
      .writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointLocation)
      .trigger(Trigger.AvailableNow())
      .start()
}
