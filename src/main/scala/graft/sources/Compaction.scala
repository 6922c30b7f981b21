package graft.sources

import org.apache.spark.sql.SparkSession

/** Small-file compaction — the maintenance op every long-running ingest
  * needs: streaming sinks and per-batch writers leave thousands of tiny
  * parquet files whose open/footer overhead dominates scans at scale.
  * Rewrites a parquet directory into ~`targetFileBytes` files by
  * repartitioning on actual data size, swapped in place through
  * [[Commit.swap]] (a table format would make the swap transactional;
  * the rewrite-and-redirect shape is the same). */
object Compaction {

  /** Returns (filesBefore, filesAfter). A crashed earlier run is
    * recovered before the files are counted. */
  def compactParquet(spark: SparkSession, dir: String,
      targetFileBytes: Long = 128L * 1024 * 1024): (Int, Int) = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def parquetFiles() = fs.listStatus(path).filter(_.getPath.getName.endsWith(".parquet"))
    val before = Commit.swap(fs, path) { tmp =>
      val files = parquetFiles()
      val nOut = math.max(1, math.ceil(files.map(_.getLen).sum.toDouble / targetFileBytes).toInt)
      spark.read.parquet(dir).repartition(nOut)
        .write.mode("overwrite").parquet(tmp.toString)
      files.length
    }
    (before, parquetFiles().length)
  }
}
