package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** m04 scale-ladder artifact emitter (r15, verdict item 2): measures the
  * phash near-dup operator's PAIR MASS and fingerprint-frequency
  * structure at each docs scale, capped (the shipped entry) and
  * uncapped, so "the band join grows ~linearly on this corpus" is a
  * recorded number instead of prose. Per corpus it also classifies
  * output pairs as SAME-BASE-DOC replica pairs (doc_i ≡ doc_j mod the
  * replica stride — ScaleGen's letter-prefix decorrelates token space
  * but a 1-char-per-token insertion leaves byte-sampled dHashes of the
  * same base document within a few bits, so those pairs are fixture
  * correlation, not operator pathology) vs cross-base pairs.
  *
  * Usage: runMain graft.M04Ladder <outFile> <dir1> [dir2 ...] */
object M04Ladder {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: M04Ladder <outFile> <dir1> [dir2 ...]")
    val out = args(0)
    val dirs = args.drop(1).toSeq
    val spark = GraftSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    spark.sparkContext.setLogLevel("WARN")
    try {
      // replica stride = (max base doc_id + 1) read from the FIRST dir,
      // which is the base corpus by convention — ScaleGen's docs mode
      // keeps ids dense, so the stride is NOT recoverable from a scaled
      // dir's ids alone
      val stride = Tables.documents(spark, dirs.head)
        .agg(max(col("doc_id"))).head().getLong(0) + 1
      val cells = dirs.map(d => cell(spark, d, stride))
      val json = s"""{"max_fp_df_cap":${operators.Multimodal.M04MaxFpDf},""" +
        s""""replica_stride":$stride,"cells":[${cells.mkString(",")}]}"""
      val w = new java.io.PrintWriter(out)
      try w.println(json) finally w.close()
      println(json)
    } finally spark.stop()
  }

  private[graft] def cell(spark: SparkSession, dir: String,
      stride: Long): String = {
    import operators.Multimodal
    val fps = Multimodal.m04Corpus(spark, dir)
      .select(col("doc_id"),
        graft.functions.NativeFunctions.phash63(col("text")).as("fp"))
      .localCheckpoint() // one fingerprint pass feeds every measurement
    val nDocs = fps.count()
    val dfStats = fps.groupBy(col("fp")).agg(count(lit(1)).as("df"))
      .agg(count(lit(1)), max(col("df")),
        sum(when(col("df") > 1, 1L).otherwise(0L)),
        sum(when(col("df") > Multimodal.M04MaxFpDf, 1L).otherwise(0L))).head()
    // same-base classification covers variant ids too: m04Corpus plants
    // the %17 variant of doc d at −1−d, so canonical id = d either way
    val canon = (c: org.apache.spark.sql.Column) =>
      pmod(when(c >= 0, c).otherwise(lit(-1L) - c), lit(stride))
    val uncapped = Multimodal.m04BandVerify(fps, operators.Dedup.NoDfCap)
      .withColumn("ci", canon(col("doc_i"))).withColumn("cj", canon(col("doc_j")))
      .agg(count(lit(1)), sum(when(col("ci") === col("cj"), 1L).otherwise(0L)),
        // distinct CANONICAL cross-base pairs — the operator-level
        // candidate structure: a same-base pair collapses to (c,c) and
        // is excluded; every replica echo of one underlying near-dup
        // relation collapses to ONE canonical pair. Linear/flat growth
        // here = the operator is stable and the raw pair mass is
        // replica bookkeeping, not a quadratic blow-up.
        count_distinct(when(col("ci") =!= col("cj"),
          struct(least(col("ci"), col("cj")), greatest(col("ci"), col("cj")))))).head()
    val capped = Multimodal.m04BandVerify(fps, Multimodal.M04MaxFpDf).count()
    s"""{"dir":"$dir","n_docs":$nDocs,"n_distinct_fps":${dfStats.getLong(0)},""" +
      s""""max_fp_df":${dfStats.getLong(1)},"fps_df_gt1":${dfStats.getLong(2)},""" +
      s""""fps_over_cap":${dfStats.getLong(3)},""" +
      s""""pairs_capped":$capped,"pairs_uncapped":${uncapped.getLong(0)},""" +
      s""""pairs_same_base_replica":${uncapped.getLong(1)},""" +
      s""""distinct_canonical_cross_pairs":${uncapped.getLong(2)}}"""
  }
}
