// ANN sizing sweep: sbt "runMain graft.AnnTune" (uses SPARK_GRAFT_SF_DIR
// or sf0.1). Prints mean recall@3 vs exact (s01) and candidate volume for
// each (signBits × multiProbe) config — the measurement behind the
// AnnSignBits/AnnMultiProbe defaults and the log2(n/c) sizing rule.
package graft

import graft.operators.Similarity
import org.apache.spark.sql.functions._

object AnnTune {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession(32)
    spark.sparkContext.setLogLevel("WARN")

    val exact = Similarity.s01KnnBrute(spark, sfDir).filter(col("rk") <= 3)
      .select(col("query_id"), col("neighbor_id")).cache()
    val kExact = exact.count()

    for (bits <- Seq(6, 8, 10, 12); probe <- Seq(false, true)) {
      val ann = Similarity.s02AnnLsh(spark, sfDir, bits, probe)
        .select(col("query_id").as("aq"), col("neighbor_id").as("an"))
      val hits = exact.join(ann,
        col("query_id") === col("aq") && col("neighbor_id") === col("an"),
        "left_semi").count()
      // candidate volume = rows surviving the bucket equi-join (the work
      // the exact rescorer must do; the scan-reduction side of the trade)
      val e = Tables.embeddings(spark, sfDir)
        .withColumn("bucket", graft.functions.VectorFunctions.signBucket(col("embedding"), bits))
      val qSide = e.filter(col("vec_id") < Similarity.NumQueries)
        .select(col("bucket"), col("vec_id").as("query_id"))
      val probes = if (!probe) qSide else
        qSide.withColumn("pi", explode(sequence(lit(0), lit(bits))))
          .withColumn("bucket", when(col("pi") === 0, col("bucket"))
            .otherwise(col("bucket").bitwiseXOR(pow(2.0, col("pi") - 1).cast("long"))))
          .select(col("bucket"), col("query_id"))
      val cand = e.select(col("bucket"), col("vec_id").as("neighbor_id"))
        .join(probes, Seq("bucket"))
        .filter(col("neighbor_id") =!= col("query_id")).count()
      println(f"ANNTUNE bits=$bits%2d multiProbe=$probe%-5s " +
        f"recall@3=${hits.toDouble / kExact}%.4f candidates=$cand")
    }

    // multi-table sweep (s05): probed tables, recall 1-(1-p)^L vs xL index
    for (tables <- Seq(1, 2, 4, 8)) {
      val ann = Similarity.s05AnnMultiTable(spark, sfDir, Similarity.AnnSignBits, tables)
        .select(col("query_id").as("aq"), col("neighbor_id").as("an"))
      val hits = exact.join(ann,
        col("query_id") === col("aq") && col("neighbor_id") === col("an"),
        "left_semi").count()
      println(f"ANNTUNE tables=$tables%2d bits=${Similarity.AnnSignBits}%2d probed " +
        f"recall@3=${hits.toDouble / kExact}%.4f")
    }
    spark.stop()
  }
}
