package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** ANN quality ARTIFACT emitter (round 14, verdict item 6): the recall
  * audits (s04/s07/s11/s16/s17/s24) compute per-path recall every round
  * but only spec-assert THRESHOLDS — a quality regression that stays
  * above the floor is invisible in the round artifacts. This main runs
  * every audit path at the given SF dir and writes ONE small JSON
  * (default `RECALL.json` in the cwd) with, per path: recall@3
  * (micro-averaged hits/total over the audited queries), the query
  * count, and the knob setting that produced it — plus a corpus
  * fingerprint (vector count + Σ vec_id) so a recall delta can be told
  * apart from a corpus change. Knob strings are built from the SAME
  * constants the operators default to (AnnSignBits, autoNLists,
  * PqSubspaces, S19Probes…) — the artifact cannot claim a knob the code
  * doesn't use.
  *
  * Usage: runMain graft.RecallAudit [sfDir] [outFile] [prevFile]
  * (env SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS honored, Bench's rule).
  * When a previous round's file is given — or a RECALL_r{N}.json is
  * found in the cwd — the emitted JSON carries a `vs_prev` object with
  * per-path recall deltas, so quality drift is a diffable number in the
  * artifact itself (r14 verdict item 6). */
object RecallAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0)
      else sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val out = if (args.length > 1) args(1) else "RECALL.json"
    val prevFile: Option[java.io.File] =
      (if (args.length > 2) Some(new java.io.File(args(2))) else {
        // auto-detect: the highest-round RECALL_r{N}.json in the cwd
        // that is not the output file itself
        val re = """RECALL_r(\d+)\.json""".r
        val outName = new java.io.File(out).getName
        Option(new java.io.File(".").listFiles()).getOrElse(Array.empty)
          .flatMap { f => f.getName match {
            case re(n) if f.getName != outName => Some((n.toInt, f))
            case _ => None
          }}.sortBy(_._1).lastOption.map(_._2)
      }).filter(_.isFile)
    val spark = GraftSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    spark.sparkContext.setLogLevel("WARN")
    try {
      val base = audit(spark, sfDir)
      val json = prevFile match {
        case Some(pf) =>
          val prevJson = scala.io.Source.fromFile(pf)
          val prevText = try prevJson.mkString finally prevJson.close()
          base.dropRight(1) + s""","vs_prev":${deltasVs(pf.getName, prevText, base)}}"""
        case None => base
      }
      val w = new java.io.PrintWriter(out)
      try w.println(json) finally w.close()
      println(json)
    } finally spark.stop()
  }

  /** Per-path recall deltas vs a previous round's artifact: one flat
    * regex pull of the `"path":{"recall_at_3":x` pairs from each side
    * (the artifact grammar is ours, emitted above — a JSON library
    * would be parsing our own println). Paths present on one side only
    * are listed, not silently dropped. */
  private[graft] def deltasVs(prevName: String, prevText: String,
      curText: String): String = {
    val re = """"([a-z0-9_]+)":\{"recall_at_3":([0-9.]+)""".r
    def recalls(t: String): Map[String, Double] =
      re.findAllMatchIn(t).map(m => m.group(1) -> m.group(2).toDouble).toMap
    val prev = recalls(prevText)
    val cur = recalls(curText)
    // plain %.4f — a %+.4f leading '+' is not valid JSON number syntax
    val deltas = cur.keySet.intersect(prev.keySet).toSeq.sorted.map { p =>
      s""""$p":${f"${cur(p) - prev(p)}%.4f"}"""
    }.mkString("{", ",", "}")
    val added = (cur.keySet -- prev.keySet).toSeq.sorted
      .map("\"" + _ + "\"").mkString("[", ",", "]")
    val removed = (prev.keySet -- cur.keySet).toSeq.sorted
      .map("\"" + _ + "\"").mkString("[", ",", "]")
    s"""{"file":"$prevName","recall_deltas":$deltas,"added":$added,"removed":$removed}"""
  }

  /** One audit pass → the JSON line (factored from main for the spec). */
  def audit(spark: SparkSession, sfDir: String): String = {
    import operators.Similarity._
    // per-query audits share the (k_exact, n_hit) schema — micro-average
    def micro(df: DataFrame): (Long, Long, Long) = {
      val r = df.agg(count(lit(1)), sum(col("k_exact")), sum(col("n_hit"))).head()
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }
    def entry(name: String, knob: String, df: DataFrame): String = {
      val (nq, kTotal, nHits) = micro(df)
      val recall = if (kTotal > 0) nHits.toDouble / kTotal else 0.0
      s""""$name":{"recall_at_3":${f"$recall%.4f"},"n_queries":$nq,"knob":"$knob"}"""
    }
    val nLists = autoNLists(spark, sfDir)
    val entries = scala.collection.mutable.ListBuffer[String]()
    entries += entry("lsh_s02", s"bits=$AnnSignBits,multiProbe=true",
      s04AnnRecall(spark, sfDir))
    entries += entry("ivf_s03", s"nLists=$nLists,nProbe=2",
      s07IvfRecall(spark, sfDir))
    entries += entry("pq_s09", s"m=$PqSubspaces,k=$PqCodebookSize",
      s11PqRecall(spark, sfDir))
    // the sizing someone would SHIP (DEPLOY: m=16-64, k=256) next to the
    // gate's toy default — the 0.04 default row is honest but measures a
    // configuration no serving tier would run (r14 verdict nit 6)
    entries += entry("pq_s09_prod", "m=16,k=256",
      s11PqRecall(spark, sfDir, 16, 256))
    entries += entry("sq8_s15", "int8-dot vs exact float-IP top-3",
      s17Sq8Recall(spark, sfDir))
    entries += entry("multitable_s05", s"bits=$AnnSignBits,tables=$AnnTables,multiProbe=true",
      s05MultiTableRecall(spark, sfDir))
    // range search: k_exact is the true τ-neighbor SET per query (not a
    // fixed k) — 1.0 by the triangle bound; the row measures the claim
    entries += entry("range_s06", s"tau=$RangeTau,nLists=$nLists,exact-by-triangle-bound",
      s06RangeRecall(spark, sfDir))
    val pca = s16PcaRecall(spark, sfDir)
    Seq(8, 16, 32).foreach { sl =>
      entries += entry(s"pca_s14_sl$sl", s"kDims=16,shortlist=$sl",
        pca.filter(col("shortlist") === sl))
    }
    // s24 emits aggregates already (variant, k_total, n_hits, recall_ppm)
    s24GraphRecall(spark, sfDir).collect().foreach { r =>
      val variant = r.getString(r.fieldIndex("variant"))
      val nq = r.getLong(r.fieldIndex("n_queries"))
      val kT = r.getLong(r.fieldIndex("k_total"))
      val nH = r.getLong(r.fieldIndex("n_hits"))
      val recall = if (kT > 0) nH.toDouble / kT else 0.0
      val knob =
        if (variant.startsWith("ivf")) s"nLists=$nLists,nProbe=$S19Probes"
        else s"nLists=$nLists,nProbe=$S19Probes,refineRounds=1"
      entries +=
        s""""graph_$variant":{"recall_at_3":${f"$recall%.4f"},"n_queries":$nq,"knob":"$knob"}"""
    }
    val emb = Tables.embeddings(spark, sfDir)
      .agg(count(lit(1)), sum(col("vec_id"))).head()
    s"""{"sf":"$sfDir","corpus":{"n_vectors":${emb.getLong(0)},""" +
      s""""sum_vec_id":${emb.getLong(1)}},""" +
      s""""recall_k":3,"paths":{${entries.mkString(",")}}}"""
  }
}
