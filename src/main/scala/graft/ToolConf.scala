package graft

import org.apache.spark.sql.SparkSession

/** SPARK_GRAFT_CONF="k=v;k=v" — extra Spark confs layered onto every
  * session ([[GraftSession]], and graftbench's own builder), for
  * scoped A/B experiments (io codec, runtime-filter thresholds, AQE
  * advisory sizes, ...) without editing the tool per experiment. Applied
  * LAST, so an experiment can override any default. Runs of record leave
  * it unset. */
object ToolConf {
  def apply(b: SparkSession.Builder): SparkSession.Builder = {
    entries(sys.env.getOrElse("SPARK_GRAFT_CONF", ""))
      .foreach { case (k, v) => b.config(k, v) }
    b
  }

  /** Parses a "k=v;k=v" overlay; a value keeps any '=' after the first. */
  def entries(overlay: String): Seq[(String, String)] =
    overlay.split(';').toSeq.map(_.trim).filter(_.nonEmpty).map { kv =>
      val i = kv.indexOf('=')
      require(i > 0, s"SPARK_GRAFT_CONF entry not k=v: $kv")
      kv.take(i).trim -> kv.drop(i + 1).trim
    }
}
