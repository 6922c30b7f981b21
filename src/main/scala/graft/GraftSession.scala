package graft

import org.apache.spark.sql.SparkSession

/** The one constructor of a graft SparkSession. Every main and the spec
  * base build their session here, so the gate, the specs and graft's
  * own mains plan with the same engine conf set; graftbench builds its
  * session itself, with a copy of these confs. The measurements behind
  * each entry are in DEPLOY.md, "Session configuration". */
object GraftSession {
  /** `local[cpus]` with the engine confs, then the caller's `confs`, then
    * the `SPARK_GRAFT_CONF` overlay ([[ToolConf]]) last, so an experiment
    * can override any of them. */
  def apply(cpus: Int, confs: (String, String)*): SparkSession = {
    val b = SparkSession.builder()
    this.confs(cpus, sys.env.getOrElse("SPARK_GRAFT_CONF", ""), confs: _*)
      .foreach { case (k, v) => b.config(k, v) }
    b.getOrCreate()
  }

  /** The session's confs in the order they are applied (a later entry
    * wins): the engine set, `extra`, then the parsed `overlay`. */
  def confs(cpus: Int, overlay: String,
      extra: (String, String)*): Seq[(String, String)] =
    engine(cpus) ++ extra ++ ToolConf.entries(overlay)

  def engine(cpus: Int): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cpus]",
    // graft's optimizer rules, planner strategy and SQL functions
    "spark.sql.extensions" -> "graft.GraftExtensions",
    // one shuffle partition per task slot: the sizing the gate and the bench use
    "spark.sql.shuffle.partitions" -> cpus.toString,
    // both join sides are exchanged on the key anyway; sort-merge would
    // also sort the fact side, and shuffled hash joins spill since 3.x
    "spark.sql.join.preferSortMergeJoin" -> "false",
    // timestamp casts and truncations must not depend on the host zone
    "spark.sql.session.timeZone" -> "UTC",
    // events.parquet stores TIMESTAMP(NANOS), which Spark refuses otherwise
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    // the rule copies interpreted shingle/minhash generators into a filter
    // below the Generate, re-tokenizing every row only to drop empty arrays
    "spark.sql.optimizer.excludedRules" ->
      "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
    // nothing reads the web UI of a local run
    "spark.ui.enabled" -> "false")
}
