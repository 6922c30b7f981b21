package graft

import org.scalatest.funsuite.AnyFunSuite

class GraftSessionSpec extends AnyFunSuite {
  private val smj = "spark.sql.join.preferSortMergeJoin"
  private val shuffle = "spark.sql.shuffle.partitions"

  test("the engine set is the whole conf list when there is no overlay") {
    val confs = GraftSession.confs(4, "")
    assert(confs == GraftSession.engine(4))
    assert(confs.toMap == Map(
      "spark.master" -> "local[4]",
      "spark.sql.extensions" -> "graft.GraftExtensions",
      shuffle -> "4",
      smj -> "false",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.optimizer.excludedRules" ->
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
      "spark.ui.enabled" -> "false"))
  }

  test("overlay entries come after the engine set and the caller's confs, and win") {
    val engine = GraftSession.engine(8)
    val confs = GraftSession.confs(8, s" $smj=true ;; $shuffle = 64", shuffle -> "16")
    assert(confs.take(engine.size) == engine)
    assert(confs.drop(engine.size) == Seq(shuffle -> "16", smj -> "true", shuffle -> "64"))
    assert(confs.toMap.apply(smj) == "true")
    assert(confs.toMap.apply(shuffle) == "64")
  }

  test("a malformed overlay entry fails loudly") {
    val e = intercept[IllegalArgumentException](
      GraftSession.confs(4, s"$smj=true;$shuffle"))
    assert(e.getMessage.contains(shuffle))
    intercept[IllegalArgumentException](GraftSession.confs(4, "=true"))
  }

  test("an overlay value containing '=' is kept whole") {
    val confs = GraftSession.confs(4, "spark.executor.extraJavaOptions=-Da=b -Dc=d")
    assert(confs.last == ("spark.executor.extraJavaOptions" -> "-Da=b -Dc=d"))
  }

  test("the spec session carries every engine conf") {
    val spark = SparkTestBase.spark
    val expected = GraftSession.confs(4, sys.env.getOrElse("SPARK_GRAFT_CONF", ""),
      SparkTestBase.SessionConfs: _*).toMap
    expected.foreach { case (k, v) => assert(spark.conf.get(k) == v, k) }
  }
}
