package graft

import java.nio.file.Files
import org.apache.spark.TestBus
import org.apache.spark.sql.functions.{col, sum}
import org.apache.spark.sql.types.{BinaryType, StringType}

/** [[Tables.load]]'s schema memo: reused while a table is unchanged,
  * re-inferred when its files or the session's schema confs change. */
class TablesSpec extends GraftSuite {

  private def newDir(): String = Files.createTempDirectory("graft-tables").toString

  private def jobsDuring[T](body: => T): (T, Int) = TestBus.jobsDuring(spark.sparkContext)(body)

  test("a second load of an unchanged table submits no Spark job") {
    val dir = newDir()
    spark.range(100).toDF("id").write.parquet(s"$dir/t.parquet")
    val (first, inferJobs) = jobsDuring(Tables.load(spark, dir, "t"))
    assert(inferJobs >= 1, "the first load infers the schema with a job")
    val (second, jobs) = jobsDuring(Tables.load(spark, dir, "t"))
    assert(jobs == 0, "the second load re-inferred the schema")
    assert(second.schema == first.schema)
    assert(second.count() == 100)
  }

  test("a table rewritten in place with an extra column is re-inferred") {
    val dir = newDir()
    spark.range(10).toDF("id").write.parquet(s"$dir/t.parquet")
    assert(Tables.load(spark, dir, "t").columns.toSeq == Seq("id"))
    spark.range(10).selectExpr("id", "id * 2 AS twice")
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    val df = Tables.load(spark, dir, "t")
    assert(df.columns.toSeq == Seq("id", "twice"))
    assert(df.agg(sum("twice")).head().getLong(0) == 90L)
  }

  test("spark.sql.parquet.binaryAsString is part of the memo key") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    // Written by parquet-mr, not Spark: the footer carries no Spark
    // schema, so the binary column's type comes from the conf.
    val dir = newDir()
    val schema = MessageTypeParser.parseMessageType("message m { required binary payload; }")
    val writer = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(s"$dir/b.parquet/part-0.parquet"))
      .withType(schema).withConf(spark.sessionState.newHadoopConf()).build()
    try writer.write(new SimpleGroupFactory(schema).newGroup().append("payload", "abc"))
    finally writer.close()

    val key = "spark.sql.parquet.binaryAsString"
    val saved = spark.conf.getOption(key)
    try {
      spark.conf.set(key, "true")
      val asString = Tables.load(spark, dir, "b")
      assert(asString.schema("payload").dataType == StringType)
      assert(asString.head().getString(0) == "abc")
      spark.conf.set(key, "false")
      assert(Tables.load(spark, dir, "b").schema("payload").dataType == BinaryType)
    } finally saved match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("atRestBytes sums the scan's own file listing and reads one table only") {
    import org.apache.hadoop.fs.Path
    Tables.all.foreach { name =>
      val root = new Path(s"$sf/$name.parquet")
      val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
      val files = fs.listFiles(root, true)
      var listed = 0L
      while (files.hasNext) {
        val f = files.next()
        if (f.getPath.getName.endsWith(".parquet")) listed += f.getLen
      }
      assert(listed > 0, s"$name: the test listing found no parquet file")
      assert(Tables.atRestBytes(Tables.byName(spark, sf, name)) == listed,
        s"$name: atRestBytes disagrees with a Hadoop listing")
    }
    intercept[IllegalArgumentException](Tables.atRestBytes(spark.range(3).toDF()))
    val join = Tables.orders(spark, sf)
      .join(Tables.customer(spark, sf), col("o_custkey") === col("c_custkey"))
    intercept[IllegalArgumentException](Tables.atRestBytes(join))
  }
}
