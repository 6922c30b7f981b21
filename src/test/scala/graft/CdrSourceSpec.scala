package graft

import java.io.{BufferedWriter, FileOutputStream, OutputStreamWriter}
import java.util.zip.GZIPOutputStream
import org.apache.spark.sql.functions._

class CdrSourceSpec extends GraftSuite {

  private def cdrLine(i: Int): String =
    s"<${i % 32}> 2013-01-01 {CGN-SET${i % 4}}[USER${100 + i % 5}]: NAT44: proto ${i % 7} (TCP) application: http"

  test("graft-cdr V2 source parses plain and gzip logs into structured rows") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cdrsrc").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/a.log"),
      ((0 until 80).map(cdrLine) :+ "garbage not a cdr line").mkString("\n").getBytes)
    val gz = new BufferedWriter(new OutputStreamWriter(
      new GZIPOutputStream(new FileOutputStream(s"$dir/b.log.gz"))))
    (80 until 200).foreach(i => gz.write(cdrLine(i) + "\n"))
    gz.close()

    val df = spark.read.format("graft-cdr").load(dir) // short name via DataSourceRegister
    assert(df.schema.fieldNames.toSeq ==
      Seq("pri", "cdr_set", "user_id", "event", "proto", "line"))
    assert(df.count() == 201)
    // both files contribute; parse fields round-trip
    val parsed = df.filter(col("user_id").isNotNull)
    assert(parsed.count() == 200)
    assert(parsed.select("event").distinct().collect().map(_.getString(0)).toSeq == Seq("NAT44"))
    assert(parsed.agg(countDistinct("user_id")).collect().head.getLong(0) == 5)
    assert(parsed.agg(sum("proto")).collect().head.getLong(0) ==
      (0 until 200).map(_ % 7).sum)
    // malformed line surfaces with null fields, not a failure
    assert(df.filter(col("user_id").isNull).count() == 1)
    // scan composes with the relational layer: aggregation over the source
    val perSet = df.filter(col("cdr_set").isNotNull).groupBy("cdr_set").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(perSet.keySet == Set("CGN-SET0", "CGN-SET1", "CGN-SET2", "CGN-SET3"))
    assert(perSet.values.sum == 200)
  }

  test("graft-cdr splits uncompressed files by byte range without losing lines") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cdrsplit").toString
    val lines = (0 until 5000).map(cdrLine)
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/big.log"),
      lines.mkString("\n").getBytes)
    val whole = spark.read.format("graft-cdr").load(dir)
    val split = spark.read.format("graft-cdr").option("splitBytes", 50000L).load(dir)
    assert(split.rdd.getNumPartitions > 5,
      s"expected many byte-range splits, got ${split.rdd.getNumPartitions}")
    assert(whole.rdd.getNumPartitions == 1)
    assert(split.count() == 5000 && whole.count() == 5000)
    // identical content regardless of split boundaries (incl. boundary lines)
    assert(split.agg(sum("proto"), countDistinct("user_id")).collect().toSeq ==
      whole.agg(sum("proto"), countDistinct("user_id")).collect().toSeq)
    assert(split.select("line").except(whole.select("line")).isEmpty)
    assert(whole.select("line").except(split.select("line")).isEmpty)
  }

  test("graft-cdr prunes columns: lines-only projection skips the parse") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cdrprune").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/a.log"),
      (0 until 50).map(cdrLine).mkString("\n").getBytes)
    val df = spark.read.format("graft-cdr").load(dir)
    val linesOnly = df.select("line")
    linesOnly.collect()
    val plan = linesOnly.queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema: struct<line:string>") ||
      !plan.contains("user_id"), s"schema not pruned to line:\n$plan")
    assert(linesOnly.count() == 50)
    // mixed projection still parses correctly through the pruned path
    val mixed = df.select("user_id", "line").collect()
    assert(mixed.length == 50 && mixed.forall(r => !r.isNullAt(0)))
    assert(df.select("proto").agg(sum("proto")).collect().head.getLong(0) ==
      (0 until 50).map(_ % 7).sum)
  }

  test("graft-cdr skips _- and .-prefixed files as spark.read.text does") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cdrhidden").toString
    def write(name: String, lines: String*): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/$name"), lines.mkString("\n").getBytes)
    write("a.log", cdrLine(1), cdrLine(2))
    write("_SUCCESS", cdrLine(3))
    write(".hidden", cdrLine(4))
    val df = spark.read.format("graft-cdr").load(dir)
    assert(df.count() == 2)
    assert(spark.read.text(dir).count() == 2)
    assert(df.select("user_id").collect().map(_.getLong(0)).sorted.toSeq == Seq(101L, 102L))
  }

  test("graft-cdr leaves a line unparsed when a number overflows its column") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cdrovf").toString
    // the last two go through the decode-and-regex path (non-ASCII bytes)
    val overflow = Seq(
      "<99999999999> {S}[USER1]: EV: proto 1",
      "<2147483648> {S}[USER1]: EV: proto 1",
      "<1> {S}[USER9223372036854775808]: EV: proto 1",
      "<1> {S}[USER1]: EV: proto 2147483648",
      "<1> {S\u00e9}[USER1]: EV: proto 99999999999",
      "<99999999999> {S}[USER1]: EV: proto 1 \u00e9")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/a.log"),
      (overflow :+ "<2147483647> {S}[USER9223372036854775807]: EV: proto 2147483647")
        .mkString("\n").getBytes("UTF-8"))
    val rows = spark.read.format("graft-cdr").load(dir).collect()
    assert(rows.length == 7)
    rows.take(6).foreach(r => assert((0 until 5).forall(r.isNullAt), s"parsed: $r"))
    assert(rows(6).toSeq.take(5) == Seq(Int.MaxValue, "S", Long.MaxValue, "EV", Int.MaxValue))
  }

  test("graft-cdr propagates session hadoop conf to executor-side readers") {
    import graft.sources.cdr.SerializableHadoopConf
    // Round-trip: spark.hadoop.* session settings survive Java serialization
    // to the reader (the S3A-credentials path ADVICE flagged).
    val conf = spark.sessionState.newHadoopConf()
    conf.set("graft.test.marker", "mark-42")
    val ser = new SerializableHadoopConf(conf)
    val bytes = new java.io.ByteArrayOutputStream()
    val oos = new java.io.ObjectOutputStream(bytes)
    oos.writeObject(ser); oos.close()
    val back = new java.io.ObjectInputStream(
      new java.io.ByteArrayInputStream(bytes.toByteArray))
      .readObject().asInstanceOf[SerializableHadoopConf]
    assert(back.value.get("graft.test.marker") == "mark-42")
    // And spark.hadoop.* keys set at session build reach newHadoopConf at all
    // (source picks conf up from the session, not new Configuration()).
    val dir = java.nio.file.Files.createTempDirectory("graft_cdrconf").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/a.log"), cdrLine(1).getBytes)
    assert(spark.read.format("graft-cdr").load(dir).count() == 1)
  }
}
