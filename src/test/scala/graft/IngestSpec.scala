package graft

import java.io.{BufferedWriter, FileOutputStream, OutputStreamWriter}
import java.util.zip.GZIPOutputStream
import graft.sources.{FsIO, SeqFile}
import graft.streaming.Ingest
import org.apache.spark.TestBus

class IngestSpec extends GraftSuite {

  test("SequenceFile round-trip: gzip-batched lines survive write + raw read") {
    // the reference's at-rest format: values are gzip batches of
    // newline-joined records; read back through the raw (class-free)
    // path and count through r01's shape
    val dir = java.nio.file.Files.createTempDirectory("graft_seq").toString
    import spark.implicits._
    val lines = (1 to 2573).map(i => s"<13> host$i {s}[u$i]: EVENT: rec $i")
    val df = lines.toDF("line").repartition(4)
    SeqFile.writeSequenceFile(df, s"$dir/seq", batchSize = 100)
    val back = SeqFile.readSequenceFile(spark, s"$dir/seq")
    assert(back.columns.sameElements(Array("line")))
    assert(back.count() == 2573, "row count lost in SequenceFile round-trip")
    assert(back.collect().map(_.getString(0)).sorted.toSeq == lines.sorted,
      "line content diverged")
  }

  test("SequenceFile reader decodes a hand-written gzip batch record") {
    // emulate a reference-produced record value: [4-byte len][gzip batch]
    val batch = "a line\nanother line\n".getBytes("UTF-8")
    val bos = new java.io.ByteArrayOutputStream()
    val gz = new GZIPOutputStream(bos); gz.write(batch); gz.close()
    val payload = bos.toByteArray
    val prefixed = java.nio.ByteBuffer.allocate(4 + payload.length)
      .putInt(payload.length).put(payload).array()
    assert(SeqFile.decodeBatch(prefixed).toSeq == Seq("a line", "another line"))
    // bare (unprefixed) gzip payload also decodes
    assert(SeqFile.decodeBatch(payload).toSeq == Seq("a line", "another line"))
  }

  test("seed replication multiplies a seed file N times, distributed") {
    val dir = java.nio.file.Files.createTempDirectory("graft_seed").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/seed.txt"),
      (1 to 37).map(i => s"seed rec $i").mkString("\n").getBytes)
    val n = SeqFile.replicateSeed(spark, s"$dir/seed.txt", copies = 4, s"$dir/corpus")
    assert(n == 37L * 4)
    assert(spark.read.text(s"$dir/corpus").distinct().count() == 37)
  }

  test("batch ingest reads gzip text transparently into compressed parquet") {
    val dir = java.nio.file.Files.createTempDirectory("graft_gz").toString
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$dir/in"))
    // one gzip file + one plain file: codec is inferred per file
    val gz = new BufferedWriter(new OutputStreamWriter(
      new GZIPOutputStream(new FileOutputStream(s"$dir/in/part1.log.gz"))))
    (1 to 100).foreach(i => gz.write(s"<13> host rec $i\n"))
    gz.close()
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/in/part2.log"),
      (101 to 150).map(i => s"<13> host rec $i").mkString("\n").getBytes)
    val n = Ingest.ingestText(spark, s"$dir/in", s"$dir/out", compression = "zstd")
    assert(n == 150)
    val back = spark.read.parquet(s"$dir/out")
    assert(back.columns.toSet == Set("line", "src_file"))
    assert(back.select("src_file").distinct().count() == 2)
  }

  test("batch ingest counts rows from its own write: one job, no read-back") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ingest_jobs").toString
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$dir/in"))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/in/a.log"),
      (1 to 321).map(i => s"<13> host rec $i").mkString("\n").getBytes)
    val (n, jobs) = TestBus.jobsDuring(spark.sparkContext)(
      Ingest.ingestText(spark, s"$dir/in", s"$dir/out"))
    assert(n == 321)
    assert(jobs == 1, s"ingest submitted $jobs jobs; the write is the only one")
    assert(spark.read.parquet(s"$dir/out").count() == 321)
  }

  test("batch ingest of empty files returns 0 instead of waiting on the count") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ingest_empty").toString
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$dir/in"))
    Seq("a.log", "b.log").foreach(f =>
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/in/$f"), Array.emptyByteArray))
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val n = Await.result(Future(Ingest.ingestText(spark, s"$dir/in", s"$dir/out")), 2.minutes)
    assert(n == 0)
  }

  test("fs round-trip preserves rows for every format") {
    val dir = java.nio.file.Files.createTempDirectory("graft_fsio").toString
    val df = Tables.nation(spark, sf)
    FsIO.formats.filter(_ != "text").foreach { fmt =>
      val back = FsIO.roundTrip(df, dir, fmt)
      assert(back.count() == df.count(), s"$fmt lost rows")
      assert(back.columns.sorted.sameElements(df.columns.sorted), s"$fmt lost columns")
    }
    // text needs a single string column
    val txt = FsIO.roundTrip(df.selectExpr("n_name AS value"), dir, "text")
    assert(txt.count() == df.count())
  }

  test("parquet codec matrix: every codec round-trips value-identical") {
    val dir = java.nio.file.Files.createTempDirectory("graft_codec").toString
    val df = Tables.nation(spark, sf)
    val expect = df.collect().map(_.toString).sorted.toSeq
    FsIO.parquetCodecs.foreach { codec =>
      val path = s"$dir/$codec"
      FsIO.write(df, path, "parquet", Map("compression" -> codec))
      // the codec must actually be applied at rest, not silently dropped
      val tag = if (codec == "gzip") "gz" else codec // writer names gzip parts .gz.parquet
      val files = new java.io.File(path).listFiles()
        .filter(_.getName.endsWith(".parquet")).map(_.getName)
      assert(files.nonEmpty && files.forall(_.contains(s".$tag.")),
        s"$codec not in part filenames: ${files.mkString(",")}")
      val back = FsIO.read(spark, path, "parquet")
      assert(back.collect().map(_.toString).sorted.toSeq == expect,
        s"$codec round-trip diverged")
    }
  }
}
