package graft

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.hadoop.io.Text
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.InputPartition
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.unsafe.types.UTF8String
import graft.sources.cdr.{CdrLineScanner, CdrScan, CdrTable}

/** The `graft-cdr` reader against [[CdrTable.LinePattern]]: for every
  * line of a corpus of edge cases and random token strings, each
  * projection returns the regex's groups (null when it does not match
  * or a number overflows) and the decoded line. */
class CdrParserSpec extends GraftSuite {

  private def ascii(s: String): Array[Byte] = s.getBytes(UTF_8)

  private val curated: Seq[Array[Byte]] = Seq(
    "<13> 2013-01-01 {CGN-SET1}[USER100]: NAT44: proto 3 (TCP) application: http",
    "<1> {A}[USER1]: EV: proto 1 then {B}[USER2]: FOO: proto 2 tail",
    "<1> {A}[USER1]: EV: proto 1 then {junk} and {more",
    "<1> {a{b}[USER7]: E: proto 0",
    "<1> {S}}[USER7]: E: proto 0",
    "<1> {S}[USER7]: E: proto 0 {T}}[USER8]: F: proto 1",
    "<2> {CGN[USER1]: E: proto 1",
    "<2> {S}[USER1]: E: proto 1 {oops",
    "<3>\t{S}[USER1]:\tE:\t\tproto 4\t",
    "<3> {S}[USER1]:\u000bE:\fproto 4",
    "<1>{S}[USER1]:E:proto 1",
    "<1> {}[USER1]: E: proto 1",
    "<1> {S\u0000}[USER1]: E: proto 1 \u0001\u007f",
    "<007> {S}[USER0000000000000000000042]: E: proto 0009",
    "<00000000000000000001> {S}[USER1]: E: proto 1",
    "<2147483647> {S}[USER9223372036854775807]: E: proto 2147483647",
    "<2147483648> {S}[USER1]: E: proto 1",
    "<99999999999> {S}[USER1]: E: proto 1",
    "<1> {S}[USER9223372036854775808]: E: proto 1",
    "<1> {S}[USER1]: E: proto 2147483648",
    "<1> {A}[USER1]: E: proto 1 {B}[USER99999999999999999999]: F: proto 2",
    "",
    "<>",
    "<1>",
    "<1",
    "<> {S}[USER1]: E: proto 1",
    " <1> {S}[USER1]: E: proto 1",
    "<1> {S}[USER1]: e: proto 1",
    "<1> {S}[USER1]: E : proto 1",
    "<1> {S}[USER1]: E: proto x",
    "<1> {S}[USER1]: E: proto  1",
    "<1> {S}[USER1]: E: proto",
    "<1> {S}[USER]: E: proto 1",
    "<1> {S}[USER1] : E: proto 1",
    "<1> {S}[user1]: E: proto 1",
    "<1> {S}[USER1]: : proto 1",
    "<6> {SÉT}[USER1]: E: proto 1",
    "<6> café {S}[USER1]: E: proto 1",
    "<6> {S}[USER1]: E: proto 1 café",
    "<7> a b {S}[USER1]: E: proto 1",
    "<7> {S }[USER1]: E: proto 1",
    "<7> {S\u0085}[USER1]: E: proto 1",
    "<7> {S}[USER1]: E: proto 1 \u0085",
    "<7> {S}[USER1]: E: proto 1",
    "<7> {S}[USER٣]: E: proto 1",
    "<7> {S}[USER1]: E: proto 1 é {S}[USER99999999999999999999]: E: proto 1"
  ).map(ascii) ++ Seq(
    // invalid UTF-8: a stray continuation byte, a truncated sequence
    ascii("<8> {S}[USER1]: E: proto 1 ") ++ Array(0xff.toByte, 0xfe.toByte),
    ascii("<8> {S") ++ Array(0xc3.toByte) ++ ascii("}[USER1]: E: proto 1"),
    Array(0x80.toByte) ++ ascii("<8> {S}[USER1]: E: proto 1"))

  /** Random strings over the pattern's own tokens, most starting with
    * `<digits>`, so many come near a match and many match. */
  private val fuzz: Seq[Array[Byte]] = {
    val rnd = new scala.util.Random(20261019)
    val tokens = Seq("<", ">", "{", "}", "[USER", "]:", ":", " ", "\t", "proto ",
      "proto", "1", "0", "42", "9999999999", "99999999999999999999", "A", "Z9", "e",
      "x", "é", " ", "\u0085", "{S}[USER1]: EV: proto 7", "\f")
    Seq.fill(2000) {
      val head = if (rnd.nextInt(10) < 7) s"<${rnd.nextInt(40)}>" else ""
      ascii(head + Seq.fill(rnd.nextInt(14))(tokens(rnd.nextInt(tokens.size))).mkString)
    }
  }

  private val corpus: Seq[Array[Byte]] = curated ++ fuzz

  /** The reference row: LinePattern's groups over the decoded line. */
  private def reference(bytes: Array[Byte]): Seq[Any] = {
    val line = new Text(bytes).toString
    val groups = line match {
      case CdrTable.LinePattern(pri, set, user, event, proto) =>
        for (p <- pri.toIntOption; u <- user.toLongOption; pr <- proto.toIntOption)
          yield Seq(p, set, u, event, pr)
      case _ => None
    }
    groups.getOrElse(Seq.fill(5)(null)) :+ line
  }

  private val expected: Seq[Seq[Any]] = corpus.map(reference)

  /** Lines `from until to` of the corpus as the file `d/name`, lines
    * ended in turn by LF, CRLF and a lone CR (LF before an empty line,
    * where a CR would pair with it). */
  private def writeLines(d: String, name: String, from: Int, to: Int): Unit = {
    val out = new java.io.ByteArrayOutputStream()
    (from until to).foreach { i =>
      out.write(corpus(i))
      val next = corpus.lift(i + 1)
      out.write(ascii(i % 3 match {
        case 1 => "\r\n"
        case 2 if next.exists(_.nonEmpty) => "\r"
        case _ => "\n"
      }))
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$d/$name"), out.toByteArray)
  }

  /** The corpus as one file. */
  private lazy val dir: String = {
    val d = java.nio.file.Files.createTempDirectory("graft_cdrparse").toString
    writeLines(d, "corpus.log", 0, corpus.size)
    d
  }

  /** The corpus cut at line ends into files of 1, 3, 996 and the rest of
    * the lines, so packing has small files and file tails to combine. */
  private lazy val parts: String = {
    val d = java.nio.file.Files.createTempDirectory("graft_cdrparts").toString
    Seq(0, 1, 4, 1000, corpus.size).sliding(2).zipWithIndex.foreach {
      case (Seq(from, to), k) => writeLines(d, s"part-$k.log", from, to)
    }
    d
  }

  private val projections: Seq[Seq[String]] = Seq(
    CdrTable.Schema.fieldNames.toSeq, Seq("line"), Seq("event", "proto"), Seq())

  private def project(row: Seq[Any], cols: Seq[String]): Seq[Any] =
    cols.map(c => row(CdrTable.Schema.fieldNames.indexOf(c)))

  test("the corpus reaches both outcomes on both paths") {
    val plain = corpus.filter(b => CdrLineScanner.plain(b, b.length))
    val parsed = expected.map(_.head != null)
    assert(plain.size > 1000 && plain.size < corpus.size)
    assert(corpus.indices.count(i => parsed(i) && CdrLineScanner.plain(corpus(i), corpus(i).length)) > 100)
    assert(corpus.indices.count(i => !parsed(i) && CdrLineScanner.plain(corpus(i), corpus(i).length)) > 100)
    assert(corpus.indices.count(i => parsed(i) && !CdrLineScanner.plain(corpus(i), corpus(i).length)) > 5)
  }

  test("the byte scanner returns LinePattern's groups on every ASCII line") {
    val scanner = new CdrLineScanner
    corpus.zip(expected).filter { case (b, _) => CdrLineScanner.plain(b, b.length) }
      .foreach { case (b, want) =>
        val got =
          if (!scanner.scan(b, b.length)) Seq.fill(5)(null)
          else Seq(scanner.pri, new String(b, scanner.setFrom, scanner.setTo - scanner.setFrom, UTF_8),
            scanner.user, new String(b, scanner.eventFrom, scanner.eventTo - scanner.eventFrom, UTF_8),
            scanner.proto)
        assert(got == want.take(5), s"line: ${new String(b, UTF_8)}")
      }
  }

  test("every projection of a graft-cdr scan equals the LinePattern reference") {
    val df = spark.read.format("graft-cdr").load(dir)
    projections.foreach { cols =>
      val got = df.select(cols.map(org.apache.spark.sql.functions.col): _*).collect().map(_.toSeq).toSeq
      val want = expected.map(project(_, cols))
      assert(got.size == want.size, s"projection $cols")
      got.zip(want).zipWithIndex.foreach { case ((g, w), i) =>
        assert(g == w, s"projection $cols, line $i: ${new Text(corpus(i))}")
      }
    }
    assert(df.count() == corpus.size)
  }

  test("every byte-range split of the corpus reads the reference rows once") {
    val schema = CdrTable.Schema
    val openCost = "spark.sql.files.openCostInBytes"
    val priorCost = spark.conf.getOption(openCost)
    // no open cost, so ranges of every size pack with their neighbours
    spark.conf.set(openCost, "0")
    try Seq(Some(3L), Some(7L), Some(61L), Some(997L), None).foreach { splitBytes =>
      projections.foreach { cols =>
        val pruned = org.apache.spark.sql.types.StructType(cols.map(schema(_)))
        val scan = new CdrScan(spark, parts, splitBytes, pruned)
        val factory = scan.createReaderFactory()
        def read(plan: Seq[InputPartition]): Seq[Seq[Any]] = plan.flatMap { p =>
          val reader = factory.createReader(p)
          try Iterator.continually(reader.next()).takeWhile(identity)
            .map(_ => values(reader.get(), pruned)).toList
          finally reader.close()
        }
        val packed = scan.planInputPartitions().toSeq.map(_.asInstanceOf[FilePartition])
        val perRange = packed.flatMap(_.files).sortBy(f => (f.filePath.toString, f.start))
          .map(f => FilePartition(0, Array(f)))
        val clue = s"splitBytes $splitBytes, projection $cols"
        assert(packed.size < perRange.size, clue)
        assert(read(perRange) == expected.map(project(_, cols)), clue)
        def counts(rows: Seq[Seq[Any]]) = rows.groupMapReduce(identity)(_ => 1)(_ + _)
        assert(counts(read(packed)) == counts(read(perRange)), clue)
      }
    } finally priorCost.fold(spark.conf.unset(openCost))(spark.conf.set(openCost, _))
  }

  private def values(row: InternalRow, schema: org.apache.spark.sql.types.StructType): Seq[Any] =
    schema.fields.toSeq.zipWithIndex.map { case (f, i) =>
      if (row.isNullAt(i)) null
      else row.get(i, f.dataType) match {
        case s: UTF8String => s.toString
        case v => v
      }
    }
}
