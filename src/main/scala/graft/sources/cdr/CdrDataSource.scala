package graft.sources.cdr

import java.util.zip.GZIPInputStream
import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.Path
import org.apache.hadoop.io.Text
import org.apache.hadoop.util.LineReader
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.execution.datasources.{FilePartition, PartitionedFile}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 reader for the reference's CDR/syslog line format
  * (IngestTest.java:112): `<pri> … {SET}[USERn]: EVENT: proto p …`.
  *
  * `spark.read.format("graft-cdr").load(dir)` yields structured rows
  * (pri, cdr_set, user_id, event, proto, line) straight off the raw
  * files of `dir`, plain or `.gz`. Names starting with `_` or `.`
  * (`_SUCCESS`, hidden files) are skipped, as Spark's file sources
  * skip them. Uncompressed files split by byte range, gzip files are
  * read whole, and small files and ranges pack into one task as
  * `spark.read.text` packs them ([[CdrScan]]).
  *
  * Each line's groups are those of [[CdrTable.LinePattern]]. A line of
  * ASCII bytes is parsed straight from its bytes into one row the
  * reader reuses for every line; any other line (a byte ≥ 0x80) is
  * decoded and matched against `LinePattern` itself, so that is the
  * only path for non-ASCII input. A line that does not match, or whose
  * `pri`, `user_id` or `proto` overflows its Int/Long column, comes
  * back with all five parsed fields null; the scan never fails on a
  * line. Only the projected columns are built: `line` is copied only
  * when selected, and a count parses nothing. */
class CdrDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-cdr"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = CdrTable.Schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    new CdrTable(properties.asScala.getOrElse("path",
      throw new IllegalArgumentException("graft-cdr requires a path")))
}

object CdrTable {
  val Schema: StructType = StructType(Seq(
    StructField("pri", IntegerType),
    StructField("cdr_set", StringType),
    StructField("user_id", LongType),
    StructField("event", StringType),
    StructField("proto", IntegerType),
    StructField("line", StringType, nullable = false)))

  val LinePattern: scala.util.matching.Regex =
    """<(\d+)>.*\{([^}]*)\}\[USER(\d+)\]:\s*([A-Z0-9]+):\s*proto (\d+).*""".r
}

/** Java-serializable Hadoop Configuration carrier (the Writable
  * round-trip, same shape Spark uses internally) — lets the scan ship
  * the SESSION Hadoop conf to executor-side readers, so spark.hadoop.*
  * settings (S3A credentials, endpoints, timeouts) apply to the CDR
  * source exactly as they do to built-in file sources. */
class SerializableHadoopConf(@transient var value: org.apache.hadoop.conf.Configuration)
    extends Serializable {
  private def writeObject(out: java.io.ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    value.write(out)
  }
  private def readObject(in: java.io.ObjectInputStream): Unit = {
    in.defaultReadObject()
    value = new org.apache.hadoop.conf.Configuration(false)
    value.readFields(in)
  }
}

class CdrTable(path: String) extends Table with SupportsRead {
  override def name(): String = s"graft-cdr:$path"
  override def schema(): StructType = CdrTable.Schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val splitBytes = Option(options.get("splitBytes")).map(_.toLong)
    new ScanBuilder with SupportsPushDownRequiredColumns {
      private var pruned: StructType = CdrTable.Schema
      override def pruneColumns(requiredSchema: StructType): Unit =
        pruned = requiredSchema
      override def build(): Scan =
        new CdrScan(SparkSession.active, path, splitBytes, pruned)
    }
  }
}

/** Plans the scan as `spark.read.text` plans a file scan: each
  * uncompressed file is cut into byte ranges of at most the split size
  * (gzip streams are unsplittable, so read whole), and the ranges,
  * largest first, are packed into partitions by
  * `FilePartition.getFilePartitions`, each range also charged
  * `spark.sql.files.openCostInBytes`. The split size is the
  * `splitBytes` option, or else Spark's own `FilePartition.maxSplitBytes`
  * from `maxPartitionBytes`, the open cost and the default parallelism.
  * A multi-GB log so fans out across executors the way the reference's
  * HDFS-block-parallel MapReduce jobs did, and a directory of small
  * files is a few tasks rather than one per file. Range boundaries use
  * the TextInputFormat line-assignment rule (see [[CdrLineRange]]), so
  * every line lands in exactly one range. */
class CdrScan(spark: SparkSession, path: String, splitBytes: Option[Long],
    prunedSchema: StructType = CdrTable.Schema)
    extends Scan with Batch {
  private val hadoopConf = spark.sessionState.newHadoopConf()
  override def readSchema(): StructType = prunedSchema
  override def toBatch: Batch = this
  override def planInputPartitions(): Array[InputPartition] = {
    val hadoopPath = new Path(path)
    val files = hadoopPath.getFileSystem(hadoopConf).listStatus(hadoopPath)
      .filter { st =>
        val name = st.getPath.getName
        st.isFile && !name.startsWith("_") && !name.startsWith(".")
      }
      .sortBy(_.getPath.toString)
    val openCost = spark.sessionState.conf.filesOpenCostInBytes
    val split = splitBytes.getOrElse(
      FilePartition.maxSplitBytes(spark, files.map(_.getLen + openCost).sum))
    val ranges = files.toSeq.flatMap { st =>
      val f = SparkPath.fromPath(st.getPath)
      if (st.getPath.getName.endsWith(".gz") || st.getLen <= split)
        Seq(PartitionedFile(InternalRow.empty, f, 0L, st.getLen))
      else
        (0L until st.getLen by split).map(off =>
          PartitionedFile(InternalRow.empty, f, off, math.min(split, st.getLen - off)))
    }
    FilePartition.getFilePartitions(spark, ranges.sortBy(-_.length), split).toArray
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new CdrReaderFactory(new SerializableHadoopConf(hadoopConf),
      prunedSchema.fieldNames)
}

class CdrReaderFactory(conf: SerializableHadoopConf, fields: Array[String])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new CdrPartitionReader(partition.asInstanceOf[FilePartition].files, conf, fields)
}

/** The lines of one byte range with TextInputFormat split semantics: a
  * range that doesn't start at 0 discards its first (possibly partial)
  * line — the previous range reads one line PAST its end — so a line
  * whose first byte is at position s belongs to the unique range with
  * start < s ≤ end (plus s = 0 to the first range). Each line is read
  * into `text`. */
private final class CdrLineRange(range: PartitionedFile,
    conf: org.apache.hadoop.conf.Configuration, text: Text) {
  private val path = range.toPath
  private val raw = path.getFileSystem(conf).open(path)
  private val gz = path.getName.endsWith(".gz")
  private val reader: LineReader =
    if (gz) new LineReader(new GZIPInputStream(raw))
    else { raw.seek(range.start); new LineReader(raw) }
  private val end: Long = range.start + range.length
  private var pos: Long = range.start
  if (!gz && range.start != 0) pos += reader.readLine(text) // discard partial first line

  def next(): Boolean = {
    if (!gz && pos > end) return false
    val n = reader.readLine(text)
    pos += n
    n > 0
  }

  def close(): Unit = reader.close()
}

/** Reads the ranges of one packed partition in turn ([[CdrLineRange]]).
  * `get()` returns the same row after every `next()`; the strings in it
  * are fresh copies. */
class CdrPartitionReader(ranges: Array[PartitionedFile], conf: SerializableHadoopConf,
    fields: Array[String] = CdrTable.Schema.fieldNames)
    extends PartitionReader[InternalRow] {

  // The output ordinal of each schema column, -1 when pruned away.
  private val Array(oPri, oSet, oUser, oEvent, oProto, oLine) =
    CdrTable.Schema.fieldNames.map(f => fields.indexOf(f))
  private val parsedOrds = Array(oPri, oSet, oUser, oEvent, oProto).filter(_ >= 0)
  private val row = new GenericInternalRow(fields.length)
  private val scanner = new CdrLineScanner
  private val text = new Text()
  private val pending = ranges.iterator
  private var lines: CdrLineRange = null

  override def next(): Boolean = {
    while (lines != null || pending.hasNext) {
      if (lines == null) lines = new CdrLineRange(pending.next(), conf.value, text)
      if (lines.next()) {
        if (fields.nonEmpty) fill(text.getBytes, text.getLength)
        return true
      }
      lines.close()
      lines = null
    }
    false
  }

  private def fill(b: Array[Byte], len: Int): Unit =
    if (CdrLineScanner.plain(b, len)) {
      if (parsedOrds.nonEmpty) {
        if (scanner.scan(b, len)) {
          if (oPri >= 0) row.setInt(oPri, scanner.pri)
          if (oSet >= 0) row.update(oSet, copy(b, scanner.setFrom, scanner.setTo))
          if (oUser >= 0) row.setLong(oUser, scanner.user)
          if (oEvent >= 0) row.update(oEvent, copy(b, scanner.eventFrom, scanner.eventTo))
          if (oProto >= 0) row.setInt(oProto, scanner.proto)
        } else parsedOrds.foreach(row.setNullAt)
      }
      if (oLine >= 0) row.update(oLine, copy(b, 0, len))
    } else {
      val line = text.toString
      val groups = line match {
        case CdrTable.LinePattern(pri, set, user, event, proto) =>
          for (p <- pri.toIntOption; u <- user.toLongOption; pr <- proto.toIntOption)
            yield (p, set, u, event, pr)
        case _ => None
      }
      groups match {
        case Some((pri, set, user, event, proto)) =>
          if (oPri >= 0) row.setInt(oPri, pri)
          if (oSet >= 0) row.update(oSet, UTF8String.fromString(set))
          if (oUser >= 0) row.setLong(oUser, user)
          if (oEvent >= 0) row.update(oEvent, UTF8String.fromString(event))
          if (oProto >= 0) row.setInt(oProto, proto)
        case None => parsedOrds.foreach(row.setNullAt)
      }
      if (oLine >= 0) row.update(oLine, UTF8String.fromString(line))
    }

  private def copy(b: Array[Byte], from: Int, to: Int): UTF8String =
    UTF8String.fromBytes(java.util.Arrays.copyOfRange(b, from, to))

  override def get(): InternalRow = row
  override def close(): Unit = if (lines != null) lines.close()
}

private[graft] object CdrLineScanner {
  /** True when every byte is ASCII other than CR and LF: the lines
    * [[CdrLineScanner.scan]] parses exactly as `LinePattern` does. */
  def plain(b: Array[Byte], len: Int): Boolean = {
    var i = 0
    while (i < len) {
      val c = b(i)
      if (c < 0 || c == '\n' || c == '\r') return false
      i += 1
    }
    true
  }

  private val UserTag = "[USER".getBytes("US-ASCII")
  private val ProtoTag = "proto ".getBytes("US-ASCII")
}

/** [[CdrTable.LinePattern]] as a byte scan, for lines that pass
  * [[CdrLineScanner.plain]]. On those, `.` matches every byte and `\s`
  * is space or 0x09-0x0D, and each group but the set is a maximal run
  * of its class, so the only choice the regex makes is which `{` its
  * greedy `.*` stops at: the rightmost one whose suffix matches. After
  * `scan` returns true the fields hold the groups, numbers already
  * converted; a match whose number overflows its column returns false. */
private[graft] final class CdrLineScanner {
  import CdrLineScanner._

  var pri = 0
  var user = 0L
  var proto = 0
  var setFrom, setTo, eventFrom, eventTo = 0
  private var userFrom, userTo, protoFrom, protoTo = 0

  def scan(b: Array[Byte], len: Int): Boolean = {
    if (len == 0 || b(0) != '<') return false
    val priEnd = digits(b, 1, len)
    if (priEnd == 1 || priEnd == len || b(priEnd) != '>') return false
    var k = len - 1
    while (k > priEnd && !(b(k) == '{' && suffix(b, k, len))) k -= 1
    if (k == priEnd) return false
    val p = number(b, 1, priEnd, Int.MaxValue)
    val u = number(b, userFrom, userTo, Long.MaxValue)
    val pr = number(b, protoFrom, protoTo, Int.MaxValue)
    if (p < 0 || u < 0 || pr < 0) return false
    pri = p.toInt; user = u; proto = pr.toInt
    true
  }

  /** `\{([^}]*)\}\[USER(\d+)\]:\s*([A-Z0-9]+):\s*proto (\d+)` at `k`. */
  private def suffix(b: Array[Byte], k: Int, len: Int): Boolean = {
    var i = k + 1
    while (i < len && b(i) != '}') i += 1
    if (i == len) return false
    setFrom = k + 1; setTo = i
    i += 1
    if (!tag(b, i, len, UserTag)) return false
    userFrom = i + UserTag.length; userTo = digits(b, userFrom, len)
    i = userTo
    if (i == userFrom || i + 1 >= len || b(i) != ']' || b(i + 1) != ':') return false
    eventFrom = spaces(b, i + 2, len)
    i = eventFrom
    while (i < len && ((b(i) >= 'A' && b(i) <= 'Z') || (b(i) >= '0' && b(i) <= '9'))) i += 1
    eventTo = i
    if (i == eventFrom || i == len || b(i) != ':') return false
    i = spaces(b, i + 1, len)
    if (!tag(b, i, len, ProtoTag)) return false
    protoFrom = i + ProtoTag.length; protoTo = digits(b, protoFrom, len)
    protoTo > protoFrom
  }

  private def digits(b: Array[Byte], from: Int, len: Int): Int = {
    var i = from
    while (i < len && b(i) >= '0' && b(i) <= '9') i += 1
    i
  }

  private def spaces(b: Array[Byte], from: Int, len: Int): Int = {
    var i = from
    while (i < len && (b(i) == ' ' || (b(i) >= 9 && b(i) <= 13))) i += 1
    i
  }

  private def tag(b: Array[Byte], from: Int, len: Int, t: Array[Byte]): Boolean =
    from + t.length <= len && java.util.Arrays.equals(b, from, from + t.length, t, 0, t.length)

  /** The decimal digits `b(from until to)`, or -1 past `max`. */
  private def number(b: Array[Byte], from: Int, to: Int, max: Long): Long = {
    var v = 0L
    var i = from
    while (i < to) {
      val d = b(i) - '0'
      if (v > (max - d) / 10) return -1
      v = v * 10 + d
      i += 1
    }
    v
  }
}
