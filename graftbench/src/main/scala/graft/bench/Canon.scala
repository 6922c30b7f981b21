package graft.bench

import java.math.{MathContext, RoundingMode}
import java.security.MessageDigest

import org.apache.spark.sql.Row

/** Order-insensitive result hash, mirrored cell for cell by
  * `oracle.py` over DuckDB's answer: columns sorted by name, numbers
  * rounded to 12 significant digits (so 5, 5.0 and DECIMAL 5.00 agree),
  * timestamps as `yyyy-MM-dd HH:mm:ss[.ffffff]`, rows sorted, SHA-256. */
object Canon {
  private val Sig = new MathContext(12, RoundingMode.HALF_EVEN)

  private def num(b: java.math.BigDecimal): String = {
    val r = b.round(Sig)
    if (r.signum == 0) "0" else r.stripTrailingZeros.toPlainString
  }

  private def ts(t: java.time.LocalDateTime): String = {
    val base = f"${t.getYear}%04d-${t.getMonthValue}%02d-${t.getDayOfMonth}%02d " +
      f"${t.getHour}%02d:${t.getMinute}%02d:${t.getSecond}%02d"
    val us = t.getNano / 1000
    if (us == 0) base else f"$base.$us%06d"
  }

  def cell(v: Any): String = v match {
    case null => "NULL"
    case d: Double if d.isNaN || d.isInfinite => d.toString
    case d: Double => num(new java.math.BigDecimal(d))
    case f: Float => cell(f.toDouble)
    case b: java.math.BigDecimal => num(b)
    case b: Boolean => b.toString
    case t: java.sql.Timestamp => ts(t.toLocalDateTime)
    case t: java.time.LocalDateTime => ts(t)
    case t: java.time.Instant => ts(java.time.LocalDateTime.ofInstant(t, java.time.ZoneOffset.UTC))
    case d: java.sql.Date => d.toLocalDate.toString
    case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
    case other => other.toString
  }

  def hash(columns: Seq[String], rows: Seq[Row]): String = {
    val order = columns.indices.sortBy(columns)
    val lines = rows.map(r => order.map(i => cell(r.get(i))).mkString("|")).sorted
    val md = MessageDigest.getInstance("SHA-256")
    lines.foreach(l => md.update((l + "\n").getBytes("UTF-8")))
    md.digest().map(b => f"$b%02x").mkString
  }
}
