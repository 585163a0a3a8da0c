package graftbench

import java.security.MessageDigest

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** Engine-neutral text form of a query result, so a Spark result can be
  * compared with a DuckDB oracle result hashed by `perfbench/oracle.py`.
  * Both sides must produce the same text:
  *  - columns in name order, header line first;
  *  - numbers as the exact decimal expansion of their double value;
  *  - timestamps as UTC `yyyy-MM-dd HH:mm:ss.ffffff`, dates ISO;
  *  - arrays bracketed, nulls as `NULL`.
  */
object Canon {
  private val tsFmt = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")

  def number(d: Double): String =
    if (d.isNaN) "NaN"
    else if (d.isInfinite) (if (d > 0) "Inf" else "-Inf")
    else if (d == 0.0) "0"
    else new java.math.BigDecimal(d).stripTrailingZeros.toPlainString

  def value(v: Any): String = v match {
    case null => "NULL"
    case b: Boolean => b.toString
    case d: java.math.BigDecimal => number(d.doubleValue)
    case d: scala.math.BigDecimal => number(d.toDouble)
    case n: java.lang.Number => number(n.doubleValue)
    case s: String => s
    case t: java.sql.Timestamp =>
      tsFmt.format(java.time.LocalDateTime.ofInstant(t.toInstant,
        java.time.ZoneOffset.UTC))
    case t: java.time.Instant =>
      tsFmt.format(java.time.LocalDateTime.ofInstant(t, java.time.ZoneOffset.UTC))
    case t: java.time.LocalDateTime => tsFmt.format(t)
    case d: java.sql.Date => d.toLocalDate.toString
    case d: java.time.LocalDate => d.toString
    case s: scala.collection.Seq[_] => s.map(value).mkString("[", ",", "]")
    case r: Row => r.toSeq.map(value).mkString("{", ",", "}")
    case other => other.toString
  }

  /** Lines of the canonical text: a header, then one line per row. */
  def lines(schema: StructType, rows: Seq[Row]): Seq[String] = {
    val order = schema.fieldNames.zipWithIndex.sortBy(_._1)
    order.map(_._1).mkString("|") +:
      rows.map(r => order.map { case (_, i) => value(r.get(i)) }.mkString("|"))
  }

  def sha256(lines: Seq[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    lines.foreach { l => md.update(l.getBytes("UTF-8")); md.update('\n'.toByte) }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }
}
