package perfbench

import java.math.{BigDecimal => JBigDecimal, MathContext}
import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{DataFrame, Row}

/** Order-free checksum of a result: row count plus the wrapping sum of a
  * 64-bit hash of each row. A row is rendered with its columns in name
  * order and every cell normalized, so the same rows give the same
  * checksum whatever engine wrote them: integers and integral doubles print
  * as integers, other numbers with 10 significant digits, dates and
  * timestamps as UTC wall-clock text (the JVM runs with user.timezone=UTC).
  */
final case class Checksum(rows: Long, hash: Long) {
  override def toString: String = s"rows=$rows hash=${java.lang.Long.toHexString(hash)}"
}

object Check {

  private val Digits = new MathContext(10)

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == math.rint(d) && math.abs(d) < 9.0e15) (d + 0.0).toLong.toString
    else new JBigDecimal(d).round(Digits).stripTrailingZeros.toPlainString

  def cell(v: Any): String = v match {
    case null => "␀"
    case b: Boolean => b.toString
    case i: Byte => i.toString
    case i: Short => i.toString
    case i: Int => i.toString
    case i: Long => i.toString
    case f: Float => num(f.toDouble)
    case d: Double => num(d)
    case d: JBigDecimal =>
      if (d.stripTrailingZeros.scale <= 0) d.toBigInteger.toString else num(d.doubleValue)
    case d: java.sql.Date => d.toLocalDate.toString
    case d: java.time.LocalDate => d.toString
    case t: java.sql.Timestamp => t.toLocalDateTime.toString
    case t: java.time.LocalDateTime => t.toString
    case t: java.time.Instant => java.time.LocalDateTime.ofInstant(t, java.time.ZoneOffset.UTC).toString
    case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
    case r: Row => r.toSeq.map(cell).mkString("{", ",", "}")
    case other => other.toString
  }

  private def rowHash(r: Row, order: Array[Int]): Long = {
    val s = order.map(i => cell(r.get(i))).mkString("\u001f")
    (MurmurHash3.stringHash(s, 0x2f1a).toLong << 32) ^
      (MurmurHash3.stringHash(s, 0x51ed).toLong & 0xffffffffL)
  }

  /** Checksum of rows whose columns are named `fields`. */
  def of(fields: Seq[String], rows: Iterator[Row]): Checksum = {
    val order = fields.zipWithIndex.sortBy(_._1).map(_._2).toArray
    var n = 0L
    var h = 0L
    rows.foreach { r => n += 1; h += rowHash(r, order) }
    Checksum(n, h)
  }

  def of(df: DataFrame): Checksum = {
    import scala.jdk.CollectionConverters._
    of(df.schema.fieldNames.toSeq, df.toLocalIterator().asScala)
  }

  def of(fields: Seq[String], rows: Array[Row]): Checksum = of(fields, rows.iterator)
}
