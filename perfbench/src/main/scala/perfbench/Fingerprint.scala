package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** Row count plus an order-sensitive SHA-256 over every column of a
  * collected result. Columns are taken in name order and every cell has
  * one canonical text form, so `fingerprint.py` computes the same value
  * from a DuckDB result: integral numbers as integers whatever their
  * type, other numbers as the bits of the double, timestamps as epoch
  * microseconds, dates as epoch days, strings length-prefixed in UTF-8
  * bytes. */
object Fingerprint {
  def sha256(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(s.getBytes(UTF_8))
      .map("%02x".format(_)).mkString

  def of(schema: StructType, rows: Array[Row]): String = {
    val order = schema.fieldNames.zipWithIndex.sortBy(_._1).map(_._2)
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(order.map(schema.fieldNames(_)).mkString("cols:", "\u0001", "\n").getBytes(UTF_8))
    rows.foreach { r =>
      md.update(order.map(i => cell(r.get(i))).mkString("", "\u0001", "\n").getBytes(UTF_8))
    }
    s"${rows.length}:" + md.digest().take(8).map("%02x".format(_)).mkString
  }

  private val MaxExactLong = 9007199254740992.0 // 2^53

  private def num(d: Double): String =
    if (d.isNaN) "NaN"
    else if (d.isInfinite) (if (d > 0) "inf" else "-inf")
    else if (d == math.rint(d) && math.abs(d) < MaxExactLong) "i" + d.toLong
    else "f%016x".format(java.lang.Double.doubleToLongBits(d))

  private def micros(epochSecond: Long, nano: Int): Long = epochSecond * 1000000L + nano / 1000

  def cell(v: Any): String = v match {
    case null => "N"
    case b: Boolean => if (b) "T" else "F"
    case x: Byte => "i" + x
    case x: Short => "i" + x
    case x: Int => "i" + x
    case x: Long => "i" + x
    case x: Float => num(x.toDouble)
    case x: Double => num(x)
    case x: java.math.BigDecimal => num(x.doubleValue)
    case x: scala.math.BigDecimal => num(x.toDouble)
    case s: String => "s" + s.getBytes(UTF_8).length + ":" + s
    case t: java.sql.Timestamp => "t" + micros(Math.floorDiv(t.getTime, 1000L), t.getNanos)
    case t: java.time.Instant => "t" + micros(t.getEpochSecond, t.getNano)
    case t: java.time.LocalDateTime =>
      "t" + micros(t.toEpochSecond(java.time.ZoneOffset.UTC), t.getNano)
    case d: java.sql.Date => "d" + d.toLocalDate.toEpochDay
    case d: java.time.LocalDate => "d" + d.toEpochDay
    case b: Array[Byte] => "b" + b.map("%02x".format(_)).mkString
    case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
    case r: Row => r.toSeq.map(cell).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => cell(k) + ":" + cell(x) }.sorted.mkString("{", ",", "}")
    case other => "?" + other.toString
  }
}
