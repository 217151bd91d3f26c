package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.Row

/** Order-insensitive result digest shared with `perfbench/oracle.py`, so a
  * Spark result and a DuckDB result over the same tables hash alike.
  *
  * Each value is written in a canonical text form (integers in decimal,
  * floating point as its IEEE-754 double bits, timestamps as epoch micros
  * of the wall-clock value, dates as epoch days, decimals without trailing
  * zeros), a row is its columns sorted by name, and the table digest is the
  * sum modulo 2^64 of the rows' 64-bit MD5 prefixes, so row order never
  * matters but every column and every duplicate row does.
  */
object RowHash {

  final case class Digest(rows: Long, hash: String)

  def of(columns: Seq[String], rows: Array[Row]): Digest = {
    val order = columns.zipWithIndex.sortBy(_._1)
    var acc = 0L
    rows.foreach { r =>
      val line = order.map { case (name, i) => name + "=" + canon(r.get(i)) }.mkString("\u0001")
      acc += prefix64(line)
    }
    Digest(rows.length.toLong, java.lang.Long.toUnsignedString(acc, 16))
  }

  def prefix64(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes(UTF_8))
    java.nio.ByteBuffer.wrap(d, 0, 8).getLong
  }

  def canon(v: Any): String = v match {
    case null => "N"
    case b: Boolean => if (b) "b1" else "b0"
    case n: Byte => "i" + n
    case n: Short => "i" + n
    case n: Int => "i" + n
    case n: Long => "i" + n
    case f: Float => dbl(f.toDouble)
    case d: Double => dbl(d)
    case s: String => "s" + s
    case d: java.math.BigDecimal => "m" + plain(d)
    case d: scala.math.BigDecimal => "m" + plain(d.bigDecimal)
    case t: java.time.LocalDateTime =>
      val i = t.toInstant(java.time.ZoneOffset.UTC)
      "t" + (i.getEpochSecond * 1000000L + i.getNano / 1000)
    case t: java.time.Instant => "t" + (t.getEpochSecond * 1000000L + t.getNano / 1000)
    case t: java.sql.Timestamp => canon(t.toLocalDateTime)
    case d: java.time.LocalDate => "D" + d.toEpochDay
    case d: java.sql.Date => canon(d.toLocalDate)
    case b: Array[Byte] => "x" + b.map(x => f"${x & 0xff}%02x").mkString
    case r: Row => (0 until r.length).map(i => canon(r.get(i))).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + ":" + canon(x) }.sorted.mkString("<", ",", ">")
    case xs: scala.collection.Seq[_] => xs.map(canon).mkString("[", ",", "]")
    case other => "?" + other.toString
  }

  private def dbl(d: Double): String =
    if (d.isNaN) "dNaN"
    else "d" + java.lang.Long.toHexString(java.lang.Double.doubleToLongBits(if (d == 0.0) 0.0 else d))

  private def plain(d: java.math.BigDecimal): String = {
    val s = d.stripTrailingZeros
    (if (s.scale < 0) s.setScale(0) else s).toPlainString
  }
}
