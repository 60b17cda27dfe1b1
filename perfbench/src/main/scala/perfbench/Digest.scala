package perfbench

import java.security.MessageDigest
import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** Order-insensitive digest of a result, computed identically by
  * `pylib/digest.py` over the DuckDB oracle's rows.
  *
  * Columns are taken in name order. Each cell is rendered canonically:
  * numbers by value (an integral value prints as an integer whatever its
  * type, any other value as the bits of its nearest double), NaN as null
  * (the project's gate compares through pandas, where both read `nan`),
  * timestamps as epoch microseconds, dates as epoch days. A row hashes to
  * the first 8 bytes of the SHA-256 of its cells; the digest is the row
  * count, the column names and the sum of the row hashes modulo 2^64. */
object Digest {
  final case class Value(rows: Long, columns: String, sum: String)

  private val Null = "\\N"

  def of(schema: StructType, rows: Array[Row]): Value = {
    val order = schema.fieldNames.zipWithIndex.sortBy(_._1).map(_._2)
    val md = MessageDigest.getInstance("SHA-256")
    var acc = 0L
    val sb = new java.lang.StringBuilder
    rows.foreach { r =>
      sb.setLength(0)
      var k = 0
      while (k < order.length) {
        if (k > 0) sb.append('\u001f')
        sb.append(cell(r.get(order(k))))
        k += 1
      }
      val h = md.digest(sb.toString.getBytes("UTF-8"))
      acc += java.nio.ByteBuffer.wrap(h, 0, 8).getLong
    }
    Value(rows.length.toLong, order.map(schema.fieldNames(_)).mkString(","),
      java.lang.Long.toUnsignedString(acc))
  }

  def number(d: Double): String =
    if (d.isNaN) Null
    else if (d.isInfinite) (if (d > 0) "inf" else "-inf")
    else if (d == math.rint(d)) new java.math.BigDecimal(d).toBigInteger.toString
    else "f" + java.lang.Long.toHexString(java.lang.Double.doubleToLongBits(d))

  def cell(v: Any): String = v match {
    case null => Null
    case b: java.lang.Boolean => if (b) "true" else "false"
    case d: java.lang.Double => number(d)
    case f: java.lang.Float => number(f.toDouble)
    case n @ (_: java.lang.Long | _: java.lang.Integer | _: java.lang.Short | _: java.lang.Byte) =>
      n.toString
    case bd: java.math.BigDecimal =>
      if (bd.signum == 0 || bd.stripTrailingZeros.scale <= 0) bd.toBigInteger.toString
      else number(bd.doubleValue)
    case bd: scala.math.BigDecimal => cell(bd.bigDecimal)
    case bi: java.math.BigInteger => bi.toString
    case s: String => s
    case t: java.sql.Timestamp =>
      "t" + (Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000)
    case i: java.time.Instant => "t" + (i.getEpochSecond * 1000000L + i.getNano / 1000)
    case l: java.time.LocalDateTime => cell(l.toInstant(java.time.ZoneOffset.UTC))
    case d: java.sql.Date => "d" + d.toLocalDate.toEpochDay
    case d: java.time.LocalDate => "d" + d.toEpochDay
    case b: Array[Byte] => b.map(x => f"${x & 0xff}%02x").mkString
    case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => cell(k) + ":" + cell(x) }.sorted.mkString("{", ",", "}")
    case r: Row => r.toSeq.map(cell).mkString("(", ",", ")")
    case other => other.toString
  }
}
