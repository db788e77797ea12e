package perfbench

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.Row

/** Order-insensitive fingerprint of a query result: the row count plus
  * the sum (mod 2^64) of a 64-bit hash of each row's canonical text.
  * Row order never changes it; a changed, lost or duplicated row does.
  *
  * Columns are taken in name order, as `tools/check_oracle.py` compares
  * them. Floating-point values are rounded to 10 significant digits, so
  * a different summation order across partitions does not change the
  * fingerprint.
  */
object Fingerprint {
  private val Digits = new java.math.MathContext(10)

  def of(columns: Seq[String], rows: Iterable[Row]): String = {
    val order = columns.indices.sortBy(columns(_))
    var sum = 0L
    var n = 0L
    rows.foreach { r =>
      sum += hash64(order.map(i => canon(r.get(i))).mkString("|"))
      n += 1
    }
    f"$n:$sum%016x"
  }

  def hash64(s: String): Long =
    (MurmurHash3.stringHash(s, 0x5eed).toLong << 32) |
      (MurmurHash3.stringHash(s, 0x0b5e) & 0xffffffffL)

  def canon(v: Any): String = v match {
    case null => "NULL"
    case d: Double => canonDouble(d)
    case f: Float => canonDouble(f.toDouble)
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case b: scala.math.BigDecimal => b.bigDecimal.stripTrailingZeros.toPlainString
    case t: java.sql.Timestamp => s"ts${t.getTime / 1000}.${t.getNanos}"
    case d: java.sql.Date => d.toLocalDate.toString
    case i: java.time.Instant => s"ts${i.getEpochSecond}.${i.getNano}"
    case bytes: Array[Byte] => bytes.map(b => f"${b & 0xff}%02x").mkString
    case r: Row => r.toSeq.map(canon).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "=" + canon(x) }.sorted.mkString("{", ",", "}")
    case xs: scala.collection.Seq[_] => xs.map(canon).mkString("[", ",", "]")
    case other => other.toString
  }

  private def canonDouble(d: Double): String =
    if (d.isNaN) "NaN"
    else if (d.isInfinite) (if (d > 0) "Inf" else "-Inf")
    else if (d == 0.0) "0"
    else new java.math.BigDecimal(d).round(Digits).stripTrailingZeros.toPlainString
}
