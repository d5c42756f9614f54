package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** Order-independent digest of a result table, computed identically by
  * `derive_digests.py` from the DuckDB oracle's rows.
  *
  * Columns are taken in name order (the canonical column sort of
  * tools/compare.py). Each row is encoded as text, hashed with MD5, and
  * the first 8 bytes of every row hash are summed modulo 2^64: the sum of
  * a multiset does not depend on row order, which stands in for the
  * canonical row sort. Values are compared as compare.py compares them:
  * every number as a double (integral values below 2^53 print as
  * integers, others as their IEEE bits, -0.0 as 0), timestamps as UTC
  * microseconds, dates as epoch days.
  */
object Digest {
  def encode(v: Any): String = v match {
    case null => "N"
    case b: Boolean => if (b) "B1" else "B0"
    case s: String => s"S${s.length}:$s"
    case n: java.math.BigDecimal => num(n.doubleValue)
    case n: scala.math.BigDecimal => num(n.toDouble)
    case n: Float => num(n.toDouble)
    case n: Double => num(n)
    case n: Long => long(n)
    case n: Int => long(n.toLong)
    case n: Short => long(n.toLong)
    case n: Byte => long(n.toLong)
    case t: java.sql.Timestamp => encode(t.toInstant)
    case t: java.time.Instant => s"T${t.getEpochSecond * 1000000L + t.getNano / 1000}"
    case t: java.time.LocalDateTime => encode(t.toInstant(java.time.ZoneOffset.UTC))
    case d: java.sql.Date => s"D${d.toLocalDate.toEpochDay}"
    case d: java.time.LocalDate => s"D${d.toEpochDay}"
    case r: Row => r.toSeq.map(encode).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => encode(k) + "=" + encode(x) }
      .sorted.mkString("<", ",", ">")
    case a: Array[Byte] => "X" + a.map(b => f"${b & 0xff}%02x").mkString
    case s: scala.collection.Seq[_] => s.map(encode).mkString("[", ",", "]")
    case other => throw new IllegalArgumentException(s"no digest encoding for ${other.getClass}")
  }

  private val TWO53 = 9007199254740992.0

  private def long(n: Long): String =
    if (math.abs(n.toDouble) < TWO53) s"I$n" else num(n.toDouble)

  private def num(d: Double): String =
    if (d.isNaN) "FNaN"
    else if (d == 0.0) "I0"
    else if (d == math.rint(d) && math.abs(d) < TWO53) s"I${d.toLong}"
    else f"F${java.lang.Double.doubleToLongBits(d)}%016x"

  def rowHash(encoded: String): Long = {
    val h = MessageDigest.getInstance("MD5").digest(encoded.getBytes(UTF_8))
    java.nio.ByteBuffer.wrap(h, 0, 8).getLong
  }

  /** `cols=<sorted names>;rows=<n>;sum=<hex>` of the collected rows. */
  def of(schema: StructType, rows: Seq[Row]): String = {
    val order = schema.fieldNames.zipWithIndex.sortBy(_._1)
    var sum = 0L
    rows.foreach { r => sum += rowHash(order.map { case (_, i) => encode(r.get(i)) }.mkString("|")) }
    f"cols=${order.map(_._1).mkString(",")};rows=${rows.size};sum=$sum%016x"
  }
}
