package org.apache.spark.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.Row

/** Order-insensitive digest of a query result. The same encoding is
  * implemented in `digest.py`, which digests the DuckDB oracle's rows, so
  * a committed oracle digest and the engine's digest agree exactly when
  * the two results agree under the `tools/check_oracle.py` rules: columns
  * sorted by name, rows sorted, dates and timestamps as epoch
  * microseconds, integer width ignored, floats compared bit-exactly
  * (so -0.0 differs from 0.0).
  *
  * Value encoding: `N` null, `B0`/`B1` boolean, `I<decimal>` any integer,
  * `F<16 hex digits>` the IEEE-754 bits of a float or double (`FNaN` for
  * every NaN), `D<plain>` decimal, `S<utf8 length>:<text>` string,
  * `T<micros>` date or timestamp, `X<hex>` binary, `A[..]` array, `R(..)`
  * struct, `M{k=v,..}` map with entries sorted. Values in a row are joined
  * by `,`; rows are sorted by their UTF-8 bytes.
  */
object Digest {
  final case class Answer(rows: Long, sha256: String)

  def of(names: Seq[String], rows: Array[Row]): Answer = {
    val order = names.indices.sortBy(i => (names(i), i))
    val header = order.map(i => enc(names(i))).mkString("C", ",", "")
    val encoded = rows.map { r =>
      order.map(i => enc(if (r.isNullAt(i)) null else r.get(i))).mkString(",")
        .getBytes(UTF_8)
    }
    java.util.Arrays.sort(encoded, (a: Array[Byte], b: Array[Byte]) =>
      java.util.Arrays.compareUnsigned(a, b))
    val md = MessageDigest.getInstance("SHA-256")
    md.update(header.getBytes(UTF_8))
    encoded.foreach { e => md.update('\n'.toByte); md.update(e) }
    Answer(rows.length, md.digest().map(b => f"${b & 0xff}%02x").mkString)
  }

  private def micros(epochSecond: Long, nano: Int): String =
    "T" + (epochSecond * 1000000L + nano / 1000)

  private def dbl(d: Double): String =
    if (d.isNaN) "FNaN"
    else "F" + f"${java.lang.Double.doubleToRawLongBits(d)}%016x"

  def enc(v: Any): String = v match {
    case null => "N"
    case b: Boolean => if (b) "B1" else "B0"
    case x: Byte => "I" + x
    case x: Short => "I" + x
    case x: Int => "I" + x
    case x: Long => "I" + x
    case x: java.math.BigInteger => "I" + x
    case x: BigInt => "I" + x
    case x: Float => dbl(x.toDouble)
    case x: Double => dbl(x)
    case x: java.math.BigDecimal => "D" + x.stripTrailingZeros.toPlainString
    case x: BigDecimal => enc(x.bigDecimal)
    case s: String => s"S${s.getBytes(UTF_8).length}:$s"
    case d: java.sql.Date => "T" + d.toLocalDate.toEpochDay * 86400000000L
    case d: java.time.LocalDate => "T" + d.toEpochDay * 86400000000L
    case t: java.sql.Timestamp =>
      val i = t.toInstant; micros(i.getEpochSecond, i.getNano)
    case i: java.time.Instant => micros(i.getEpochSecond, i.getNano)
    case t: java.time.LocalDateTime =>
      micros(t.toEpochSecond(java.time.ZoneOffset.UTC), t.getNano)
    case a: Array[Byte] => "X" + a.map(b => f"${b & 0xff}%02x").mkString
    case r: Row => r.toSeq.map(enc).mkString("R(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => enc(k) + "=" + enc(x) }.sorted.mkString("M{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(enc).mkString("A[", ",", "]")
    case other => "O" + other.toString
  }
}
