package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Order-insensitive result fingerprint: row count plus the sum (mod 2^64)
  * of a per-row MD5 prefix over a canonical encoding of the row, columns
  * sorted by name. `oracle.py` implements the same encoding over DuckDB
  * results, so an expected hash can come from either engine.
  *
  * Canonical values: integral numbers (of any numeric type) encode as
  * `I<n>`, other finite numbers as `F<hex of IEEE-754 bits>` of the double
  * value, strings length-prefixed, timestamps as epoch microseconds (UTC),
  * dates as ISO days, arrays in order, maps with entries sorted, structs in
  * field order. */
object ResultHash {

  final case class Fingerprint(rows: Long, hash: String)

  def of(schema: StructType, rows: Array[Row]): Fingerprint = {
    val order = schema.fields.zipWithIndex.sortBy(_._1.name).map(_._2)
    val md = MessageDigest.getInstance("MD5")
    var acc = 0L
    val sb = new java.lang.StringBuilder
    rows.foreach { r =>
      sb.setLength(0)
      order.foreach { i => enc(r.get(i), sb); sb.append('|') }
      val d = md.digest(sb.toString.getBytes(UTF_8))
      acc += java.nio.ByteBuffer.wrap(d, 0, 8).getLong
    }
    Fingerprint(rows.length.toLong, f"$acc%016x")
  }

  private def num(d: Double, sb: java.lang.StringBuilder): Unit =
    if (d.isNaN) sb.append("Fnan")
    else if (d.isInfinite) sb.append(if (d > 0) "Finf" else "F-inf")
    else if (d == math.rint(d) && math.abs(d) < 1e15) sb.append('I').append(d.toLong)
    else sb.append('F').append(java.lang.Long.toHexString(java.lang.Double.doubleToLongBits(d)))

  private def micros(epochSecond: Long, nanos: Int): Long =
    epochSecond * 1000000L + nanos / 1000

  private def enc(v: Any, sb: java.lang.StringBuilder): Unit = v match {
    case null => sb.append('N')
    case b: Boolean => sb.append(if (b) "B1" else "B0")
    case x: Byte => sb.append('I').append(x.toLong)
    case x: Short => sb.append('I').append(x.toLong)
    case x: Int => sb.append('I').append(x.toLong)
    case x: Long => sb.append('I').append(x)
    case x: Float => num(x.toDouble, sb)
    case x: Double => num(x, sb)
    case x: java.math.BigDecimal =>
      val s = x.stripTrailingZeros
      if (s.scale <= 0) sb.append('I').append(s.toBigIntegerExact.toString)
      else num(x.doubleValue, sb)
    case x: scala.math.BigDecimal => enc(x.bigDecimal, sb)
    case s: String => sb.append('S').append(s.length).append(':').append(s)
    case b: Array[Byte] =>
      sb.append('X'); b.foreach(x => sb.append(f"${x & 0xff}%02x"))
    case t: java.sql.Timestamp =>
      sb.append('T').append(micros(Math.floorDiv(t.getTime, 1000L), t.getNanos))
    case t: java.time.Instant => sb.append('T').append(micros(t.getEpochSecond, t.getNano))
    case t: java.time.LocalDateTime =>
      val i = t.toInstant(java.time.ZoneOffset.UTC)
      sb.append('T').append(micros(i.getEpochSecond, i.getNano))
    case d: java.sql.Date => sb.append('D').append(d.toLocalDate.toString)
    case d: java.time.LocalDate => sb.append('D').append(d.toString)
    case m: scala.collection.Map[_, _] =>
      val parts = m.toSeq.map { case (k, x) =>
        val e = new java.lang.StringBuilder
        enc(k, e); e.append("=>"); enc(x, e); e.toString
      }.sorted
      sb.append("M{"); parts.foreach(p => sb.append(p).append(',')); sb.append('}')
    case r: Row =>
      sb.append("R("); (0 until r.length).foreach { i => enc(r.get(i), sb); sb.append(',') }
      sb.append(')')
    case s: scala.collection.Seq[_] =>
      sb.append("A["); s.foreach { x => enc(x, sb); sb.append(',') }; sb.append(']')
    case a: Array[_] => enc(a.toSeq, sb)
    case other => sb.append('?').append(other.toString)
  }
}
