package graftbench

import java.io.{ByteArrayOutputStream, DataOutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Order-insensitive content digest of a query result.
  *
  * Columns are taken in name order and each value is encoded by its value
  * class, the comparison rules of `tools/parity.py`: every integer width is
  * one class, float, double and decimal compare as the double they hold,
  * dates as days and timestamps as microseconds since the epoch. Each row
  * is hashed on its own and the sorted row hashes are hashed again, so row
  * order does not matter. `perfbench/check.py` encodes DuckDB results the
  * same way; the two must stay in step.
  */
object Digest {

  def of(schema: StructType, rows: Array[Row]): String = {
    val order = schema.fieldNames.zipWithIndex.sortBy(_._1).map(_._2)
    val rowHashes = rows.map { r =>
      val buf = new ByteArrayOutputStream()
      val out = new DataOutputStream(buf)
      order.foreach(i => put(out, schema.fields(i).dataType, r.get(i)))
      out.flush()
      hex(sha256(buf.toByteArray)).take(32)
    }
    hex(sha256(rowHashes.sorted.mkString.getBytes(UTF_8))).take(32)
  }

  private def sha256(b: Array[Byte]): Array[Byte] =
    MessageDigest.getInstance("SHA-256").digest(b)

  private def hex(b: Array[Byte]): String = b.map("%02x".format(_)).mkString

  private def putDouble(out: DataOutputStream, d: Double): Unit = {
    out.writeByte('f')
    out.writeLong(java.lang.Double.doubleToLongBits(if (d == 0.0) 0.0 else d))
  }

  private def put(out: DataOutputStream, t: DataType, v: Any): Unit =
    if (v == null) out.writeByte('n')
    else (t, v) match {
      case (ByteType | ShortType | IntegerType | LongType, n: Number) =>
        out.writeByte('i'); out.writeLong(n.longValue())
      case (FloatType | DoubleType, n: Number) => putDouble(out, n.doubleValue())
      case (_: DecimalType, d: java.math.BigDecimal) => putDouble(out, d.doubleValue())
      case (BooleanType, b: Boolean) => out.writeByte('b'); out.writeByte(if (b) 1 else 0)
      case (StringType, s: String) =>
        val b = s.getBytes(UTF_8); out.writeByte('s'); out.writeInt(b.length); out.write(b)
      case (BinaryType, b: Array[Byte]) =>
        out.writeByte('x'); out.writeInt(b.length); out.write(b)
      case (DateType, d: java.sql.Date) =>
        out.writeByte('d'); out.writeLong(d.toLocalDate.toEpochDay)
      case (DateType, d: java.time.LocalDate) =>
        out.writeByte('d'); out.writeLong(d.toEpochDay)
      case (TimestampType, ts: java.sql.Timestamp) =>
        out.writeByte('t')
        out.writeLong(Math.floorDiv(ts.getTime, 1000L) * 1000000L + ts.getNanos / 1000)
      case (TimestampType, i: java.time.Instant) =>
        out.writeByte('t'); out.writeLong(i.getEpochSecond * 1000000L + i.getNano / 1000)
      case (TimestampNTZType, l: java.time.LocalDateTime) =>
        out.writeByte('t')
        out.writeLong(l.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + l.getNano / 1000)
      case (ArrayType(et, _), s: scala.collection.Seq[_]) =>
        out.writeByte('l'); out.writeInt(s.size); s.foreach(put(out, et, _))
      case (st: StructType, r: Row) =>
        out.writeByte('r'); out.writeInt(st.fields.length)
        st.fields.indices.foreach(i => put(out, st.fields(i).dataType, r.get(i)))
      case (MapType(kt, vt, _), m: scala.collection.Map[_, _]) =>
        val entries = m.toSeq.map { case (k, x) =>
          val b = new ByteArrayOutputStream(); val o = new DataOutputStream(b)
          put(o, kt, k); put(o, vt, x); o.flush(); b.toByteArray
        }.sortBy(hex)
        out.writeByte('m'); out.writeInt(entries.size); entries.foreach(out.write)
      case _ =>
        throw new IllegalArgumentException(s"no digest encoding for $t (${v.getClass})")
    }
}
