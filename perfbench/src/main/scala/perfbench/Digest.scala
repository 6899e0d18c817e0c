package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Order-insensitive canonical digest of a collected result.
  *
  * Columns are taken in name order, rows in byte order of their
  * canonical text, so neither the plan's column order nor its row order
  * matters. Values become tokens that `perfbench/digest.py` produces
  * identically from DuckDB results:
  *
  *  - null `N`; boolean `b0`/`b1`; any integer `i<decimal>`;
  *  - float/double `f<16 hex digits of the IEEE-754 double bits>`,
  *    with -0.0 folded into 0.0 and every NaN written `fnan`;
  *  - decimal: the token of its nearest double, so a DECIMAL oracle
  *    column matches a double Spark column of the same values;
  *  - string `s<utf-8 byte length>:<text>`; binary `x<hex>`;
  *  - date `D<epoch day>`; timestamp `T<epoch microseconds, UTC>`;
  *  - array `[a,b]`, struct `(a,b)`, map `{k=v,...}` sorted by entry text.
  */
object Digest {

  def of(schema: StructType, rows: Array[Row]): String = {
    val cols = schema.fields.zipWithIndex.sortBy(_._1.name)
    val header = cols.map(_._1.name).mkString(",")
    val lines = rows.map { r =>
      cols.map { case (f, i) => token(if (r.isNullAt(i)) null else r.get(i), f.dataType) }
        .mkString("|").getBytes(UTF_8)
    }
    java.util.Arrays.sort(lines, (a: Array[Byte], b: Array[Byte]) =>
      java.util.Arrays.compareUnsigned(a, b))
    sha(header, lines)
  }

  private def sha(header: String, lines: Seq[Array[Byte]]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    md.update(header.getBytes(UTF_8))
    lines.foreach { l => md.update('\n'.toByte); md.update(l) }
    md.digest().take(12).map(b => f"${b & 0xff}%02x").mkString
  }

  def float(d: Double): String =
    if (d.isNaN) "fnan"
    else f"f${java.lang.Double.doubleToRawLongBits(if (d == 0.0) 0.0 else d)}%016x"

  def token(v: Any, dt: DataType): String = v match {
    case null => "N"
    case b: Boolean => if (b) "b1" else "b0"
    case x: Byte => s"i$x"
    case x: Short => s"i$x"
    case x: Int => if (dt == DateType) s"D$x" else s"i$x"
    case x: Long => s"i$x"
    case x: Float => float(x.toDouble)
    case x: Double => float(x)
    case x: java.math.BigDecimal => float(x.doubleValue)
    case x: scala.math.BigDecimal => float(x.toDouble)
    case s: String => s"s${s.getBytes(UTF_8).length}:$s"
    case a: Array[Byte] => "x" + a.map(b => f"${b & 0xff}%02x").mkString
    case d: java.sql.Date => s"D${d.toLocalDate.toEpochDay}"
    case d: java.time.LocalDate => s"D${d.toEpochDay}"
    case t: java.sql.Timestamp =>
      s"T${Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000}"
    case t: java.time.Instant => s"T${t.getEpochSecond * 1000000L + t.getNano / 1000}"
    case t: java.time.LocalDateTime =>
      val i = t.toInstant(java.time.ZoneOffset.UTC)
      s"T${i.getEpochSecond * 1000000L + i.getNano / 1000}"
    case r: Row =>
      val fields = dt match {
        case s: StructType => s.fields.map(_.dataType).toSeq
        case _ => Seq.fill(r.length)(NullType)
      }
      (0 until r.length).map(i => token(if (r.isNullAt(i)) null else r.get(i), fields(i)))
        .mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      val (kt, vt) = dt match {
        case MapType(k, v, _) => (k, v)
        case _ => (NullType, NullType)
      }
      m.toSeq.map { case (k, x) => token(k, kt) + "=" + token(x, vt) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] =>
      val et = dt match {
        case ArrayType(e, _) => e
        case _ => NullType
      }
      s.map(token(_, et)).mkString("[", ",", "]")
    case other => throw new IllegalArgumentException(
      s"no canonical token for ${other.getClass.getName}")
  }
}
