package perfbench

import java.sql.Timestamp
import java.time.Instant

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

class DigestSpec extends AnyFunSuite {
  private val schema = StructType(Seq(
    StructField("b", StringType), StructField("a", DoubleType),
    StructField("c", ArrayType(IntegerType)), StructField("t", TimestampType),
    StructField("m", MapType(StringType, StringType))))
  private val ts = Timestamp.from(Instant.parse("2024-01-01T00:00:00.000001Z"))
  private val rows = Array(
    Row("x", -0.0, Seq(1, 2), ts, Map("k" -> "v", "a" -> "z")),
    Row("y", Double.NaN, Seq.empty[Int], null, Map.empty[String, String]))

  test("matches the Python digest of the same result (perfbench/tests/test_digest.py)") {
    assert(Digest.of(schema, rows) == "09bdd036ea70003331096628")
    assert(Digest.of(StructType(Seq(StructField("x", LongType))), Array.empty[Row]) ==
      "2d711642b726b04401627ca9")
  }

  test("column order and row order do not matter") {
    val perm = Seq(3, 0, 4, 2, 1)
    val s2 = StructType(perm.map(schema.fields(_)))
    val r2 = rows.reverse.map(r => Row.fromSeq(perm.map(r.get)))
    assert(Digest.of(s2, r2) == Digest.of(schema, rows))
  }

  test("-0.0 equals 0.0, every NaN is one token, floats widen exactly") {
    assert(Digest.token(-0.0, DoubleType) == Digest.token(0.0, DoubleType))
    assert(Digest.token(Double.NaN, DoubleType) == "fnan")
    assert(Digest.token(java.lang.Double.longBitsToDouble(0x7ff8000000000001L), DoubleType) == "fnan")
    assert(Digest.token(0.1f, FloatType) == Digest.float(0.1f.toDouble))
    assert(Digest.token(1.0, DoubleType) == "f3ff0000000000000")
    assert(Digest.token(new java.math.BigDecimal("0.10"), DecimalType(4, 2)) ==
      Digest.token(0.1, DoubleType))
  }

  test("timestamps are UTC epoch microseconds, dates epoch days") {
    assert(Digest.token(ts, TimestampType) == "T1704067200000001")
    assert(Digest.token(Timestamp.from(Instant.parse("1969-12-31T23:59:59.5Z")), TimestampType) ==
      "T-500000")
    assert(Digest.token(java.time.LocalDateTime.parse("2024-01-01T00:00:00.000001"),
      TimestampNTZType) == "T1704067200000001")
    assert(Digest.token(java.time.LocalDate.parse("1970-01-02"), DateType) == "D1")
  }

  test("arrays keep order, maps do not, strings are length-prefixed") {
    assert(Digest.token(Seq(2, 1), ArrayType(IntegerType)) == "[i2,i1]")
    assert(Digest.token(Map("b" -> 1, "a" -> 2), MapType(StringType, IntegerType)) ==
      Digest.token(Map("a" -> 2, "b" -> 1), MapType(StringType, IntegerType)))
    assert(Digest.token("a|b", StringType) == "s3:a|b")
    assert(Digest.token(Row(1, "x"), StructType(Seq(StructField("i", IntegerType),
      StructField("s", StringType)))) == "(i1,s1:x)")
  }

  test("different values give different digests") {
    val other = rows.clone()
    other(0) = Row("x", 0.5, Seq(1, 2), ts, Map("k" -> "v", "a" -> "z"))
    assert(Digest.of(schema, other) != Digest.of(schema, rows))
  }
}
