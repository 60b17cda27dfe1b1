package perfbench

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the Scala digest to the Python one (tests/test_arithmetic.py):
  * the JVM's digest of a result must equal the oracle digest computed in
  * Python for the same rows. */
class DigestSpec extends AnyFunSuite {
  test("digest of fixed rows equals the value pinned on the Python side") {
    val schema = StructType(Seq(StructField("k", LongType), StructField("v", DoubleType),
      StructField("s", StringType)))
    val rows = Array(Row(1L, 0.5, "a"), Row(2L, null, "b"), Row(3L, 2.0, ""))
    assert(Digest.of(schema, rows) == Digest.Value(3, "k,s,v", "135284063775739230"))
  }

  test("cells render as on the Python side") {
    assert(Digest.cell(3.0) == "3")
    assert(Digest.cell(new java.math.BigDecimal("3.00")) == "3")
    assert(Digest.cell(-0.0) == "0")
    assert(Digest.cell(0.1) == "f3fb999999999999a")
    assert(Digest.cell(new java.math.BigDecimal("0.1")) == "f3fb999999999999a")
    assert(Digest.cell(Double.NaN) == "\\N")
    assert(Digest.cell(0.1f) == Digest.number(0.1f.toDouble))
    val ts = new java.sql.Timestamp(86400000L)
    ts.setNanos(5000)
    assert(Digest.cell(ts) == "t86400000005")
    assert(Digest.cell(java.time.LocalDateTime.of(1970, 1, 2, 0, 0, 0, 5000)) == "t86400000005")
    assert(Digest.cell(java.sql.Date.valueOf("1970-01-03")) == "d2")
    assert(Digest.cell(Seq(1L, 2.5)) == "[1,f4004000000000000]")
  }
}
