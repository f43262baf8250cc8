package graft.hub

import graft.SparkFunSuite

/** Goldens pinned against pyarrow 16 `cast(float64, string)`, which
  * the reference relies on for parquet double→string casts
  * (test_model_output_integration.py:117-122, test_model_output.py:314-336).
  */
class ArrowFormatSpec extends SparkFunSuite {

  // Spark sizes its JVM-wide generated-code cache at the JVM's first code
  // generation, which may be this suite's: build the shared session first
  override protected def beforeAll(): Unit = { super.beforeAll(); spark }

  test("double → string matches Arrow cast goldens") {
    val cases = Seq(
      0.0 -> "0",
      -0.0 -> "-0",
      111.0 -> "111",
      0.01 -> "0.01",
      0.99 -> "0.99",
      0.5 -> "0.5",
      0.75 -> "0.75",
      2.597827508665773e-9 -> "2.597827508665773e-9",
      1e15 -> "1e+15",
      1e16 -> "1e+16",
      1.5e16 -> "1.5e+16",
      123456789.123 -> "123456789.123",
      0.1 + 0.2 -> "0.30000000000000004",
      1e-4 -> "0.0001",
      1e-5 -> "0.00001",
      1e-6 -> "0.000001",
      1e-7 -> "1e-7",
      12345.0 -> "12345",
      -2.5 -> "-2.5",
      Double.PositiveInfinity -> "inf",
      Double.NegativeInfinity -> "-inf",
      Double.NaN -> "nan",
      1.7976931348623157e308 -> "1.7976931348623157e+308",
      java.lang.Double.MIN_VALUE -> "5e-324",
      2.5e-10 -> "2.5e-10",
      1234567890123456.0 -> "1.234567890123456e+15",
      0.000123 -> "0.000123",
      9999999999.0 -> "9999999999",
      99999999999.0 -> "9.9999999999e+10",
      1234567890.0 -> "1234567890",
      12345678901.0 -> "1.2345678901e+10",
      2420.0 -> "2420",
      1.0 / 3.0 -> "0.3333333333333333",
      4.35 -> "4.35",
      1e23 -> "1e+23",
      0.0018554857403307722 -> "0.0018554857403307722",
    )
    for ((v, expected) <- cases)
      assert(ArrowFormat.doubleToString(v) == expected, s"value $v")
  }

  test("ArrowFormatString expression: codegen path matches the formatter on goldens") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.types.{DoubleType, FloatType}
    // generate (no interpreter fallback) — a compile error fails the test
    val proj = GenerateUnsafeProjection.generate(Seq(
      ArrowFormatString(BoundReference(0, DoubleType, nullable = false)),
      ArrowFormatString(BoundReference(1, FloatType, nullable = false))))
    for (v <- Seq(0.0, -0.0, 111.0, 0.01, 2.597827508665773e-9, 1e16, 0.1 + 0.2,
        1e-7, Double.NaN, Double.PositiveInfinity, -2.5)) {
      val out = proj(InternalRow(v, v.toFloat))
      assert(out.getUTF8String(0).toString == ArrowFormat.doubleToString(v), s"double $v")
      assert(out.getUTF8String(1).toString == ArrowFormat.floatToString(v.toFloat), s"float $v")
    }
  }

  test("round-trip: formatted value parses back to the same double") {
    val rnd = new scala.util.Random(7)
    for (_ <- 1 to 2000) {
      val v = java.lang.Double.longBitsToDouble(rnd.nextLong())
      if (!v.isNaN && !v.isInfinite) {
        val s = ArrowFormat.doubleToString(v)
        assert(java.lang.Double.parseDouble(s) == v, s"$v → $s")
      }
    }
  }
}
