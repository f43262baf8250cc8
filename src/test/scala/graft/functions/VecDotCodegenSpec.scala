package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType}

import graft.SparkFunSuite

/** Regression: several VecDots inlined into ONE generated function (the
  * cosine shape — dot(a,b), dot(a,a), dot(b,b)) must codegen-compile.
  * Fixed local names used to collide ("Redefinition of local variable i"),
  * and `UnsafeProjection.create`'s silent interpreter fallback then ran
  * whole projections 30-40x slower. `GenerateUnsafeProjection.generate`
  * has no fallback, so a compile failure fails this test.
  */
class VecDotCodegenSpec extends SparkFunSuite {

  // Spark sizes its JVM-wide generated-code cache at the JVM's first code
  // generation, which may be this suite's: build the shared session first
  override protected def beforeAll(): Unit = { super.beforeAll(); spark }

  test("three VecDots in one projection compile and evaluate correctly") {
    val a = BoundReference(0, ArrayType(FloatType), nullable = true)
    val b = BoundReference(1, ArrayType(DoubleType), nullable = true)
    val proj = GenerateUnsafeProjection.generate(
      Seq(VecDot(a, b), VecDot(a, a), VecDot(b, b)))
    val row = InternalRow(
      new GenericArrayData(Array(1.0f, 2.0f, 3.0f)),
      new GenericArrayData(Array(4.0, 5.0, 6.0)))
    val out = proj(row)
    assert(out.getDouble(0) == 1.0 * 4 + 2.0 * 5 + 3.0 * 6)
    assert(out.getDouble(1) == 1.0 + 4.0 + 9.0)
    assert(out.getDouble(2) == 16.0 + 25.0 + 36.0)
  }
}
