package graft.hub

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, DoubleType, FloatType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** [[ArrowFormat]]'s float/double → string cast as a native codegen'd
  * expression: the generated code calls the static formatter directly, so
  * the hub parquet cast-on-read path stays inside whole-stage codegen
  * instead of breaking the stage at a Scala-UDF row boundary, as
  * [[graft.functions.VecDot]] does for its dot product.
  */
case class ArrowFormatString(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case DoubleType | FloatType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"arrow_format expects double or float input, got $other")
  }

  override protected def nullSafeEval(v: Any): Any = child.dataType match {
    case DoubleType => UTF8String.fromString(ArrowFormat.doubleToString(v.asInstanceOf[Double]))
    case FloatType  => UTF8String.fromString(ArrowFormat.floatToString(v.asInstanceOf[Float]))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // Scala objects expose static forwarders, callable from generated Java
    val fn = if (child.dataType == DoubleType) "doubleToString" else "floatToString"
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.unsafe.types.UTF8String.fromString(graft.hub.ArrowFormat.$fn($c))")
  }

  override protected def withNewChildInternal(newChild: Expression): ArrowFormatString =
    copy(child = newChild)
}
