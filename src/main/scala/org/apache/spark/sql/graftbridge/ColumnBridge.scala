package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.StructType

/** Bridge into Spark's `private[sql]` Column↔Expression conversions for
  * registering custom catalyst expressions as user-facing Columns (the
  * supported extension path in Spark 4's split sql-api world), and into the
  * `private[spark]` schema nullability widening. Lives under
  * `org.apache.spark.sql` solely to satisfy the access modifiers.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** `t` with every field nullable, as file-source relations expose it. */
  def asNullable(t: StructType): StructType = t.asNullable
}
