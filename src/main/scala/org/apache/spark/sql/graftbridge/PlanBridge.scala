package org.apache.spark.sql.graftbridge

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Expression}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.{LogicalRDD, SparkStrategy}
import org.apache.spark.sql.types.StructType

/** Bridge into Spark's `private[sql]` Dataset construction so custom
  * logical operators can surface as user-facing DataFrames (sibling of
  * [[ColumnBridge]]; lives under `org.apache.spark.sql` solely to satisfy
  * the access modifier).
  */
object PlanBridge {

  /** Wrap a custom LogicalPlan as a DataFrame on this session. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** `rdd`, whose rows have the layout of `schema`, as a DataFrame, with
    * one column per field that refers to its attribute directly (no name
    * resolution, so duplicate or dotted names are fine). The scan plans as
    * an `RDDScanExec`, which whole-stage codegen takes as its input.
    */
  def ofRdd(spark: SparkSession, schema: StructType, rdd: RDD[InternalRow]): (DataFrame, Seq[Column]) = {
    val output = schema.map(f => AttributeReference(f.name, f.dataType, f.nullable, f.metadata)())
    (ofRows(spark, LogicalRDD(output, rdd)(spark.asInstanceOf[classic.SparkSession])),
      output.map(ColumnBridge.column))
  }

  /** EAGER Column → catalyst Expression conversion via the session's
    * converter. Unlike [[ColumnBridge.expression]]'s lazy
    * ColumnNodeExpression wrapper (which analysis never unwraps inside a
    * custom logical node, and which is not task-serializable), this returns
    * the real (possibly unresolved) catalyst tree, which the analyzer then
    * resolves normally.
    */
  def expression(spark: SparkSession, c: Column): Expression =
    spark.asInstanceOf[classic.SparkSession].expression(c)

  /** Idempotently add a planner strategy to the session (the imperative
    * dual of `SparkSessionExtensions.injectPlannerStrategy`, for sessions
    * built without graft extensions).
    */
  def ensureStrategy(spark: SparkSession, s: SparkStrategy): Unit = {
    val classicSpark = spark.asInstanceOf[classic.SparkSession]
    val cur = classicSpark.experimental.extraStrategies
    if (!cur.exists(_.getClass == s.getClass)) {
      classicSpark.experimental.extraStrategies = cur :+ s
    }
  }
}
