package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.{DataSourceUtils, FileFormat}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.SchemaUtils

/** Bridge into the `private[spark]` schema checks of Spark's file write
  * command, for a write that runs its own task instead (sibling of
  * [[ColumnBridge]]; lives under `org.apache.spark.sql` solely to satisfy
  * the access modifier).
  */
object WriteBridge {

  /** The checks Spark's file write command makes before it writes
    * `schema`: every type supported by `format`, and no duplicate column
    * names under the session's case sensitivity.
    */
  def checkWritable(spark: SparkSession, format: FileFormat, schema: StructType): Unit = {
    DataSourceUtils.verifySchema(format, schema)
    SchemaUtils.checkColumnNameDuplication(
      schema.fieldNames.toSeq, spark.sessionState.conf.caseSensitiveAnalysis)
  }
}
