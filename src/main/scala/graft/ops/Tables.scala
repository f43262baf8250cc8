package graft.ops

import scala.util.Try

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** Table access + cross-engine-deterministic aggregation helpers.
  *
  * Float parity rule (see SURVEY.md §5): the driver hash-compares our
  * results against DuckDB, and `sum(double)` is order-dependent in the last
  * bits — a distributed partial-aggregate tree will not bit-match another
  * engine. So money-column aggregates are computed EXACTLY: cast to decimal
  * (exact, order-independent sum), cast the final value back to double
  * (deterministic rounding, identical in both engines). The oracle SQL uses
  * the same construction.
  *
  * Scale note: decimal hash-aggregation is marginally slower than double but
  * stays inside whole-stage codegen and map-side partial aggregation; at
  * 100 TB the shuffle stays one row per group either way.
  */
object Tables {

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    parquet(spark, s"$sfDir/$name.parquet")

  /** `spark.read.parquet(path)`, planned without Spark's schema-inference
    * job (one task that reads a footer, even for one file): the read is
    * handed the schema that inference returns ([[parquetSchema]]), so
    * building the DataFrame runs no job.
    */
  def parquet(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(parquetSchema(spark, path)).parquet(path)

  /** The data schema `spark.read.parquet(path)` infers, read on the driver
    * from one footer ([[footerSchema]]): the file at `path`, or for a
    * directory its first data file in a depth-first walk in name order that
    * skips names starting with `_` or `.` and descends into subdirectories,
    * as Spark's listing does. Partition columns (`band=3/`) are not in it:
    * the read appends them from its own partition discovery, as it does to
    * an inferred schema. A path without a data file is handed to
    * `spark.read.parquet`, so it fails as that read fails.
    *
    * Scale: one listing per directory level down to the first file and one
    * footer per relation, whatever its file count.
    */
  def parquetSchema(spark: SparkSession, path: String): StructType = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    def first(s: FileStatus): Option[Path] =
      if (!s.isDirectory) Some(s.getPath)
      else fs.listStatus(s.getPath).sortBy(_.getPath.getName).iterator
        .filterNot(c => c.getPath.getName.startsWith("_") || c.getPath.getName.startsWith("."))
        .flatMap(first).nextOption()
    Try(fs.getFileStatus(root)).toOption.flatMap(first) match {
      case Some(file) => footerSchema(spark, file, conf)
      case None => spark.read.parquet(path).schema
    }
  }

  /** The schema of the parquet file `file`, read through `conf` from its
    * footer and converted as Spark's schema inference converts it: the
    * session's `ParquetToSparkSchemaConverter`, and the Spark schema stored
    * in the footer when there is one. Every field is nullable, as the scan
    * exposes it.
    */
  def footerSchema(spark: SparkSession, file: Path, conf: Configuration): StructType = {
    val footer = ParquetFooterReader.readFooter(
      HadoopInputFile.fromPath(file, conf), ParquetMetadataConverter.SKIP_ROW_GROUPS)
    ColumnBridge.asNullable(ParquetFileFormat.readSchemaFromFooter(
      new Footer(file, footer), new ParquetToSparkSchemaConverter(spark.sessionState.conf)))
  }

  /** `events` with `ts` as a usable session-timezone timestamp, adaptive to
    * how the generator wrote the column:
    *
    *  - `timestamp[us]` parquet (current generator): arrives as
    *    TIMESTAMP_NTZ — cast to TIMESTAMP. The session timezone is pinned
    *    to UTC ([[graft.GraftSession]]), so the cast preserves the stored
    *    epoch values and matches DuckDB's native read bit-for-bit.
    *  - `timestamp[ns]` parquet (earlier generators): Spark 4 has no
    *    nanosecond type and rejects TIMESTAMP(NANOS) outright
    *    (PARQUET_TYPE_ILLEGAL), so read the raw int64 via
    *    `spark.sql.legacy.parquet.nanosAsLong` and floor-divide to
    *    microseconds (`DIV 1000`, integer division — a double division
    *    would lose precision above 2^53 ns).
    */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = table(spark, sfDir, "events")
    raw.schema("ts").dataType match {
      case LongType => raw.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case _ => raw.withColumn("ts", col("ts").cast(TimestampType))
    }
  }

  /** 2-decimal money column as exact decimal. */
  def dec(c: Column): Column = c.cast(DecimalType(18, 2))

  /** Exact sum of a 2-decimal money column, surfaced as double. */
  def dsum(c: Column): Column = sum(dec(c)).cast(DoubleType)

  /** Exact sum of an arbitrary-decimal expression, surfaced as double. */
  def dsumExpr(e: Column): Column = sum(e).cast(DoubleType)

  /** Exact-sum-based average surfaced as double (sum exact in decimal, one
    * IEEE division — bit-identical across engines).
    */
  def davg(c: Column): Column =
    sum(dec(c)).cast(DoubleType) / count(c).cast(DoubleType)

  /** `l_extendedprice * (1 - l_discount)` as exact decimal. */
  def discPrice(price: Column, discount: Column): Column =
    dec(price) * (lit(1).cast(DecimalType(18, 2)) - dec(discount))

  /** `l_extendedprice * (1 - l_discount) * (1 + l_tax)` as exact decimal. */
  def charge(price: Column, discount: Column, tax: Column): Column =
    discPrice(price, discount) * (lit(1).cast(DecimalType(18, 2)) + dec(tax))

  /** DECIMAL(38,0) view of an exact-integer column — the envelope-escape
    * discipline: long PRODUCTS that can exceed 2^63
    * at the sf100 shape are formed in decimal (exact to 10^38, ANSI
    * overflow-checked → loud, never silent), summed in decimal, and only
    * a final provably-bounded quotient returns to BIGINT. The DuckDB
    * oracle mirrors with HUGEINT casts at the same positions.
    */
  def big(c: Column): Column = c.cast(DecimalType(38, 0))

  /** Saturating EXACT floor division over non-negative DECIMAL(38,0)
    * operands, returned as BIGINT — the building block that removes a
    * quotient's own long ceiling (a plain `DIV` casts the integral
    * quotient to long and ANSI-aborts past 2^63).
    *
    * Exactness: `(num - num % den) / den` divides exactly (zero
    * fractional part), so Spark's scale-6 decimal division introduces no
    * rounding; the quotient is exact while it has ≤ 32 integer digits
    * (den ≥ 1, num ≤ 10^38 → always true for quotients below 10^32).
    * `least(q, cap)` then bounds the result BY CONSTRUCTION, so the
    * BIGINT cast cannot overflow at any input scale. Callers pick a cap
    * far above every value the statistic can reach at test/probe scale
    * (the saturation is a documented semantic for degenerate inputs —
    * e.g. a double-hapax bigram in a >10^9-token corpus — not a value
    * change at any measured scale). Oracle mirror:
    * `least(CAST(a AS HUGEINT) * ... // (CAST(b AS HUGEINT) * ...), cap)`.
    */
  def satFloorDiv(num: Column, den: Column, cap: Long): Column =
    least((num - (num % den)) / den, lit(cap).cast(DecimalType(38, 0)))
      .cast(LongType)
}
