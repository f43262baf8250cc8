package graft.hub

import com.univocity.parsers.csv.CsvParser
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.csv.CSVOptions
import org.apache.spark.sql.execution.datasources.csv.CSVUtils
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** Schema-directed model-output file reading (SURVEY.md §2 ops 1-3, 10).
  *
  * CSV (reference model_output.py:267-274): parse with the hub schema's types
  * for columns the schema names; columns NOT in the schema get their type
  * inferred from the data; every sentinel in [[CsvNullSentinels]] becomes
  * null in ALL columns (`strings_can_be_null=True` semantics) and values are
  * otherwise NOT trimmed (`" "` is a sentinel, `" x"` survives).
  *
  * Parquet (reference model_output.py:275-277 = `pq.read_table(f, schema)`):
  * output follows SCHEMA order; physical columns are cast to the target
  * types (int64→string drops leading zeros, double→string uses Arrow float
  * formatting — see [[ArrowFormat]]); file columns absent from the schema are
  * dropped; schema columns absent from the file materialize as nulls, as
  * pyarrow's `read_table(f, schema=...)` fills them (pinned by
  * ModelOutputReaderSpec "parquet: schema column missing from file
  * materializes as nulls").
  *
  * Scale: both paths are a single narrow projection over a parallel file
  * scan — no shuffle, fully whole-stage codegen (the Arrow float→string
  * cast is the native [[ArrowFormatString]] expression). The raw schema
  * handed to the scan comes from the file's own CSV header or parquet
  * footer ([[rawSchema]]), read on the driver, so reading a file plans
  * without a schema-inference job: an add is one Spark job, the write.
  */
object ModelOutputReader {

  /** model_output.py:270-273 */
  val CsvNullSentinels: Seq[String] =
    Seq("na", "NA", "", " ", "null", "Null", "NaN", "nan")

  /** Cast with Arrow-compatible float→string formatting — a native
    * codegen'd expression ([[ArrowFormatString]]), so the cast-on-read
    * projection stays in whole-stage codegen.
    */
  def arrowCast(c: Column, from: DataType, to: DataType): Column = (from, to) match {
    case (DoubleType, StringType) | (FloatType, StringType) =>
      ColumnBridge.column(ArrowFormatString(ColumnBridge.expression(c)))
    case _ => c.cast(to)
  }

  /** Options of every CSV read. [[rawSchema]] parses the header and
    * [[readCsv]] scans the file with these same options, so the two cannot
    * disagree on quoting, whitespace or the header line.
    */
  private val CsvReadOptions: Map[String, String] = Map(
    "header" -> "true",
    "inferSchema" -> "false",
    "ignoreLeadingWhiteSpace" -> "false",
    "ignoreTrailingWhiteSpace" -> "false")

  /** The schema `spark.read` would infer for the file at `path`, read on the
    * driver from the file itself instead of by an inference job:
    *
    *  - CSV: the first non-empty line, tokenized with the scan's own parser
    *    settings and made unique the way Spark names header columns
    *    (`a,a,,b` → `a0, a1, _c2, b`); every column is a string. A file
    *    without a header line has an empty schema.
    *  - parquet: the footer, converted as Spark's schema inference does
    *    (the Spark schema stored in the footer when there is one), with
    *    every field nullable as the scan exposes it.
    *
    * A directory (a Spark output directory such as `f.parquet/`) stands for
    * its first data file in path order, skipping names that start with `_`
    * or `.` — the file Spark's inference reads when there are no summary
    * files. `fileType` is the file's suffix: `.csv`, else parquet. The file is read through `conf`; without one, through a new
    * copy of the session's Hadoop conf.
    */
  def rawSchema(spark: SparkSession, path: String, fileType: String): StructType =
    rawSchema(spark, path, fileType, spark.sessionState.newHadoopConf())

  def rawSchema(spark: SparkSession, path: String, fileType: String, conf: Configuration): StructType = {
    val sqlConf = spark.sessionState.conf
    firstDataFile(new Path(path), conf).fold(new StructType()) { file =>
      if (fileType == ".csv") {
        val opts = new CSVOptions(CsvReadOptions, sqlConf.csvColumnPruning, sqlConf.sessionLocalTimeZone)
        CSVUtils.readHeaderLine(file, opts, conf)
          .flatMap(line => Option(new CsvParser(opts.asParserSettings).parseLine(line)))
          .fold(new StructType()) { header =>
            StructType(CSVUtils.makeSafeHeader(header, sqlConf.caseSensitiveAnalysis, opts).toSeq
              .map(StructField(_, StringType)))
          }
      } else {
        val footer = ParquetFooterReader.readFooter(
          HadoopInputFile.fromPath(file, conf), ParquetMetadataConverter.SKIP_ROW_GROUPS)
        ColumnBridge.asNullable(ParquetFileFormat.readSchemaFromFooter(
          new Footer(file, footer), new ParquetToSparkSchemaConverter(sqlConf)))
      }
    }
  }

  private def firstDataFile(path: Path, conf: Configuration): Option[Path] = {
    val fs = path.getFileSystem(conf)
    if (!fs.getFileStatus(path).isDirectory) Some(path)
    else fs.listStatus(path).toSeq
      .filter(s => s.isFile && !s.getPath.getName.startsWith("_") && !s.getPath.getName.startsWith("."))
      .map(_.getPath).sortBy(_.toString).headOption
  }

  def readCsv(spark: SparkSession, path: String, schema: StructType): DataFrame =
    readCsv(spark, Seq(path), rawSchema(spark, path, ".csv"), schema)

  /** Multi-file variant: every file in `paths` must have the raw schema
    * `fileSchema` (the [[HubTransform.readHub]] grouping guarantees it), so
    * one scan parses them all consistently. A file without a header line
    * is rejected, as the reference's `pyarrow.csv.read_csv` rejects it.
    */
  def readCsv(spark: SparkSession, paths: Seq[String], fileSchema: StructType, schema: StructType): DataFrame = {
    require(fileSchema.nonEmpty, s"CSV file has no header line: ${paths.mkString(", ")}")
    val raw = spark.read.options(CsvReadOptions).schema(fileSchema).csv(paths: _*)

    val byName = schema.fields.map(f => f.name -> f.dataType).toMap

    // sentinel → null on the raw string value of every column
    def normalized(name: String): Column = {
      val c = col(name)
      when(c.isNull || c.isin(CsvNullSentinels: _*), lit(null).cast(StringType))
        .otherwise(c)
    }

    // no inference Dataset (and no analyzer pass) when the schema types every column
    val untyped = raw.columns.filterNot(byName.contains).toIndexedSeq
    val inferredTypes =
      if (untyped.isEmpty) Map.empty[String, DataType]
      else inferColumnTypes(raw.select(untyped.map(n => normalized(n).as(n)): _*))

    raw.select(raw.columns.toIndexedSeq.map { name =>
      byName.get(name) match {
        case Some(t) => normalized(name).cast(t).as(name)
        case None    => normalized(name).cast(inferredTypes(name)).as(name)
      }
    }: _*)
  }

  /** Arrow-CSV-style inference for columns the hub schema doesn't name
    * (reference lets pyarrow infer them): all-long → LongType, all-numeric →
    * DoubleType, all-ISO-date → DateType, else StringType. One aggregation
    * job over only the un-schema'd columns (usually none at scale).
    */
  private def inferColumnTypes(df: DataFrame): Map[String, DataType] = {
    val aggs = df.columns.toIndexedSeq.flatMap { n =>
      val c = col(n)
      Seq(
        count(c).as(s"${n}__n"),
        count(c.try_cast(LongType)).as(s"${n}__long"),
        count(c.try_cast(DoubleType)).as(s"${n}__double"),
        count(c.try_cast(DateType)).as(s"${n}__date"),
      )
    }
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    df.columns.map { n =>
      val total = row.getAs[Long](s"${n}__n")
      val t =
        if (total == 0) StringType
        else if (row.getAs[Long](s"${n}__long") == total) LongType
        else if (row.getAs[Long](s"${n}__double") == total) DoubleType
        else if (row.getAs[Long](s"${n}__date") == total) DateType
        else StringType
      n -> t
    }.toMap
  }

  def readParquet(spark: SparkSession, path: String, schema: StructType): DataFrame =
    readParquet(spark, Seq(path), rawSchema(spark, path, ".parquet"), schema)

  /** Multi-file variant: every file in `paths` must have the raw schema
    * `fileSchema` (the [[HubTransform.readHub]] grouping guarantees it).
    */
  def readParquet(spark: SparkSession, paths: Seq[String], fileSchema: StructType, schema: StructType): DataFrame = {
    val raw = spark.read.schema(fileSchema).parquet(paths: _*)
    // pyarrow `read_table(f, schema=empty)` keeps the file schema unchanged
    // (pinned by ModelOutputReaderSpec "parquet keeps empty strings"); mirror
    // that.
    if (schema.isEmpty) return raw
    val fileTypes = raw.schema.fields.map(f => f.name -> f.dataType).toMap
    raw.select(schema.fields.toIndexedSeq.map { f =>
      fileTypes.get(f.name) match {
        case Some(from) => arrowCast(col(f.name), from, f.dataType).as(f.name)
        case None       => lit(null).cast(f.dataType).as(f.name)
      }
    }: _*)
  }
}
