package graft.hub

import scala.util.{Failure, Success, Try}

import com.univocity.parsers.csv.CsvParser
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{FileSourceOptions, InternalRow}
import org.apache.spark.sql.catalyst.csv.CSVOptions
import org.apache.spark.sql.execution.datasources.{FileFormat, FilePartition, FileScanRDD, PartitionedFile}
import org.apache.spark.sql.execution.datasources.csv.{CSVFileFormat, CSVUtils}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.{ColumnBridge, PlanBridge, ThreadBridge}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

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
  * Scale: every read is one narrow projection (the same one for both
  * formats' two scans below) over a file scan: no shuffle, fully whole-stage
  * codegen (the Arrow float→string cast is the native [[ArrowFormatString]]
  * expression). The raw schema handed to the scan comes from the file's own
  * CSV header or parquet footer ([[rawSchema]]), read on the driver, so
  * reading a file plans without a schema-inference job.
  *
  * Two scans carry that projection. [[readCsv]]/[[readParquet]] (and so
  * [[HubTransform.readHub]]) go through `spark.read`: a lazy
  * `FileSourceScan` that the caller's query prunes, pushes filters into and
  * packs into splits. A hub batch ([[readFiles]]) scans the files itself:
  * one reader and one `FileScanRDD` per raw-schema group, with exactly one
  * partition per input file (the whole file, never split) that carries the
  * file's `round_id`/`model_id` as partition values, because partition i of
  * the plan must write output file i and nothing in the batch prunes.
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
    * [[readCsv]] and [[readFiles]] scan the file with these same options, so
    * they cannot disagree on quoting, whitespace or the header line.
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
    *  - parquet: the footer, read by the same function as every parquet
    *    read of the operator packs ([[graft.ops.Tables.footerSchema]]).
    *
    * A directory (a Spark output directory such as `f.parquet/`) stands for
    * its first data file in path order, skipping names that start with `_`
    * or `.` — the file Spark's inference reads when there are no summary
    * files. `fileType` is the file's suffix: `.csv`, else parquet. The file is read through `conf`; without one, through a new
    * copy of the session's Hadoop conf.
    */
  def rawSchema(spark: SparkSession, path: String, fileType: String): StructType =
    rawSchema(spark, path, fileType, spark.sessionState.newHadoopConf())

  def rawSchema(spark: SparkSession, path: String, fileType: String, conf: Configuration): StructType =
    schemaOf(spark, dataFiles(new Path(path), conf).headOption.map(_.getPath), fileType == ".csv", conf)

  private def schemaOf(spark: SparkSession, first: Option[Path], isCsv: Boolean, conf: Configuration): StructType = {
    val sqlConf = spark.sessionState.conf
    first.fold(new StructType()) { file =>
      if (isCsv) {
        val opts = new CSVOptions(CsvReadOptions, sqlConf.csvColumnPruning, sqlConf.sessionLocalTimeZone)
        CSVUtils.readHeaderLine(file, opts, conf)
          .flatMap(line => Option(new CsvParser(opts.asParserSettings).parseLine(line)))
          .fold(new StructType()) { header =>
            StructType(CSVUtils.makeSafeHeader(header, sqlConf.caseSensitiveAnalysis, opts).toSeq
              .map(StructField(_, StringType)))
          }
      } else graft.ops.Tables.footerSchema(spark, file, conf)
    }
  }

  /** The data files `path` stands for: the file itself, or a directory's
    * files in path order, skipping names that start with `_` or `.`.
    */
  private def dataFiles(path: Path, conf: Configuration): Seq[FileStatus] = {
    val fs = path.getFileSystem(conf)
    val status = fs.getFileStatus(path)
    if (!status.isDirectory) Seq(status)
    else fs.listStatus(path).toSeq
      .filter(s => s.isFile && !s.getPath.getName.startsWith("_") && !s.getPath.getName.startsWith("."))
      .sortBy(_.getPath.toString)
  }

  /** Inputs of one file kind that share a raw schema, each with its data
    * files.
    */
  private[hub] final case class RawGroup[A](isCsv: Boolean, fileSchema: StructType, members: Seq[(A, Seq[FileStatus])])

  /** Each input's data files and raw schema ([[rawSchema]]; the file kind
    * from `path`'s suffix, `.csv` or else parquet), read concurrently on the
    * global execution context, and the inputs grouped by file kind and raw
    * schema: CSV groups first, then by first path; members in input order.
    * A failed read is its input's own, and so is a CSV file without a
    * header line, rejected as [[readCsv]] rejects it.
    */
  private[hub] def rawGroups[A](spark: SparkSession, conf: Configuration, inputs: Seq[A])(
      path: A => String): (Seq[(A, Throwable)], Seq[RawGroup[A]]) = {
    val read = inputs.zip(ThreadBridge.parMap(spark, inputs) { a =>
      val isCsv = PathParser.suffix(path(a)) == ".csv"
      Try {
        val files = dataFiles(new Path(path(a)), conf)
        val fileSchema = schemaOf(spark, files.headOption.map(_.getPath), isCsv, conf)
        require(!isCsv || fileSchema.nonEmpty, noHeader(Seq(path(a))))
        ((isCsv, fileSchema), files)
      }
    })
    val groups = read.collect { case (a, Success((key, files))) => key -> (a, files) }
      .groupBy(_._1).toSeq
      .map { case ((isCsv, fileSchema), ms) => RawGroup(isCsv, fileSchema, ms.map(_._2)) }
      .sortBy(g => (!g.isCsv, path(g.members.head._1)))
    (read.collect { case (a, Failure(e)) => a -> e }, groups)
  }

  def readCsv(spark: SparkSession, path: String, schema: StructType): DataFrame =
    readCsv(spark, Seq(path), rawSchema(spark, path, ".csv"), schema)

  private def noHeader(paths: Seq[String]): String = s"CSV file has no header line: ${paths.mkString(", ")}"

  /** Multi-file variant: every file in `paths` must have the raw schema
    * `fileSchema` (the [[HubTransform.readHub]] grouping guarantees it), so
    * one scan parses them all consistently, and columns the schema leaves
    * untyped get the types inferred over all of them. A file without a
    * header line is rejected, as the reference's `pyarrow.csv.read_csv`
    * rejects it.
    */
  def readCsv(spark: SparkSession, paths: Seq[String], fileSchema: StructType, schema: StructType): DataFrame = {
    require(fileSchema.nonEmpty, noHeader(paths))
    val raw = spark.read.options(CsvReadOptions).schema(fileSchema).csv(paths: _*)
    val untyped = untypedColumns(fileSchema, schema)
    // no inference Dataset (and no analyzer pass) when the schema types every column
    val inferred =
      if (untyped.isEmpty) Map.empty[String, DataType]
      else inferColumnTypes(raw, untyped.map(n => n -> col(n)), Nil).head._2
    raw.select(project(isCsv = true, fileSchema, schema, inferred, col).map { case (n, c) => c.as(n) }: _*)
  }

  def readParquet(spark: SparkSession, path: String, schema: StructType): DataFrame =
    readParquet(spark, Seq(path), rawSchema(spark, path, ".parquet"), schema)

  /** Multi-file variant: every file in `paths` must have the raw schema
    * `fileSchema` (the [[HubTransform.readHub]] grouping guarantees it).
    */
  def readParquet(spark: SparkSession, paths: Seq[String], fileSchema: StructType, schema: StructType): DataFrame = {
    val raw = spark.read.schema(fileSchema).parquet(paths: _*)
    if (schema.isEmpty) raw
    else raw.select(project(isCsv = false, fileSchema, schema, Map.empty, col).map { case (n, c) => c.as(n) }: _*)
  }

  /** CSV columns the hub schema does not name. */
  private def untypedColumns(fileSchema: StructType, schema: StructType): Seq[String] =
    fileSchema.fieldNames.toIndexedSeq.filterNot(schema.fieldNames.contains)

  /** The normalize/cast projection of a raw scan whose column of raw field
    * `n` is `in(n)`: each output column's name and value.
    *
    *  - CSV: every raw column in file order, sentinels turned to null, cast
    *    to its schema type, else to its `inferred` type.
    *  - parquet: the schema's columns in schema order, each cast from its
    *    file type ([[arrowCast]]) or null when the file lacks it; under an
    *    empty schema the file's columns unchanged, as pyarrow's
    *    `read_table(f, schema=empty)` keeps them (pinned by
    *    ModelOutputReaderSpec "parquet keeps empty strings").
    */
  private def project(isCsv: Boolean, fileSchema: StructType, schema: StructType, inferred: Map[String, DataType],
      in: String => Column): Seq[(String, Column)] =
    if (isCsv) {
      val byName = schema.fields.map(f => f.name -> f.dataType).toMap
      fileSchema.fieldNames.toIndexedSeq.map(n => n -> normalized(in(n)).cast(byName.getOrElse(n, inferred(n))))
    } else if (schema.isEmpty) fileSchema.fieldNames.toIndexedSeq.map(n => n -> in(n))
    else {
      val fileTypes = fileSchema.fields.map(f => f.name -> f.dataType).toMap
      schema.fields.toIndexedSeq.map(f => f.name ->
        fileTypes.get(f.name).fold(lit(null).cast(f.dataType))(from => arrowCast(in(f.name), from, f.dataType)))
    }

  /** A raw CSV string value with every sentinel turned to null. */
  private def normalized(c: Column): Column =
    when(c.isNull || c.isin(CsvNullSentinels: _*), lit(null).cast(StringType)).otherwise(c)

  /** Arrow-CSV-style inference for columns the hub schema doesn't name
    * (reference lets pyarrow infer them): all-long → LongType, all-numeric →
    * DoubleType, all-ISO-date → DateType, else StringType, over each column's
    * normalized values. One aggregation job over only the `untyped` columns
    * of `raw`, grouped by `keys` (none: one group, the whole scan); returns
    * each group's row (the keys first) and types. A group with no rows is
    * absent, and one whose column is all null types it as a string.
    */
  private def inferColumnTypes(raw: DataFrame, untyped: Seq[(String, Column)],
      keys: Seq[Column]): Seq[(Row, Map[String, DataType])] = {
    val aggs = untyped.flatMap { case (_, c0) =>
      val c = normalized(c0)
      Seq(count(c), count(c.try_cast(LongType)), count(c.try_cast(DoubleType)), count(c.try_cast(DateType)))
    }
    raw.groupBy(keys: _*).agg(aggs.head, aggs.tail: _*).collect().toSeq.map { row =>
      row -> untyped.indices.map { i =>
        val Seq(total, long, double, date) = (0 until 4).map(j => row.getLong(keys.size + 4 * i + j))
        untyped(i)._1 -> (
          if (total == 0) StringType
          else if (long == total) LongType
          else if (double == total) DoubleType
          else if (date == total) DateType
          else StringType)
      }.toMap
    }
  }

  /** A hub batch's read of one raw-schema group (see the class doc): one
    * DataFrame per set of members whose inferred types agree, each with
    * those members. Partition i of a DataFrame reads its member i (all of
    * its data files, each whole) and nothing else, so the task that writes
    * member i's output reads only member i's file.
    *
    * The group has one reader (`buildReaderWithPartitionValues`: one conf
    * broadcast) and one normalize/cast projection; `ids` gives each member
    * its `round_id` and `model_id`, which the scan carries as non-nullable
    * string partition values and the projection places as
    * [[ModelOutputHandler.addColumns]]' `withColumns` does. Columns the
    * schema leaves untyped are inferred per member by one aggregation over
    * the whole group grouped by file (two jobs under AQE).
    *
    * Every DataFrame is built by its function, so a failure that depends
    * only on the group (its inference job, an analysis error) is each
    * member's.
    */
  private[hub] def readFiles[A](spark: SparkSession, conf: Configuration, group: RawGroup[A], schema: StructType)(
      ids: A => (String, String)): Seq[(() => DataFrame, Seq[(A, Seq[FileStatus])])] = {
    val RawGroup(isCsv, fileSchema, members) = group
    val partitionSchema = StructType(Seq(StructField("round_id", StringType, nullable = false),
      StructField("model_id", StringType, nullable = false), StructField("file", IntegerType, nullable = false)))
    val readSchema = StructType(fileSchema.fields ++ partitionSchema.fields)
    val options = if (isCsv) CsvReadOptions else Map(FileFormat.OPTION_RETURNING_BATCH -> "false")
    // the parquet reader writes its read schema into the conf it is given
    val read = (if (isCsv) new CSVFileFormat else new ParquetFileFormat).buildReaderWithPartitionValues(
      spark, fileSchema, partitionSchema, fileSchema, Nil, options, if (isCsv) conf else new Configuration(conf))
    val values = members.zipWithIndex.map { case ((a, _), k) =>
      val (roundId, modelId) = ids(a)
      InternalRow(UTF8String.fromString(roundId), UTF8String.fromString(modelId), k)
    }
    // members ks(i) read by partition i; the raw columns by name, then the ids and the file
    def scan(ks: Seq[Int]): (DataFrame, String => Column, Seq[Column]) = {
      val parts = ks.zipWithIndex.map { case (k, i) =>
        FilePartition(i, members(k)._2.map(f => PartitionedFile(values(k), SparkPath.fromFileStatus(f), 0, f.getLen,
          Array.empty[String], f.getModificationTime, f.getLen)).toArray)
      }
      val (df, cols) = PlanBridge.ofRdd(spark, readSchema,
        new FileScanRDD(spark, read, parts, readSchema, Nil, Map.empty, new FileSourceOptions(options)))
      (df, fileSchema.fieldNames.zip(cols).toMap, cols.drop(fileSchema.length))
    }

    val untyped = if (isCsv) untypedColumns(fileSchema, schema) else Nil
    Try {
      val inferred = if (untyped.isEmpty) Map.empty[Int, Map[String, DataType]] else {
        val (raw, in, Seq(_, _, file)) = scan(members.indices)
        inferColumnTypes(raw, untyped.map(n => n -> in(n)), Seq(file)).map { case (row, t) => row.getInt(0) -> t }.toMap
      }
      members.indices.groupBy(k => inferred.getOrElse(k, untyped.map(_ -> (StringType: DataType)).toMap))
        .toSeq.sortBy(_._2.head)
    } match {
      case Failure(e) => Seq((() => throw e, members))
      case Success(sets) => sets.map { case (types, ks) =>
        val (raw, in, Seq(roundId, modelId, _)) = scan(ks)
        (() => raw.select(withIds(spark, project(isCsv, fileSchema, schema, types, in),
          Seq("round_id" -> roundId, "model_id" -> modelId)): _*), ks.map(members))
      }
    }
  }

  /** `cols` with each of `ids` set as `Dataset.withColumns` sets it: in
    * place of a column of its name (under the session's case sensitivity),
    * else appended in order.
    */
  private def withIds(spark: SparkSession, cols: Seq[(String, Column)], ids: Seq[(String, Column)]): Seq[Column] = {
    val same = spark.sessionState.conf.resolver
    (cols.map { case (n, c) => ids.find(i => same(n, i._1)).getOrElse(n -> c) } ++
      ids.filterNot(i => cols.exists(c => same(c._1, i._1)))).map { case (n, c) => c.as(n) }
  }
}
