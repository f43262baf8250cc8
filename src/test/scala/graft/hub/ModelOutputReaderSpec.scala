package graft.hub

import graft.SparkFunSuite
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Mirrors the reference's read/transform unit tests
  * (test_model_output.py:159-213, :277-364) with the same mocked schemas
  * (conftest.py:119-201) and golden values.
  */
class ModelOutputReaderSpec extends SparkFunSuite {

  /** conftest `schema_origin_date` */
  private val schemaOriginDate = StructType(Seq(
    StructField("origin_date", DateType),
    StructField("target", StringType),
    StructField("horizon", LongType),
    StructField("location", StringType),
    StructField("output_type", StringType),
    StructField("output_type_id", StringType),
    StructField("value", DoubleType),
    StructField("round_id", DateType),
    StructField("model_id", StringType),
  ))

  /** conftest `schema_origin_date_no_model_round_ids` */
  private val schemaNoModelRound = StructType(schemaOriginDate.fields.dropRight(2))

  private def unitCsv(name: String) = resource(s"unit/data/$name")

  test("csv: schema-directed types + sentinel nulls (test_model_output.py:277-311 case 1)") {
    val df = ModelOutputReader.readCsv(
      spark, unitCsv("2024-07-07-teamabc-output_type_ids_numeric.csv"), schemaOriginDate)
    assert(df.columns.toSeq == Seq(
      "origin_date", "target", "horizon", "location", "output_type", "output_type_id", "value"))
    val rows = df.collect()
    assert(rows.length == 6)
    assert(df.schema("location").dataType == StringType)
    assert(df.schema("output_type_id").dataType == StringType)
    assert(df.schema("horizon").dataType == LongType)
    assert(df.schema("origin_date").dataType == DateType)
    assert(rows.map(r => Option(r.getAs[String]("location")).orNull).toSeq ==
      Seq(null, "02", "02", null, "string location", "27"))
    assert(rows.map(r => Option(r.getAs[String]("output_type_id")).orNull).toSeq ==
      Seq("0.99", null, null, "0.0", null, "111"))
  }

  test("csv: no-location variant (test_model_output.py case 2)") {
    val df = ModelOutputReader.readCsv(
      spark, unitCsv("2024-07-07-teamabc-output_type_ids_numeric_no_location.csv"), schemaOriginDate)
    assert(df.columns.toSeq == Seq(
      "origin_date", "target", "horizon", "output_type", "output_type_id", "value"))
    assert(df.collect().map(r => Option(r.getAs[String]("output_type_id")).orNull).toSeq ==
      Seq("0.99", null, null, "0.0", null, "111"))
  }

  test("parquet: cast-on-read double→string, schema order (test_model_output.py:314-364)") {
    // re-create the reference parquet fixture with its exact physical types
    // (origin_date:string, horizon:int64, location:string, output_type_id:double)
    val dir = tmpDir("pq-fixture")
    val data = Seq(
      Row("2022-10-08", "wk inc flu hosp", 1L, null, "quantile", 0.99, 203.0),
      Row("2022-10-08", "wk inc flu hosp", 1L, "02", "mean", null, 173.0),
      Row("2022-10-08", "wk inc flu hosp", 1L, "02", "mean", null, 174.0),
      Row("2022-10-08", "wk inc flu hosp", 1L, null, "mean", 0.0, 175.0),
      Row("2022-10-08", "wk inc flu hosp", 1L, "string location", "mean", null, 176.0),
      Row("2023-10-21", "wk flu hosp rate change", -1L, "27", "pmf", 111.0, 0.0018554857403307),
    )
    val physical = StructType(Seq(
      StructField("origin_date", StringType),
      StructField("target", StringType),
      StructField("horizon", LongType),
      StructField("location", StringType),
      StructField("output_type", StringType),
      StructField("output_type_id", DoubleType),
      StructField("value", DoubleType),
    ))
    spark.createDataFrame(spark.sparkContext.parallelize(data, 1), physical)
      .write.mode("overwrite").parquet(s"$dir/f.parquet")

    val df = ModelOutputReader.readParquet(spark, s"$dir/f.parquet", schemaNoModelRound)
    assert(df.columns.toSeq == Seq(
      "origin_date", "target", "horizon", "location", "output_type", "output_type_id", "value"))
    assert(df.schema("output_type_id").dataType == StringType)
    assert(df.schema("origin_date").dataType == DateType)
    val got = df.collect().map(r => Option(r.getAs[String]("output_type_id")).orNull).toSeq
    // double→string via Arrow formatting: 0.0 → "0" (NOT Spark's "0.0")
    assert(got == Seq("0.99", null, null, "0", null, "111"))
    assert(df.collect().map(r => Option(r.getAs[String]("location")).orNull).toSeq ==
      Seq(null, "02", "02", null, "string location", "27"))
    // the Arrow cast is a native expression: no UDF node, projection codegen'd
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("UDF") && !plan.contains("BatchEval"), plan)
    // "*(1)" marks the codegen stage: the cast projection is inside it
    assert(plan.contains("*(1) Project") && plan.contains("arrowformatstring"), plan)
  }

  test("csv inference for un-schema'd columns (conftest 4-row fixture, test_model_output.py:188-199)") {
    val dir = tmpDir("csv-fixture")
    val csv =
      """reference_date,location,horizon,target,output_type,output_type_id,value
        |2420-01-01,US,1 light year,hospitalizations,quantile,0.5,62
        |2420-01-01,US,1 light year,hospitalizations,quantile,0.75,50.1
        |2420-01-01,03,3,hospitalizations,mean,,33
        |1999-12-31,US,last month,hospitalizations,pmf,large_increase,2.597827508665773e-9
        |""".stripMargin
    val path = s"$dir/2420-01-01-janeswayaddition-voyager1.csv"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), csv)

    val df = ModelOutputReader.readCsv(spark, path, new StructType()) // schema_empty
    val rows = df.collect()
    assert(rows.length == 4)
    assert(df.schema("output_type_id").dataType == StringType) // mixed → string
    assert(df.schema("horizon").dataType == StringType) //        "1 light year"
    assert(df.schema("value").dataType == DoubleType)
    assert(df.schema("reference_date").dataType == DateType) //   all ISO dates
    val otid = rows.map(r => Option(r.getAs[String]("output_type_id")).orNull).toSeq
    assert(otid == Seq("0.5", "0.75", null, "large_increase")) // csv: "" → null
  }

  test("parquet keeps empty strings (test_model_output.py:202-213)") {
    val dir = tmpDir("pq-empty")
    import spark.implicits._
    Seq(("0.5", 62.0), ("0.75", 50.1), ("", 33.0), ("large_increase", 2.597827508665773e-9))
      .toDF("output_type_id", "value")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/f.parquet")
    val df = ModelOutputReader.readParquet(spark, s"$dir/f.parquet", new StructType())
    val otid = df.collect().map(_.getAs[String]("output_type_id")).toSeq
    assert(otid == Seq("0.5", "0.75", "", "large_increase")) // "" survives
  }

  test("parquet: schema column missing from file materializes as nulls (pyarrow pin)") {
    val dir = tmpDir("pq-missing")
    import spark.implicits._
    Seq((1L, "x")).toDF("a", "b").write.mode("overwrite").parquet(s"$dir/f.parquet")
    val schema = StructType(Seq(
      StructField("a", StringType), StructField("b", StringType), StructField("d", StringType)))
    val df = ModelOutputReader.readParquet(spark, s"$dir/f.parquet", schema)
    assert(df.columns.toSeq == Seq("a", "b", "d"))
    val r = df.head()
    assert(r.getAs[String]("a") == "1" && r.getAs[String]("d") == null)
  }

  private def writeCsv(path: String, text: String): String = // UTF-8
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), text).toString

  private def inferredCsv(path: String): StructType =
    spark.read.option("header", "true").csv(path).schema

  test("rawSchema: every CSV fixture's header gives Spark's inferred schema") {
    val fixtures = java.nio.file.Files.walk(java.nio.file.Paths.get(resource(""))).toArray
      .map(_.toString).filter(_.endsWith(".csv")).sorted.toSeq
    assert(fixtures.nonEmpty)
    for (f <- fixtures)
      assert(ModelOutputReader.rawSchema(spark, f, ".csv") == inferredCsv(f), f)
  }

  test("rawSchema: planted CSV headers name columns as Spark's inference does") {
    val dir = tmpDir("raw-csv")
    val cases = Seq(
      "blank-first-line" -> ("\na,b\n1,2\n", Seq("a", "b")),
      "bom" -> ("\uFEFFa,b\n1,2\n", Seq("a", "b")),
      "crlf" -> ("a,b\r\n1,2\r\n", Seq("a", "b")),
      "duplicate-and-empty" -> ("a,a,,b\n1,2,3,4\n", Seq("a0", "a1", "_c2", "b")),
      "case-duplicate" -> ("A,a\n1,2\n", Seq("A0", "a1")),
      "quoted-delimiter" -> ("\"x,y\",z\n1,2\n", Seq("x,y", "z")),
      "comment-like" -> ("# c\n1\n", Seq("# c")))
    for ((name, (text, columns)) <- cases) {
      val p = writeCsv(s"$dir/$name.csv", text)
      val raw = ModelOutputReader.rawSchema(spark, p, ".csv")
      assert(raw.fieldNames.toSeq == columns, name)
      assert(raw.forall(_.dataType == StringType), name)
      assert(raw == inferredCsv(p), name)
      // the scan with the header's schema returns what the inferring scan does
      assert(spark.read.option("header", "true").schema(raw).csv(p).collect().toSeq ==
        spark.read.option("header", "true").csv(p).collect().toSeq, name)
    }
    val empty = writeCsv(s"$dir/empty.csv", "")
    assert(ModelOutputReader.rawSchema(spark, empty, ".csv") == new StructType())
    assertThrows[IllegalArgumentException](ModelOutputReader.readCsv(spark, empty, new StructType()))
  }

  /** The three physical parquet layouts perfbench/hubgen.py writes, as
    * (rows, column types); numeric columns non-nullable, as a Dataset of
    * primitives writes them.
    */
  private val hubLayouts: Seq[(Seq[Row], Seq[DataType])] = {
    val d = java.sql.Date.valueOf("2025-01-25")
    Seq(
      // narrow ints and floats, quantile id as double
      Seq(Row("2025-01-25", "ILI", 0, "NYC", "2025-01-25", "quantile", 0.5, 1.5f)) -> Seq(
        StringType, StringType, IntegerType, StringType, StringType, StringType, DoubleType, FloatType),
      // horizon and quantile id as text, dates as dates
      Seq(Row(d, "ILI", "0", "NYC", d, "quantile", "0.5", 1.5)) -> Seq(
        DateType, StringType, StringType, StringType, DateType, StringType, StringType, DoubleType),
      // 64-bit everything, dates as text
      Seq(Row("2025-01-25", "ILI", 0L, "NYC", "2025-01-25", "quantile", 0.5, 1.5)) -> Seq(
        StringType, StringType, LongType, StringType, StringType, StringType, DoubleType, DoubleType))
  }

  private def layoutFrame(rows: Seq[Row], types: Seq[DataType]) = {
    val names = Seq("reference_date", "target", "horizon", "location", "target_end_date",
      "output_type", "output_type_id", "value")
    val physical = StructType(names.zip(types).map { case (n, t) =>
      StructField(n, t, nullable = t == StringType || t == DateType) })
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), physical)
  }

  test("rawSchema: parquet footers in the three hub physical layouts, as files and directories") {
    val dir = tmpDir("raw-pq")
    for (((rows, types), i) <- hubLayouts.zipWithIndex) {
      val df = layoutFrame(rows, types)
      val outputDir = s"$dir/layout$i.parquet"
      df.write.mode("overwrite").parquet(outputDir)
      val single = ModelOutputWriter.writeSingleParquet(df, s"$dir/single", s"layout$i")
      for (p <- Seq(outputDir, single)) {
        val raw = ModelOutputReader.rawSchema(spark, p, ".parquet")
        assert(raw.map(_.dataType) == types, p)
        assert(raw == spark.read.parquet(p).schema, p)
        assert(spark.read.schema(raw).parquet(p).collect().toSeq == rows, p)
      }
    }
  }

  private def footer(file: String) = {
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(file), spark.sessionState.newHadoopConf()))
    try r.getFooter finally r.close()
  }

  private def footerRows(f: org.apache.parquet.hadoop.metadata.ParquetMetadata): Long =
    f.getBlocks.toArray.map(_.asInstanceOf[org.apache.parquet.hadoop.metadata.BlockMetaData].getRowCount).sum

  private def entries(dir: String): Seq[String] = new java.io.File(dir).list().toSeq.sorted

  test("writeSingleParquet writes the file Spark's own parquet write does, and nothing else") {
    val dir = tmpDir("writer-contract")
    val csv = ModelOutputReader.readCsv(
      spark, unitCsv("2024-07-07-teamabc-output_type_ids_numeric.csv"), schemaOriginDate)
    val inputs = hubLayouts.zipWithIndex.map { case ((rows, types), i) =>
      s"layout$i" -> layoutFrame(rows, types) } :+ ("csv" -> csv)
    for ((name, df) <- inputs) {
      val sparkDir = s"$dir/spark-$name"
      df.coalesce(1).write.parquet(sparkDir)
      val Seq(part) = entries(sparkDir).filter(f => f.startsWith("part-") && f.endsWith(".parquet"))
      val out = s"$dir/out-$name"
      val single = ModelOutputWriter.writeSingleParquet(df, out, name)
      assert(entries(out) == Seq(s"$name.parquet"), name)
      val want = footer(s"$sparkDir/$part")
      val got = footer(single)
      assert(got.getFileMetaData.getSchema == want.getFileMetaData.getSchema, name)
      assert(got.getFileMetaData.getKeyValueMetaData == want.getFileMetaData.getKeyValueMetaData, name)
      assert(footerRows(got) == footerRows(want), name)
      assert(spark.read.parquet(single).collect().toSeq ==
        spark.read.parquet(s"$sparkDir/$part").collect().toSeq, name)
    }
  }

  test("writeSingleParquet: zero rows and zero partitions still write one file with the schema") {
    val dir = tmpDir("writer-empty")
    // a header-only CSV add: zero rows
    val header = writeCsv(s"$dir/2420-01-01-team-model.csv",
      "origin_date,target,horizon,location,output_type,output_type_id,value\n")
    val h = new ModelOutputHandler(spark, "/nonexistent-hub", header, s"$dir/out-csv", Some(schemaOriginDate))
    val r = HubTransform.dispatch(spark, "ObjectCreated:Put", "/nonexistent-hub", header, s"$dir/out-csv",
      Some(schemaOriginDate))
    val written = r.outputPath.get
    assert(entries(s"$dir/out-csv") == Seq("2420-01-01-team-model.parquet"))
    // read back, every column is nullable; names and types are the add's
    def typed(t: StructType) = t.map(f => f.name -> f.dataType)
    assert(typed(spark.read.parquet(written).schema) == typed(h.addColumns(h.readFile()).schema))
    assert(footerRows(footer(written)) == 0)
    assert(r.rowsWritten == 0L)

    // an input with no partitions at all, and a relation known to be empty
    val emptyRdd = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schemaNoModelRound)
    assert(emptyRdd.rdd.getNumPartitions == 0)
    val known = spark.createDataFrame(java.util.Collections.emptyList[Row](), schemaNoModelRound)
    for ((name, df) <- Seq("empty-rdd" -> emptyRdd, "known-empty" -> known)) {
      val single = ModelOutputWriter.writeSingleParquet(df, s"$dir/out-$name", name)
      assert(entries(s"$dir/out-$name") == Seq(s"$name.parquet"))
      assert(spark.read.parquet(single).schema == schemaNoModelRound)
      assert(footerRows(footer(single)) == 0)
    }
  }
}
