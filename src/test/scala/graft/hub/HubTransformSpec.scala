package graft.hub

import graft.SparkFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Mirrors the reference integration tests end-to-end
  * (test_model_output_integration.py) plus the handler-level unit tests
  * (test_model_output.py:159-260).
  */
class HubTransformSpec extends SparkFunSuite {

  /** conftest `schema_origin_date` (round_id: date32) */
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

  /** conftest `schema_origin_date_str_val` */
  private val schemaOriginDateStrVal = StructType(
    schemaOriginDate.fields.map(f => if (f.name == "value") f.copy(dataType = StringType) else f))

  /** conftest `schema_reference_date` */
  private val schemaReferenceDate = StructType(Seq(
    StructField("reference_date", DateType),
    StructField("target", StringType),
    StructField("horizon", LongType),
    StructField("target_end_date", DateType),
    StructField("location", StringType),
    StructField("output_type", StringType),
    StructField("output_type_id", StringType),
    StructField("value", DoubleType),
    StructField("round_id", StringType),
    StructField("model_id", StringType),
  ))

  /** The canonical transformed-output schema
    * (test_model_output_integration.py:22-40, README.md:44-51).
    */
  private val expectedOutputSchema = StructType(Seq(
    StructField("reference_date", DateType),
    StructField("target", StringType),
    StructField("horizon", LongType),
    StructField("target_end_date", DateType),
    StructField("location", StringType),
    StructField("output_type", StringType),
    StructField("output_type_id", StringType),
    StructField("value", DoubleType),
    StructField("round_id", StringType),
    StructField("model_id", StringType),
  ))

  private def integ(name: String) = resource(s"integration/data/$name")

  private def handler(moPath: String, outDir: String, schema: StructType) =
    new ModelOutputHandler(spark, "/nonexistent-hub", moPath, outDir, Some(schema))

  test("csv: numeric output_type_ids → 2 nulls (integration :43-56)") {
    val out = tmpDir("mo-out")
    val h = handler(integ("2024-07-07-teamabc-output_type_ids_numeric.csv"), out, schemaOriginDate)
    val path = h.addModelOutput()
    val written = spark.read.parquet(path)
    assert(written.filter(col("output_type_id").isNull).count() == 2)
  }

  test("observed write metrics match the written file (no extra scan)") {
    val out = tmpDir("mo-out")
    val r = HubTransform.dispatch(spark, "ObjectCreated:Put", "/nonexistent-hub",
      integ("2024-07-07-teamabc-output_type_ids_numeric.csv"), out, Some(schemaOriginDate))
    val written = spark.read.parquet(r.outputPath.get)
    assert(r.rowsWritten === written.count())
    assert(r.nullOutputTypeIds ===
      written.filter(col("output_type_id").isNull).count())
  }

  test("csv: mixed output_type_ids → 8 nulls (integration :59-72)") {
    val out = tmpDir("mo-out")
    val h = handler(integ("2024-07-07-teamabc-output_type_ids_mixed.csv"), out, schemaOriginDateStrVal)
    val written = spark.read.parquet(h.addModelOutput())
    assert(written.count() == 12)
    assert(written.filter(col("output_type_id").isNull).count() == 8)
  }

  test("csv → parquet schema + goldens (integration :75-94)") {
    val out = tmpDir("mo-out")
    val h = handler(integ("2024-05-04-teamabc-locations_numeric.csv"), out, schemaReferenceDate)
    val path = h.addModelOutput()
    assert(path.endsWith("/2024-05-04-teamabc-locations_numeric.parquet"))
    val written = spark.read.parquet(path)
    assert(written.schema == expectedOutputSchema)
    val rows = written.collect()
    assert(rows.length == 23)
    // csv: leading zero kept
    assert(rows.map(_.getAs[String]("location")).toSet == Set("02"))
    assert(rows.head.getAs[String]("output_type_id") == "0.01")
    // filename-derived constants OVERWRITE the file's round_id/model_id
    // columns ("2024-05-04"/"CMU-TimeSeries" in the csv) in place (op-9)
    assert(rows.map(_.getAs[String]("round_id")).toSet == Set("2024-05-04"))
    assert(rows.map(_.getAs[String]("model_id")).toSet == Set("teamabc-locations_numeric"))
  }

  test("parquet → parquet schema + cast goldens (integration :97-122)") {
    // re-create the reference parquet fixture: location int64, output_type_id double
    val out = tmpDir("mo-out")
    val fixtureDir = tmpDir("mo-in")
    val csv = spark.read.option("header", "true").csv(integ("2024-05-04-teamabc-locations_numeric.csv"))
    val physical = csv.select(
      col("reference_date").cast(DateType),
      col("target"),
      col("horizon").cast(LongType),
      col("target_end_date").cast(DateType),
      col("location").cast(LongType), //        int64 → "2" (drops leading zero)
      col("output_type"),
      col("output_type_id").cast(DoubleType), // double → "0.01"
      col("value").cast(DoubleType),
      col("round_id"),
      col("model_id"),
    )
    val fixture = ModelOutputWriter.writeSingleParquet(
      physical, fixtureDir, "2024-05-04-teamabc-locations_numeric")

    val h = handler(fixture, out, schemaReferenceDate)
    val written = spark.read.parquet(h.addModelOutput())
    assert(written.schema == expectedOutputSchema)
    val rows = written.collect()
    assert(rows.length == 23)
    // parquet int64 → string loses the leading zero
    assert(rows.map(_.getAs[String]("location")).toSet == Set("2"))
    // double → string via Arrow formatting
    assert(rows.head.getAs[String]("output_type_id") == "0.01")
  }

  test("delete model output; missing → UserWarning (integration :125-152)") {
    val out = tmpDir("mo-out")
    import spark.implicits._
    val df = Seq(("x", 1.0)).toDF("location", "value")
    ModelOutputWriter.writeSingleParquet(df, out, "2024-05-04-teamabc-locations_numeric")
    ModelOutputWriter.writeSingleParquet(df, out, "2024-05-11-teamabc-locations_numeric")
    assert(new java.io.File(out).listFiles().count(_.getName.endsWith(".parquet")) == 2)

    val h = handler("raw/model-output/teamabc/2024-05-04-teamabc-locations_numeric.parquet", out, schemaReferenceDate)
    h.deleteModelOutput()
    assert(new java.io.File(out).listFiles().count(_.getName.endsWith(".parquet")) == 1)
    assertThrows[PathParser.UserWarning](h.deleteModelOutput())
    assert(new java.io.File(out).listFiles().count(_.getName.endsWith(".parquet")) == 1)
  }

  test("real hub config end-to-end (integration :155-160 + flu-metrocast schema)") {
    val out = tmpDir("mo-out")
    val hubPath = resource("integration/data/flu-metrocast")
    val h = new ModelOutputHandler(
      spark, hubPath, integ("2024-07-07-teamabc-output_type_ids_numeric.csv"), out)
    assert(h.config.get.keys ==
      Seq("schema_version", "rounds", "output_type_id_datatype", "derived_task_ids"))
    val written = spark.read.parquet(h.addModelOutput())
    assert(written.count() == 4)
    assert(written.columns.contains("round_id") && written.columns.contains("model_id"))
    assert(written.select("model_id").distinct().head().getString(0) == "teamabc-output_type_ids_numeric")
  }

  test("missing tasks.json is fatal (model_output.py:105-106)") {
    assertThrows[java.io.FileNotFoundException](
      new ModelOutputHandler(spark, "/no/such/hub", "raw/2420-01-01-team-model.csv", "/tmp/x"))
  }

  test("add_columns appends constants / overwrites in place (test_model_output.py:159-185)") {
    import spark.implicits._
    val out = tmpDir("mo-out")
    val h = handler("raw/prefix1/prefix2/2420-01-01-team-model.csv", out, new StructType())
    val base = Seq(("earth", 11.11), ("vulcan", 22.22), ("seti alpha", 33.33)).toDF("location", "value")
    val result = h.addColumns(base)
    assert(result.columns.length == 4)
    assert(result.columns.toSeq == Seq("location", "value", "round_id", "model_id"))
    assert(result.select("round_id").distinct().collect().map(_.getString(0)).toSeq == Seq("2420-01-01"))
    assert(result.select("model_id").distinct().collect().map(_.getString(0)).toSeq == Seq("team-model"))
    // overwrite-in-place: existing round_id/model_id keep their position
    val withExisting = base
      .withColumn("round_id", lit("1111-11-11")).withColumn("model_id", lit("old"))
      .select("round_id", "location", "model_id", "value")
    val overwritten = h.addColumns(withExisting)
    assert(overwritten.columns.toSeq == Seq("round_id", "location", "model_id", "value"))
    assert(overwritten.select("round_id").distinct().head().getString(0) == "2420-01-01")
    assert(overwritten.select("model_id").distinct().head().getString(0) == "team-model")
  }

  test("write_parquet exact output name (test_model_output.py:216-226)") {
    import spark.implicits._
    val out = tmpDir("mo-out")
    val h = handler("raw/prefix1/prefix2/2420-01-01-team-model.csv", out, new StructType())
    val path = h.writeParquet(Seq(("earth", 11.11)).toDF("location", "value"))
    assert(path == s"file:$out/2420-01-01-team-model.parquet" || path == s"$out/2420-01-01-team-model.parquet")
    assert(new java.io.File(s"$out/2420-01-01-team-model.parquet").isFile)
  }

  test("invalid files raise UserWarning (test_model_output.py:245-260)") {
    val out = tmpDir("mo-out")
    for (bad <- Seq(
        "raw/prefix1/prefix2/", //                       no extension
        "raw/prefix1/prefix2/round_id-team-model.txt", // unsupported type
        "photo.jpg",
        "raw/prefix1/prefix2/01-02-2440-team-model-name")) {
      assertThrows[PathParser.UserWarning](handler(bad, out, new StructType()))
    }
    // ValueError cases: extension fine, name unparseable
    assertThrows[IllegalArgumentException](
      handler("raw/prefix1/prefix2/2420-01-01.csv", out, new StructType()))
  }

  test("addDirectory backfills all files in parallel, skipping bad ones") {
    val hub = tmpDir("hub-dir")
    val out = tmpDir("hub-dir-out")
    new java.io.File(s"$hub/raw/nested").mkdirs()
    for (d <- Seq("2420-01-01", "2420-01-02", "2420-01-03"))
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$hub/raw/$d-team-model.csv"),
        "location,value\nearth,1.5\n")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$hub/raw/nested/2420-01-04-team-model.csv"),
      "location,value\nvulcan,2.5\n")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$hub/raw/junk.txt"), "x")
    java.nio.file.Files.writeString( // supported type, unparseable name
      java.nio.file.Paths.get(s"$hub/raw/2420-01-05.csv"), "location,value\nmars,3.5\n")
    val (results, inferTasks) = org.apache.spark.JobCount.tasksPerJob(spark.sparkContext) {
      HubTransform.addDirectory(spark, hub, "raw", out, parallelism = 4, schemaOverride = Some(new StructType()))
    }
    assert(results.count(_.action == "add") == 4)
    assert(results.count(_.action == "skip") == 1)
    val errors = results.filter(_.action == "error")
    assert(errors.map(_.key.split('/').last) == Seq("2420-01-05.csv"))
    assert(errors.head.error.exists(_.startsWith("IllegalArgumentException:")), errors)
    assert(new java.io.File(out).listFiles().count(_.getName.endsWith(".parquet")) == 4)

    // under the empty schema above, the four like-headed files infer their
    // untyped columns in one aggregation (a map-stage job and a result job
    // under AQE) before the one write job of one task per file
    assert(inferTasks.size <= 3 && inferTasks.last == 4, s"tasks per job: $inferTasks")
    // under a schema that types every column there is no inference job
    val typed = StructType(Seq(StructField("location", StringType), StructField("value", DoubleType)))
    val (typedResults, tasks) = org.apache.spark.JobCount.tasksPerJob(spark.sparkContext) {
      HubTransform.addDirectory(spark, hub, "raw", tmpDir("hub-dir-typed-out"), schemaOverride = Some(typed))
    }
    assert(tasks == Seq(4), s"tasks per job: $tasks")
    assert(typedResults.map(_.action) == results.map(_.action))
  }

  test("files sharing a header keep the types each one infers; a headerless file fails alone") {
    val hub = tmpDir("hub-infer")
    val out = tmpDir("hub-infer-out")
    new java.io.File(s"$hub/raw").mkdirs()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$hub/raw/2420-01-01-team-model.csv"), "location,count\nearth,1\nmars,NA\n")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$hub/raw/2420-01-02-team-model.csv"), "location,count\nearth,abc\n")
    java.nio.file.Files.writeString( // a header and no rows: every untyped column a string
      java.nio.file.Paths.get(s"$hub/raw/2420-01-03-team-model.csv"), "location,count\n")
    for ((d, text) <- Seq("2420-01-04" -> "", "2420-01-05" -> "\n\n")) // no header line
      java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$hub/raw/$d-team-model.csv"), text)
    val results = HubTransform.addDirectory(spark, hub, "raw", out, schemaOverride = Some(new StructType()))
    assert(results.map(_.action) == Seq("add", "add", "add", "error", "error"), results)
    // each headerless file fails alone, naming its own path
    for (r <- results.drop(3))
      assert(r.error.contains(s"IllegalArgumentException: requirement failed: CSV file has no header line: ${r.key}"), r)
    def read(d: String) = spark.read.parquet(s"$out/$d-team-model.parquet")
    assert(read("2420-01-01").schema("count").dataType == LongType)
    assert(read("2420-01-01").collect().map(r => Option(r.get(1))).toSeq == Seq(Some(1L), None))
    assert(read("2420-01-02").schema("count").dataType == StringType)
    assert(read("2420-01-02").collect().map(_.getString(1)).toSeq == Seq("abc"))
    assert(read("2420-01-03").schema("count").dataType == StringType && read("2420-01-03").count() == 0)
    for (d <- Seq("2420-01-01", "2420-01-02", "2420-01-03")) {
      assert(read(d).columns.toSeq == Seq("location", "count", "round_id", "model_id"))
      val footer = org.apache.parquet.hadoop.ParquetFileReader.open(org.apache.parquet.hadoop.util.HadoopInputFile
        .fromPath(new org.apache.hadoop.fs.Path(s"$out/$d-team-model.parquet"), spark.sessionState.newHadoopConf()))
      val written = footer.getFooter.getFileMetaData.getSchema
      try for (c <- Seq("round_id", "model_id")) assert(written.getType(written.getFieldIndex(c))
        .isRepetition(org.apache.parquet.schema.Type.Repetition.REQUIRED), s"$d: $c")
      finally footer.close()
    }
  }

  /** `n` two-column CSVs of one row each under `<hub>/raw`, the last one
    * `bigRows` rows long; returns the hub and its typed schema.
    */
  private def likeShapedHub(prefix: String, n: Int, bigRows: Int = 1): (String, Option[StructType]) = {
    val hub = tmpDir(prefix)
    new java.io.File(s"$hub/raw").mkdirs()
    for (i <- 1 to n)
      java.nio.file.Files.writeString(java.nio.file.Paths.get(f"$hub/raw/2420-01-$i%02d-team-model.csv"),
        "location,value\n" + "earth,1.5\n" * (if (i == n) bigRows else 1))
    (hub, Some(StructType(Seq(StructField("location", StringType), StructField("value", DoubleType)))))
  }

  test("a backfill's write stage holds one plan per raw-schema group, whatever the file count") {
    val lineage = for (n <- Seq(2, 24)) yield {
      val (hub, schema) = likeShapedHub(s"hub-lineage-$n", n)
      val (results, jobs) = org.apache.spark.JobCount.tasksAndRddsPerJob(spark.sparkContext) {
        HubTransform.addDirectory(spark, hub, "raw", tmpDir(s"hub-lineage-$n-out"), schemaOverride = schema)
      }
      assert(results.map(_.action).distinct == Seq("add"), results)
      assert(jobs.map(_._1) == Seq(n), s"$n files: tasks per job ${jobs.map(_._1)}")
      jobs.head._2
    }
    assert(lineage.distinct.size == 1, s"RDDs in the write stage at 2 and 24 files: $lineage")
  }

  test("a backfill launches its largest file's task first") {
    val slots = spark.sparkContext.defaultParallelism
    val n = 2 * slots + 2
    val (hub, schema) = likeShapedHub("hub-largest", n, bigRows = 5000)
    val (results, launched) = org.apache.spark.JobCount.taskLaunchOrder(spark.sparkContext) {
      HubTransform.addDirectory(spark, hub, "raw", tmpDir("hub-largest-out"), schemaOverride = schema)
    }
    assert(results.map(_.action).distinct == Seq("add"), results)
    assert(launched.size == n, launched)
    // one group, so partition i is the i-th file in path order: the big one is last
    assert(launched.take(slots).contains(n - 1), s"launch order: $launched")
    assert(spark.read.parquet(results.last.outputPath.get).count() == 5000)
  }

  test("event dispatch skips bad files, routes verbs (faas/lambda_function.py:22-62)") {
    val hub = tmpDir("hub")
    val out = tmpDir("hub-out")
    // unsupported extension → UserWarning → skip, not crash
    val r1 = HubTransform.dispatch(
      spark, "ObjectCreated:Put", hub, "raw/2420-01-01-x.txt", out, Some(new StructType()))
    assert(r1.action == "skip")
    // unknown verb → skip
    val r3 = HubTransform.dispatch(
      spark, "SomethingElse", hub, "raw/2420-01-01-x.csv", out, Some(new StructType()))
    assert(r3.action == "skip")
    // happy path: created event transforms the file
    val rawDir = new java.io.File(s"$hub/raw"); rawDir.mkdirs()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$hub/raw/2420-01-01-team-model.csv"),
      "location,value\nearth,1.5\nvulcan,2.5\n")
    val r5 = HubTransform.dispatch(
      spark, "ObjectCreated:Put", hub, "raw/2420-01-01-team-model.csv", out, Some(new StructType()))
    assert(r5.action == "add" && r5.outputPath.exists(_.endsWith("2420-01-01-team-model.parquet")))
    // removed event deletes the counterpart
    val r6 = HubTransform.dispatch(
      spark, "ObjectRemoved:Delete", hub, "raw/2420-01-01-team-model.csv", out, Some(new StructType()))
    assert(r6.action == "delete")
    assert(!new java.io.File(s"$out/2420-01-01-team-model.parquet").exists())
    // bad origin prefix via the S3 entry → ValueError-equivalent → error, no rethrow
    val r2 = HubTransform.handleEvent(spark, "ObjectRemoved:Delete", "bucket", "nope/2420-01-01-x.csv", scheme = "file")
    assert(r2.action == "error")
    // url-encoded key is decoded before use (lambda_function.py:31)
    val r4 = HubTransform.handleEvent(spark, "ObjectCreated:Put", "bucket", "raw/2420-01-01%20x.txt", scheme = "file")
    assert(r4.key == "raw/2420-01-01 x.txt")
  }

  test("readHub: whole hub as one table with driver-side file pruning") {
    import org.apache.spark.sql.types.StructType
    val hub = tmpDir("hub-table")
    new java.io.File(s"$hub/raw/nested").mkdirs()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$hub/raw/2420-01-01-teamA-modelX.csv"),
      "location,value\nearth,1.5\nvulcan,2.5\n")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$hub/raw/2420-01-02-teamA-modelX.csv"),
      "location,value,extra\nmars,3.5,9\n") // extra un-schema'd column
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$hub/raw/nested/2420-01-01-teamB-modelY.csv"),
      "location,value\nterra,4.5\n")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$hub/raw/junk.txt"), "x")

    val all = HubTransform.readHub(spark, hub, schemaOverride = Some(new StructType()))
    assert(all.count() == 4)
    // bulk scan: one FileSourceScan per header GROUP (two headers here),
    // never a per-file union chain
    val phys = all.queryExecution.executedPlan.toString
    assert(phys.split("FileScan csv").length - 1 == 2,
      s"expected exactly 2 csv scans for 2 header groups:\n$phys")
    assert(all.select("model_id").distinct().collect().map(_.getString(0)).sorted.toSeq ==
      Seq("teamA-modelX", "teamB-modelY"))
    // union-by-name: the extra column is null for files that lack it
    assert(all.filter(all("extra").isNull).count() == 3)

    // model predicate prunes FILES: only teamB's file is ever scanned
    val onlyB = HubTransform.readHub(spark, hub,
      modelIds = Seq("teamB-modelY"), schemaOverride = Some(new StructType()))
    assert(onlyB.count() == 1)
    assert(onlyB.inputFiles.length == 1 && onlyB.inputFiles.head.contains("teamB-modelY"))

    // round predicate: two files for round 2420-01-01
    val round1 = HubTransform.readHub(spark, hub,
      roundIds = Seq("2420-01-01"), schemaOverride = Some(new StructType()))
    assert(round1.count() == 3)
    assert(round1.inputFiles.length == 2)

    // empty result keeps the contract columns
    val none = HubTransform.readHub(spark, hub,
      modelIds = Seq("nope"), schemaOverride = Some(new StructType()))
    assert(none.count() == 0)
    assert(none.columns.toSeq == Seq("round_id", "model_id"))
  }

  /** A hub under the flu-metrocast `tasks.json` with one CSV and one
    * parquet model-output file whose columns the derived schema all names.
    */
  private def fluMetrocastHub(prefix: String): String = {
    import spark.implicits._
    val hub = tmpDir(prefix)
    new java.io.File(s"$hub/hub-config").mkdirs()
    new java.io.File(s"$hub/raw").mkdirs()
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(resource("integration/data/flu-metrocast/hub-config/tasks.json")),
      java.nio.file.Paths.get(s"$hub/hub-config/tasks.json"))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$hub/raw/2025-01-25-teamA-modelX.csv"),
      "reference_date,target,horizon,location,target_end_date,output_type,output_type_id,value\n" +
        "2025-01-25,ILI ED visits,0,NYC,2025-01-25,quantile,0.5,10.5\n" +
        "2025-01-25,ILI ED visits,1,Bronx,2025-02-01,quantile,0.5,NA\n")
    ModelOutputWriter.writeSingleParquet(
      Seq(("2025-02-01", "ILI ED visits", 2, "Queens", "2025-02-15", "quantile", 0.25, 7.0f))
        .toDF("reference_date", "target", "horizon", "location", "target_end_date",
          "output_type", "output_type_id", "value"),
      s"$hub/raw", "2025-02-01-teamB-modelY")
    hub
  }

  test("readHub: derived schema over CSV and parquet files, and an empty selection") {
    import spark.implicits._
    // parquet physical types differ from the derived schema: the read casts
    val hub = fluMetrocastHub("hub-derived")
    val schema = HubSchema.deriveSchema(HubConfig.load(hub).get)
    assert(schema.fieldNames.takeRight(2).toSeq == Seq("round_id", "model_id"))

    val all = HubTransform.readHub(spark, hub)
    assert(all.columns.toSeq == schema.fieldNames.toSeq)
    assert(all.select("model_id", "round_id").distinct().orderBy("model_id").as[(String, String)]
      .collect().toSeq == Seq(("teamA-modelX", "2025-01-25"), ("teamB-modelY", "2025-02-01")))
    assert(all.filter(col("value").isNull).count() == 1)
    assert(all.filter(col("model_id") === "teamB-modelY").select("horizon", "value")
      .as[(Long, Double)].collect().toSeq == Seq((2L, 7.0)))

    val parquetOnly = HubTransform.readHub(spark, hub, modelIds = Seq("teamB-modelY"))
    assert(parquetOnly.count() == 1 && parquetOnly.inputFiles.length == 1)

    val none = HubTransform.readHub(spark, hub, roundIds = Seq("2099-01-01"))
    assert(none.count() == 0)
    assert(none.columns.toSeq == schema.fieldNames.toSeq)
  }

  test("an add is one Spark job, and building readHub runs none") {
    val hub = fluMetrocastHub("hub-jobs")
    val out = tmpDir("hub-jobs-out")
    for (f <- Seq("2025-01-25-teamA-modelX.csv", "2025-02-01-teamB-modelY.parquet")) {
      val (written, jobs) = org.apache.spark.JobCount(spark.sparkContext) {
        HubTransform.add(spark, hub, s"raw/$f", out)
      }
      assert(jobs == 1, s"$f: $jobs jobs")
      assert(spark.read.parquet(written).count() > 0, f)
    }
    // two files: under Spark's parallel-listing threshold (32 paths per
    // scan group), above which building readHub runs a listing job
    val (all, planJobs) = org.apache.spark.JobCount(spark.sparkContext) {
      HubTransform.readHub(spark, hub)
    }
    assert(planJobs == 0, s"readHub ran $planJobs jobs before the caller's action")
    assert(all.count() == 3)
  }

  test("the hub path starts no OS process, and an add writes one rw-r--r-- file") {
    import scala.jdk.CollectionConverters._
    val hub = fluMetrocastHub("hub-nofork")
    new java.io.File(s"$hub/raw/nested").mkdirs()
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$hub/raw/2025-01-25-teamA-modelX.csv"),
      java.nio.file.Paths.get(s"$hub/raw/nested/2025-02-08-teamC-modelZ.csv"))
    val out = tmpDir("hub-nofork-out")
    val dirOut = tmpDir("hub-nofork-dir-out")
    val dump = java.nio.file.Paths.get(tmpDir("hub-nofork-jfr"), "rec.jfr")
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    try {
      HubTransform.add(spark, hub, "raw/2025-01-25-teamA-modelX.csv", out)
      HubTransform.add(spark, hub, "raw/2025-02-01-teamB-modelY.parquet", out)
      HubTransform.addDirectory(spark, hub, "raw", dirOut)
      HubTransform.readHub(spark, hub)
      rec.stop()
      rec.dump(dump)
    } finally rec.close()
    val forks = jdk.jfr.consumer.RecordingFile.readAllEvents(dump).asScala.filter { e =>
      e.getEventType.getName == "jdk.ProcessStart" && e.getStackTrace != null &&
      e.getStackTrace.getFrames.asScala.exists(_.getMethod.getType.getName.startsWith("graft.hub."))
    }
    assert(forks.isEmpty, forks.map(_.getString("command")).mkString("forked: ", "; ", ""))

    val added = Seq("2025-01-25-teamA-modelX.parquet", "2025-02-01-teamB-modelY.parquet")
    assert(new java.io.File(out).list().sorted.toSeq == added)
    assert(new java.io.File(dirOut).list().sorted.toSeq == added :+ "2025-02-08-teamC-modelZ.parquet")
    for (f <- added)
      assert(java.nio.file.attribute.PosixFilePermissions.toString(
        java.nio.file.Files.getPosixFilePermissions(java.nio.file.Paths.get(out, f))) == "rw-r--r--", f)
  }

  test("a failed add leaves the output directory as it was") {
    val hub = tmpDir("hub-fail")
    val out = tmpDir("hub-fail-out")
    new java.io.File(s"$hub/raw").mkdirs()
    val raw = java.nio.file.Paths.get(s"$hub/raw/2420-01-01-team-model.csv")
    val schema = Some(StructType(Seq(StructField("location", StringType), StructField("horizon", LongType))))
    def add() = HubTransform.dispatch(
      spark, "ObjectCreated:Put", hub, "raw/2420-01-01-team-model.csv", out, schema)
    java.nio.file.Files.writeString(raw, "location,horizon\nearth,1\n")
    assert(add().action == "add")
    def listing() = new java.io.File(out).listFiles().toSeq.map(f => f.getName ->
      java.util.HexFormat.of().formatHex(java.security.MessageDigest.getInstance("SHA-256")
        .digest(java.nio.file.Files.readAllBytes(f.toPath)))).sortBy(_._1)
    val before = listing()
    // "abc" fails the ANSI cast to bigint inside the write job
    java.nio.file.Files.writeString(raw, "location,horizon\nearth,abc\n")
    val failed = add()
    assert(failed.action == "error", failed)
    assert(listing() == before)

    // in a backfill the bad file fails alone, inside the one write job: the
    // good one is added, and the bad one's error names what its task caught
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$hub/raw/2420-01-02-team-model.csv"), "location,horizon\nearth,2\n")
    val (results, tasks) = org.apache.spark.JobCount.tasksPerJob(spark.sparkContext) {
      HubTransform.addDirectory(spark, hub, "raw", out, schemaOverride = schema)
    }
    assert(tasks == Seq(2), s"tasks per job: $tasks")
    assert(results.map(r => r.key.split('/').last -> r.action) ==
      Seq("2420-01-01-team-model.csv" -> "error", "2420-01-02-team-model.csv" -> "add"))
    assert(results.head.error.exists(_.startsWith("SparkNumberFormatException: ")), results.head)
    val after = listing()
    assert(after.map(_._1) == (before.map(_._1) :+ "2420-01-02-team-model.parquet").sorted)
    assert(after.filter(f => before.exists(_._1 == f._1)) == before)
  }

  test("retrigger touches metadata and re-fires add for every raw file " +
      "(faas/lambda_retrigger_model_output_add.py:35-53)") {
    val hub = tmpDir("hub-retrig")
    val out = tmpDir("hub-retrig-out")
    new java.io.File(s"$hub/raw").mkdirs()
    for (d <- Seq("2420-01-01", "2420-01-02"))
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$hub/raw/$d-team-model.csv"),
        "location,value\nearth,1.5\n")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$hub/raw/junk.txt"), "x")
    // first pass: normal adds
    HubTransform.addDirectory(spark, hub, "raw", out, schemaOverride = Some(new StructType()))
    val outFile = new java.io.File(s"$out/2420-01-01-team-model.parquet")
    val firstWrite = outFile.lastModified()
    val rawBefore = new java.io.File(s"$hub/raw/2420-01-01-team-model.csv").lastModified()

    Thread.sleep(1100) // ensure a visible mtime step (fs second granularity)
    val results = HubTransform.retriggerModelOutputAdd(
      spark, hub, "raw", out, Some(new StructType()))
    // every file touched + dispatched: the csvs re-add, junk.txt skips —
    // the same routing the reference Lambda applies to the re-fired events
    assert(results.count(_.action == "add") == 2)
    assert(results.count(_.action == "skip") == 1)
    // metadata touch: the RAW file's mtime advanced, content untouched
    assert(new java.io.File(s"$hub/raw/2420-01-01-team-model.csv").lastModified() > rawBefore)
    // the add really re-ran: the transformed output was rewritten
    assert(outFile.lastModified() > firstWrite)
    assert(spark.read.parquet(outFile.getAbsolutePath).count() == 1)
  }
}
