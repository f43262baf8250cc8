package graft.hub

import scala.collection.immutable.ListMap
import scala.util.{Failure, Success, Try}
import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.SparkException
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{input_file_name, lit, regexp_replace, typedLit}
import org.apache.spark.sql.graftbridge.ThreadBridge
import org.apache.spark.sql.types.StructType

import PathParser.UserWarning

/** Spark-native counterpart of the reference's `ModelOutputHandler`
  * (model_output.py:23) — one instance per model-output file:
  *
  *   parse path → derive schema from hub config → read CSV/parquet with
  *   null-normalization + cast → append/overwrite `round_id`/`model_id`
  *   constants → write `<file_name>.parquet` to the user-facing location
  *   (or delete its counterpart).
  *
  * Construction mirrors the reference `__init__` (model_output.py:65-128):
  * missing `tasks.json` is fatal, unsupported/missing file extension raises
  * [[PathParser.UserWarning]] (callers skip the file), un-parseable file
  * names raise `IllegalArgumentException`.
  *
  * @param schemaOverride test seam mirroring the reference's mocked
  *        `_get_schema` (conftest.py:119-201): bypasses tasks.json.
  */
final class ModelOutputHandler(
    spark: SparkSession,
    hubPath: String,
    moPath: String,
    outputPathRaw: String,
    schemaOverride: Option[StructType] = None) {

  import ModelOutputHandler.joinPaths

  val inputFile: String = PathParser.sanitizePath(joinPaths(hubPath, moPath))
  val outputPath: String = PathParser.sanitizePath(outputPathRaw)

  // the Hadoop conf of this handler's own steps (a batch hands every step
  // its one conf instead)
  private lazy val conf = spark.sessionState.newHadoopConf()

  val config: Option[HubConfig] =
    if (schemaOverride.isDefined) None else Some(ModelOutputHandler.loadConfig(hubPath, conf))

  val fileName: String = PathParser.stem(inputFile)
  val fileType: String = PathParser.suffix(inputFile)

  if (PathParser.suffix(joinPaths(hubPath, moPath)).isEmpty)
    throw new UserWarning("Input file has no extension")
  if (!PathParser.SupportedFileTypes(fileType))
    throw new UserWarning(s"Input file type $fileType is not supported")

  private val parts = PathParser.parseFile(fileName)
  val roundId: String = parts.roundId
  val modelId: String = parts.modelId

  def schema: StructType =
    schemaOverride.getOrElse(HubSchema.deriveSchema(config.get))

  /** op-1/2/3: schema-directed read with sentinel null-normalization (CSV)
    * or cast-on-read (parquet); the file is opened through `hadoopConf`.
    */
  def readFile(hadoopConf: Configuration = conf): DataFrame = {
    val raw = ModelOutputReader.rawSchema(spark, inputFile, fileType, hadoopConf)
    if (fileType == ".csv") ModelOutputReader.readCsv(spark, Seq(inputFile), raw, schema)
    else ModelOutputReader.readParquet(spark, Seq(inputFile), raw, schema)
  }

  /** op-8/9: constant `round_id`/`model_id` columns from the file name.
    * `withColumns` replaces in place (keeping column position) when the
    * column already exists, else appends in the map's order — exactly the
    * reference's dict-merge semantics (model_output.py:298-308), with
    * `lit()` instead of materialized arrays so Catalyst constant-folds it.
    * One call is one analyzer pass for both columns.
    */
  def addColumns(df: DataFrame): DataFrame =
    df.withColumns(ListMap("round_id" -> lit(roundId), "model_id" -> lit(modelId)))

  /** op-4: write exactly `<output_path>/<file_name>.parquet`. */
  def writeParquet(df: DataFrame): String =
    ModelOutputWriter.writeSingleParquet(df, outputPath, fileName)

  /** read → transform → write; returns the output path (add_model_output).
    * A batch of one on [[HubTransform]]'s batch path; a failure is thrown
    * as a `SparkException` carrying the file's error text.
    */
  def addModelOutput(): String = {
    val r = HubTransform.addAll(spark, conf, schema, Seq(moPath -> Success(this))).head
    r.outputPath.getOrElse(throw new SparkException(r.error.mkString))
  }

  /** op-5: delete the transformed counterpart (delete_model_output). */
  def deleteModelOutput(): Unit =
    ModelOutputWriter.deleteSingleParquet(spark, outputPath, fileName)
}

object ModelOutputHandler {

  /** `rel` resolved against `base`: absolute paths and URIs unchanged. */
  private[hub] def joinPaths(base: String, rel: String): String =
    if (rel.startsWith("/") || rel.contains("://")) rel
    else base.stripSuffix("/") + "/" + rel

  /** The hub's `tasks.json`; a missing or unreadable one is fatal
    * (model_output.py:105-106).
    */
  private[hub] def loadConfig(hubPath: String, conf: Configuration): HubConfig =
    HubConfig.load(hubPath, conf).getOrElse(throw new java.io.FileNotFoundException(
      s"could not read tasks.json for hub_path=$hubPath"))

  /** Factory mirroring `ModelOutputHandler.from_s3` (model_output.py:137-189).
    * Paths keep the reference's quirks (only the first `originPrefix`
    * segment dropped; destination `"."` for files directly under the prefix).
    */
  def fromS3(
      spark: SparkSession,
      bucketName: String,
      s3Key: String,
      originPrefix: String = "raw",
      scheme: String = "s3a"): ModelOutputHandler = {
    val p = PathParser.fromS3(bucketName, s3Key, originPrefix)
    new ModelOutputHandler(
      spark,
      p.hubPath.replace("s3://", s"$scheme://"),
      p.moPath,
      p.outputPath.replace("s3://", s"$scheme://"))
  }
}

/** Event-driven entry points mirroring the reference Lambda dispatch
  * (faas/lambda_function.py:22-62): one storage event = one file;
  * `UserWarning`s and other per-file failures are logged and skipped so a
  * bad file never takes down the pipeline.
  *
  * Every add (an event, a backfill, a re-trigger, a stream batch, one
  * handler's [[ModelOutputHandler.addModelOutput]]) runs the one batch
  * path, [[addFiles]]: the hub config is loaded and the schema derived
  * once, the files are planned once per raw-schema group (files of one
  * kind whose header or footer gives the same raw schema), and all of them
  * are written in one Spark job of one task per file
  * ([[ModelOutputWriter.write]]). An event is its batch of one: a group of
  * one file, one task.
  */
object HubTransform {

  /** One file's outcome; an add also carries the rows its task wrote and
    * how many of them have a null `output_type_id` after normalization,
    * counted as the task writes (no second job, no extra scan).
    */
  final case class EventResult(key: String, action: String, outputPath: Option[String], error: Option[String],
      rowsWritten: Long = 0L, nullOutputTypeIds: Long = 0L)

  /** `UserWarning` → skip the file; any other failure → error. */
  private def failed(key: String, e: Throwable): EventResult = e match {
    case w: UserWarning => EventResult(key, "skip", None, Some(w.getMessage))
    case _              => EventResult(key, "error", None, Some(ModelOutputWriter.describe(e)))
  }

  def handleEvent(
      spark: SparkSession,
      eventName: String,
      bucketName: String,
      s3Key: String,
      originPrefix: String = "raw",
      scheme: String = "s3a"): EventResult = {
    val key = PathParser.unquote(s3Key) // S3 keys arrive URL-encoded (lambda_function.py:31)
    try {
      val p = PathParser.fromS3(bucketName, key, originPrefix)
      dispatch(
        spark, eventName,
        p.hubPath.replace("s3://", s"$scheme://"),
        p.moPath,
        p.outputPath.replace("s3://", s"$scheme://"))
    } catch { case NonFatal(e) => failed(key, e) }
  }

  /** Verb dispatch with explicit paths (the reference's lambda_handler body):
    * `objectcreated` → add (a batch of one), `objectremoved` → delete,
    * anything else → skip; `UserWarning` → skip the file; other failures →
    * logged error, no rethrow.
    */
  def dispatch(
      spark: SparkSession,
      eventName: String,
      hubPath: String,
      moPath: String,
      outputPath: String,
      schemaOverride: Option[StructType] = None): EventResult = {
    val verb = eventName.toLowerCase
    if (verb.contains("objectcreated"))
      addFiles(spark, spark.sessionState.newHadoopConf(), hubPath, Seq(moPath), outputPath, schemaOverride).head
    else if (verb.contains("objectremoved"))
      try {
        new ModelOutputHandler(spark, hubPath, moPath, outputPath, schemaOverride).deleteModelOutput()
        EventResult(moPath, "delete", None, None)
      } catch { case NonFatal(e) => failed(moPath, e) }
    else EventResult(moPath, "skip", None, Some(s"unsupported event $eventName"))
  }

  /** Local/library entry (reference README.md:19-36): transform one file. */
  def add(
      spark: SparkSession,
      hubPath: String,
      moPath: String,
      outputPath: String,
      schemaOverride: Option[StructType] = None): String =
    new ModelOutputHandler(spark, hubPath, moPath, outputPath, schemaOverride).addModelOutput()

  /** Batch backfill: transform every supported file under a directory —
    * the engine equivalent of the reference's re-trigger ops script
    * (faas/lambda_retrigger_model_output_add.py:13-62). The files, listed
    * once by [[rawFiles]]' `listStatus` walk, are ONE batch of
    * [[addFiles]]: skips and errors are reported per file exactly as
    * [[dispatch]] reports them, and every file is written by one task of
    * one Spark job, which the scheduler spreads across executors, largest
    * file first. This is how the one-file-out contract scales to thousands
    * of files: across files, not within one (see SCALE.md). There is no
    * driver thread pool; the headers and footers are read concurrently on
    * the global execution context, and the files are planned once per
    * raw-schema group, so the job's task binary holds one plan per group
    * and each task's file travels in its own partition. No file's
    * listing, read or write starts an OS process (see
    * [[ModelOutputWriter]]).
    *
    * Measured (local[4], 3 GB heap, N typed two-column CSVs of 200 rows,
    * second of two backfills; per-file plans → per-group plans): wall
    * 2.61 → 0.82 s at 58 files, 13.40 → 2.39 s at 400, 230.0 → 6.83 s at
    * 2,000; op start to job start 1.71 → 0.20 s, 6.74 → 0.35 s,
    * 23.16 → 0.88 s; summed task time outside `executorRunTime`
    * 1.91 → 0.72 s, 23.93 → 3.02 s, 821.7 → 10.51 s. The per-file plans'
    * task binary was 4.3 MiB at 400 files and 21.5 MiB at 2,000 (Spark's
    * "Broadcasting large task binary"); per group, that warning never
    * shows.
    *
    * @param parallelism unused: Spark schedules the one write job. Kept so
    *        callers that pass it by name still compile.
    */
  def addDirectory(
      spark: SparkSession,
      hubPath: String,
      rawDir: String,
      outputPath: String,
      parallelism: Int = 8,
      schemaOverride: Option[StructType] = None): Seq[EventResult] = {
    val (conf, _, files) = rawFiles(spark, hubPath, rawDir)
    addFiles(spark, conf, hubPath, files, outputPath, schemaOverride)
  }

  /** The whole hub as ONE queryable DataFrame: every supported
    * model-output file under `hubPath/<rawDir>`, read with reference
    * semantics (schema-directed read, null normalization, path-derived
    * `round_id`/`model_id` constants) and unioned by name — files may
    * carry different un-schema'd columns; missing ones are null.
    *
    * `roundIds`/`modelIds` predicates prune FILES on the driver before
    * anything is read (the partition-pruning shape for path-encoded
    * metadata — the file list is the partition index). Unparseable or
    * unsupported files are skipped, mirroring the event loop.
    *
    * Scale: files are scanned in BULK — one FileSourceScan per group of
    * like-shaped files (grouped by the raw schema read from each file's own
    * CSV header or parquet footer, [[ModelOutputReader.rawSchema]]), not a
    * per-file union chain, so a thousand-file hub plans a handful of scans
    * whose splits schedule across executors. Each group is scanned with its
    * raw schema, so building the DataFrame runs no schema-inference job.
    * `round_id`/`model_id` come from `input_file_name()` looked up in a
    * driver-built literal (path → id) map per scan group — [[PathParser]]
    * stays the single parsing implementation, and no join is planned.
    * The map lookup scans its keys, so its per-row cost grows with the
    * group's file count: unmeasurable at 60 files, about 1.7 µs per row
    * at 1000 files (4 cores). Building the DataFrame runs a job in two
    * cases. CSV type inference for un-schema'd columns runs once per group
    * (over the group's union, matching what the former per-file union
    * would widen to), only when the hub schema leaves a CSV column
    * untyped. And a group of more than 32 files
    * (`spark.sql.sources.parallelPartitionDiscovery.threshold`) is listed
    * by Spark's file index with a parallel listing job, which lists again
    * the files [[rawFiles]] already listed.
    * For standing workloads, transform once and query the parquet store
    * partitioned by (round_id, model_id) instead of re-scanning raw CSV.
    */
  def readHub(
      spark: SparkSession,
      hubPath: String,
      rawDir: String = "raw",
      roundIds: Seq[String] = Nil,
      modelIds: Seq[String] = Nil,
      schemaOverride: Option[StructType] = None): DataFrame = {
    val (conf, _, files) = rawFiles(spark, hubPath, rawDir)
    val selected = files.flatMap { f =>
      val suffix = PathParser.suffix(f)
      if (!PathParser.SupportedFileTypes(suffix)) None
      else scala.util.Try(PathParser.parseFile(PathParser.stem(f))).toOption
        .filter(p =>
          (roundIds.isEmpty || roundIds.contains(p.roundId)) &&
            (modelIds.isEmpty || modelIds.contains(p.modelId)))
        .map(p => (f, suffix, p))
    }
    val schema = schemaOverride.getOrElse(HubSchema.deriveSchema(ModelOutputHandler.loadConfig(hubPath, conf)))
    // round_id/model_id set from the group's literal path → id map over
    // input_file_name(): withColumns replaces a column the read already
    // carries (the derived schema has both) and appends it otherwise, as
    // ModelOutputHandler.addColumns does for one file
    def withPathMeta(df: DataFrame, group: Seq[(String, String, PathParser.FileParts)]): DataFrame = {
      val file = regexp_replace(input_file_name(), "^file:/+", "/")
      def idOf(id: PathParser.FileParts => String) =
        typedLit(group.map { case (f, _, p) => f.replaceFirst("^file:/+", "/") -> id(p) }.toMap).apply(file)
      df.withColumns(ListMap("round_id" -> idOf(_.roundId), "model_id" -> idOf(_.modelId)))
    }

    // group key = the file's raw schema from its own header or footer
    // (ModelOutputReader.rawGroups, independent metadata reads run
    // concurrently); each group is scanned with that schema, so no scan
    // runs an inference job. CSV groups come first, then parquet.
    val (unread, groups) = ModelOutputReader.rawGroups(spark, conf, selected)(_._1)
    unread.headOption.foreach(u => throw u._2)
    val parts = groups.map { g =>
      val paths = g.members.map(_._1._1)
      withPathMeta(
        if (g.isCsv) ModelOutputReader.readCsv(spark, paths, g.fileSchema, schema)
        else ModelOutputReader.readParquet(spark, paths, g.fileSchema, schema),
        g.members.map(_._1))
    }
    parts
      .reduceOption((a, b) => a.unionByName(b, allowMissingColumns = true))
      .getOrElse(withPathMeta(
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema), Nil))
  }

  /** Force re-trigger of the add pipeline over every file under
    * `<hubPath>/<rawDir>` — the engine equivalent of the reference's
    * metadata-touch ops script (faas/lambda_retrigger_model_output_add.py:
    * 35-53: rewrite each object's metadata with a `manual-update`
    * timestamp via copy-with-REPLACE so S3 emits a fresh
    * `ObjectCreated:Copy` event and the Lambda re-runs).
    *
    * The filesystem translation does both halves of that trick
    * faithfully: each file's modification time is touched (the metadata
    * update — content untouched, exactly like the script), and the adds
    * are re-run as ONE batch of [[addFiles]], the path every add event
    * takes. Unsupported/unparseable files flow through its skip path,
    * mirroring the Lambda re-processing everything the script touched.
    *
    * @return per-file results; touched-file count == results count
    */
  def retriggerModelOutputAdd(
      spark: SparkSession,
      hubPath: String,
      rawDir: String = "raw",
      outputPath: String,
      schemaOverride: Option[StructType] = None): Seq[EventResult] = {
    val (conf, fs, files) = rawFiles(spark, hubPath, rawDir)
    val now = System.currentTimeMillis()
    files.foreach(f => fs.setTimes(new Path(f), now, -1)) // metadata touch
    addFiles(spark, conf, hubPath, files, outputPath, schemaOverride)
  }

  /** The one add path. The schema is derived once (the hub config loaded
    * with `conf` unless `schemaOverride` is given); if that fails, it is
    * every file's error, as a handler's constructor reports it before it
    * looks at the file. Each file then gets its handler: a skip or a parse
    * error is reported as [[dispatch]] reports it. The rest are planned and
    * written in one job by [[addAll]]. Results are in `moPaths` order, each
    * keyed by its path.
    */
  private[graft] def addFiles(spark: SparkSession, conf: Configuration, hubPath: String, moPaths: Seq[String],
      outputPath: String, schemaOverride: Option[StructType]): Seq[EventResult] = {
    val schema = Try(schemaOverride.getOrElse(HubSchema.deriveSchema(ModelOutputHandler.loadConfig(hubPath, conf))))
    addAll(spark, conf, schema.getOrElse(new StructType()), moPaths.map(p =>
      p -> schema.map(s => new ModelOutputHandler(spark, hubPath, p, outputPath, Some(s)))))
  }

  /** Every handler's file read under `schema`, transformed and written by
    * one [[ModelOutputWriter.write]] (one Spark job, one task per file); a
    * handler that failed is that file's skip or error.
    *
    * The files are planned per raw-schema group, not per file: their
    * headers and footers are read concurrently and grouped
    * ([[ModelOutputReader.rawGroups]]), and each group is one scan and one
    * projection whose partition i reads and writes the group's file i
    * ([[ModelOutputReader.readFiles]]). A file's failed header read is its
    * own error; a failure of its group's plan is each of its files' error.
    */
  private[hub] def addAll(spark: SparkSession, conf: Configuration, schema: StructType,
      handlers: Seq[(String, Try[ModelOutputHandler])]): Seq[EventResult] = {
    val (unread, groups) =
      ModelOutputReader.rawGroups(spark, conf, handlers.collect { case (_, Success(h)) => h })(_.inputFile)
    val plans = ThreadBridge.parMap(spark, groups)(g =>
      ModelOutputReader.readFiles(spark, conf, g, schema)(h => (h.roundId, h.modelId))).flatten
    val written = ModelOutputWriter.write(spark, conf, plans.map { case (df, members) =>
      df -> members.map { case (h, files) => ModelOutputWriter.Target(h.outputPath, h.fileName, files.map(_.getLen).sum) }
    })
    val outcome = unread.map { case (h, e) => h -> Left(ModelOutputWriter.describe(e)) }.toMap ++
      plans.zip(written).flatMap { case ((_, members), ws) => members.map(_._1).zip(ws) }
    handlers.map {
      case (key, Failure(e)) => failed(key, e)
      case (key, Success(h)) => outcome(h).fold(e => EventResult(key, "error", None, Some(e)),
        w => EventResult(key, "add", Some(w.path), None, w.rows, w.nullCounts.getOrElse("output_type_id", 0L)))
    }
  }

  /** Every file under `<hubPath>/<rawDir>` (recursive, sorted) with the
    * directory's file system and the Hadoop conf the caller's later steps
    * share; no files when the directory is missing.
    * Local Hadoop paths stringify as "file:/..." — stripped so path
    * joining and stem parsing see a plain absolute path; remote schemes
    * ("s3a://...") keep their authority form.
    *
    * The walk is `listStatus`, one call per directory, which reads no
    * permission. `listFiles` would build a `LocatedFileStatus` per entry,
    * and that reads the entry's permission: on the local file system
    * without libhadoop, one forked `ls -ld` process per listed file.
    */
  private def rawFiles(
      spark: SparkSession, hubPath: String, rawDir: String): (Configuration, FileSystem, Seq[String]) = {
    val conf = spark.sessionState.newHadoopConf()
    val dir = new Path(PathParser.sanitizePath(ModelOutputHandler.joinPaths(hubPath, rawDir)))
    val fs = dir.getFileSystem(conf)
    def walk(p: Path): Seq[String] = fs.listStatus(p).toSeq.flatMap { s =>
      if (s.isDirectory) walk(s.getPath) else Seq(s.getPath.toString.stripPrefix("file:"))
    }
    (conf, fs, if (fs.exists(dir)) walk(dir).sorted else Nil)
  }
}
