package graft.hub

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import scala.jdk.CollectionConverters._
import scala.util.Try
import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.{SparkException, TaskContext}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.UnionRDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.{OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.graftbridge.{ThreadBridge, WriteBridge}
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration

/** Single-file, exact-name parquet sink + delete (SURVEY.md §2 ops 4-5).
  *
  * The reference writes `<output_path>/<file_name>.parquet`
  * (model_output.py:312-322) — one file in, one file out. [[write]] writes
  * a batch of such files as ONE Spark job over a few plans, where partition
  * i of a plan writes that plan's file i; [[writeSingleParquet]] is its
  * batch of one (`df.coalesce(1)`, one file). Each task writes its parquet
  * file with Spark's own parquet writer (same codec, write support and
  * footer metadata as `df.write.parquet`) straight to a hidden sibling of
  * its target, and the driver then renames each file into place via the
  * Hadoop FileSystem (works for file:// and s3a://). No write command,
  * commit protocol, `_temporary` tree or `_SUCCESS` marker is involved.
  * Each task also counts the rows it wrote and the nulls of each column, so
  * the caller's metrics need no second pass.
  *
  * A failure is the file's own: a task catches its write failure, deletes
  * its file and returns the error, so one bad file does not fail the batch,
  * and a failed file leaves an earlier output of the same name untouched.
  * Such a task is not retried (a lost executor still is). (Unlike a commit
  * protocol's `_temporary` tree, the file of an attempt whose executor died
  * stays behind when a retry then succeeds; it is a dot file, which Spark
  * and pyarrow readers skip.)
  *
  * Per-batch cost: the plans are planned once each and unioned into one
  * job, whose task binary holds every plan once; what differs per task
  * (its input file, inside its partition; its temp file and writer, in the
  * broadcast) is not in that binary, so a task deserializes the same bytes
  * whatever the batch's size. A hub batch brings one plan per raw-schema
  * group ([[ModelOutputReader.readFiles]]), not one per file, which is why
  * it scans the files itself: a `spark.read` scan packs and splits files
  * into partitions as it sees fit, while here partition i must be exactly
  * file i. (`readHub`'s query has the opposite needs: pruning, pushdown and
  * packing, so it keeps `spark.read`.) Tasks are launched largest input
  * first. One Hadoop conf is prepared per distinct output schema
  * (`prepareWrite` writes the row schema into it), all sent to the tasks as
  * one broadcast rather than inside the task closure. A local temp file is
  * created through [[NioLocalFileSystem]], registered in those confs only
  * (`fs.file.impl`, uncached). It writes no `.crc` sidecar and sets the
  * file's mode through NIO, where Hadoop's checksummed local file system
  * forks a `chmod` process for the file and another for its `.crc` when
  * libhadoop is not loaded.
  *
  * Scale note: the one-file-per-input contract is the reference's API, so
  * one task per file is semantic, not accidental — each model-output file
  * is small (Lambda envelope). A batch parallelizes across files, one task
  * each, not within one.
  */
object ModelOutputWriter {

  /** One written file: its path, its row count and each column's null count. */
  private[hub] final case class Written(path: String, rows: Long, nullCounts: Map[String, Long])

  /** What a write task returns: its temp file, rows and per-column nulls. */
  private type TaskResult = (String, Long, Array[Long])

  /** A failure as a per-file result reports it. */
  private[hub] def describe(e: Throwable): String = s"${e.getClass.getSimpleName}: ${e.getMessage}"

  /** One output file, `<outputDir>/<fileName>.parquet`, and the bytes of
    * the input its task reads, which orders the tasks.
    */
  private[hub] final case class Target(outputDir: String, fileName: String, inputBytes: Long = 0L)

  /** Write `df` as exactly `<outputDir>/<fileName>.parquet`; returns the path. */
  def writeSingleParquet(df: DataFrame, outputDir: String, fileName: String): String =
    write(df.sparkSession, df.sparkSession.sessionState.newHadoopConf(),
      Seq((() => df.coalesce(1), Seq(Target(outputDir, fileName))))).head.head.fold(e => throw new SparkException(e), _.path)

  /** Write every plan's targets in one Spark job: partition i of a plan
    * writes its target i as exactly `<outputDir>/<fileName>.parquet`. Each
    * plan is built (by its function) and planned on the driver,
    * concurrently on the global execution context; one that fails, or does
    * not have one partition per target, is each of its targets' error. The
    * job runs its tasks largest input first, so the biggest files do not
    * finish in the last wave. Returns, per plan and target in input order,
    * the written file or its error text (`<SimpleClassName>: <message>` of
    * the exception that failed it).
    */
  private[hub] def write(spark: SparkSession, conf: Configuration,
      plans: Seq[(() => DataFrame, Seq[Target])]): Seq[Seq[Either[String, Written]]] = {
    val format = new ParquetFileFormat()
    // an input whose plan shuffles runs its adaptive query stages while it
    // is planned here, outside the write's SQL execution
    val planned = ThreadBridge.parMap(spark, plans) { case (df, targets) =>
      Try {
        val d = df()
        WriteBridge.checkWritable(spark, format, d.schema)
        val parts = d.queryExecution.toRdd.getNumPartitions
        if (parts != targets.size)
          throw new IllegalStateException(s"plan has $parts partitions for ${targets.size} files")
        (d.schema, d.queryExecution)
      }
    }
    val live = plans.indices.filter(planned(_).isSuccess)
    // partition k of the job's union: its plan's schema and its target
    val slots = live.flatMap(i => plans(i)._2.map(planned(i).get._1 -> _))
    val schemas = slots.map(_._1).distinct
    val tmps = slots.map { case (_, t) => new Path(t.outputDir, s".tmp-graft-${t.fileName}-${java.util.UUID.randomUUID}") }
    val out: Seq[Either[String, TaskResult]] = if (slots.isEmpty) Nil else try {
      val prepared = schemas.map { schema =>
        val job = Job.getInstance(conf)
        // the task's file:// file system, in this job's conf only; uncached,
        // so no other user of the FileSystem cache gets it
        job.getConfiguration.set("fs.file.impl", classOf[NioLocalFileSystem].getName)
        job.getConfiguration.setBoolean("fs.file.impl.disable.cache", true)
        (format.prepareWrite(spark, job, Map.empty, schema), schema, new SerializableConfiguration(job.getConfiguration))
      }
      // each task's writer and temp file reach it in the broadcast, which
      // an executor fetches once, not in the task closure every task
      // deserializes
      val tasks = slots.zip(tmps).map { case ((schema, _), tmp) => (schemas.indexOf(schema), tmp.toString) }
      val shared = spark.sparkContext.broadcast((prepared.toArray, tasks.toArray))
      val order = slots.indices.sortBy(k => -slots(k)._2.inputBytes)
      // as a named SQL execution, the job carries an execution id, its tasks
      // see the session's SQL conf, and QueryExecutionListeners hear of it;
      // the union keeps each plan's partitions, so task k writes slot k. Its
      // task binary holds each plan once; a task's own file travels in its
      // partition
      val results = try SQLExecution.withNewExecutionId(planned(live.head).get._2, Some("writeSingleParquet")) {
        spark.sparkContext.runJob(new UnionRDD(spark.sparkContext, live.map(planned(_).get._2.toRdd)),
          writeTask(shared) _, order)
      } finally shared.destroy()
      order.zip(results).sortBy(_._1).map(_._2)
    } catch { case NonFatal(e) => slots.map(_ => Left(describe(e))) }
    val done = slots.indices.map { k =>
      val Target(outputDir, fileName, _) = slots(k)._2
      val target = new Path(outputDir, s"$fileName.parquet")
      // the session's file system: for file:// it is checksummed, so deleting
      // the target also drops a `.crc` an older writer may have left beside it
      val fs = target.getFileSystem(conf)
      out(k).flatMap { case (tmp, rows, nulls) =>
        Try {
          fs.delete(target, false)
          if (!fs.rename(new Path(tmp), target)) throw new IllegalStateException(s"rename $tmp -> $target failed")
          Written(target.toString, rows, slots(k)._1.fieldNames.zip(nulls).toMap)
        }.toEither.left.map(describe)
      }.left.map { e =>
        // what a failed or lost attempt left (listed, not globbed: the name
        // may hold glob characters)
        Try(fs.listStatus(tmps(k).getParent)).getOrElse(Array.empty[FileStatus])
          .filter(_.getPath.getName.startsWith(tmps(k).getName)).foreach(s => Try(fs.delete(s.getPath, false)))
        e
      }
    }.iterator
    plans.indices.map(i => planned(i).fold(e => plans(i)._2.map(_ => Left(describe(e))), _ => plans(i)._2.map(_ => done.next())))
  }

  /** Task k of the batch: write its rows, with the writer prepared for its
    * schema (shared by every task of that schema), to a file named for this
    * attempt (so a retried or speculative attempt never collides with
    * another) and count rows and per-column nulls on the way. A failure
    * deletes the attempt's file and is returned, not thrown.
    */
  private def writeTask(
      shared: Broadcast[(Array[(OutputWriterFactory, StructType, SerializableConfiguration)], Array[(Int, String)])])(
      ctx: TaskContext, rows: Iterator[InternalRow]): Either[String, TaskResult] = {
    val (k, tmpStem) = shared.value._2(ctx.partitionId())
    val (factory, schema, conf) = shared.value._1(k)
    val hadoopConf = conf.value
    val attempt = new TaskAttemptID(
      new TaskID(new JobID("graft", ctx.stageId()), TaskType.MAP, ctx.partitionId()), ctx.attemptNumber())
    val path = s"$tmpStem-${ctx.attemptNumber()}.parquet"
    val nulls = new Array[Long](schema.length)
    var n = 0L
    var writer: OutputWriter = null
    try {
      writer = factory.newInstance(path, schema, new TaskAttemptContextImpl(hadoopConf, attempt))
      while (rows.hasNext) {
        val r = rows.next()
        nulls.indices.foreach(i => if (r.isNullAt(i)) nulls(i) += 1)
        writer.write(r)
        n += 1
      }
      writer.close()
      Right((path, n, nulls))
    } catch {
      case NonFatal(e) =>
        if (writer != null) Try(writer.close())
        Try { val p = new Path(path); p.getFileSystem(hadoopConf).delete(p, false) }
        Left(describe(e))
    }
  }

  /** Delete `<outputDir>/<fileName>.parquet`; missing file → UserWarning
    * (reference delete_model_output, model_output.py:333-340).
    */
  def deleteSingleParquet(
      spark: SparkSession,
      outputDir: String,
      fileName: String): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val target = new Path(new Path(outputDir), s"$fileName.parquet")
    val fs = target.getFileSystem(conf)
    if (!fs.exists(target) || !fs.delete(target, false))
      throw new PathParser.UserWarning("Model output file not found for deletion")
  }
}

/** Hadoop's raw local file system with `setPermission` done through NIO.
  * Without libhadoop, [[RawLocalFileSystem]] forks a `chmod` process per
  * call, and `create` calls it for every new file. Being raw, it writes no
  * `.crc` sidecar. Only the model-output write task uses it, through its
  * job's own Hadoop conf.
  */
private[hub] final class NioLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    // PosixFilePermission lists owner, group, others, each r/w/x: mode bits 8 down to 0
    val bits = permission.toShort & 0x1ff
    val all = PosixFilePermission.values
    Files.setPosixFilePermissions(pathToFile(p).toPath,
      all.indices.filter(i => (bits & (1 << (8 - i))) != 0).map(all(_)).toSet.asJava)
  }
}
