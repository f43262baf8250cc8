package graft.hub

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import scala.jdk.CollectionConverters._
import scala.util.Try
import scala.util.control.NonFatal

import org.apache.hadoop.fs.{FileStatus, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.TaskContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.OutputWriterFactory
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.graftbridge.WriteBridge
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration

/** Single-file, exact-name parquet sink + delete (SURVEY.md §2 ops 4-5).
  *
  * The reference writes `<output_path>/<file_name>.parquet`
  * (model_output.py:312-322) — one file in, one file out. The write is one
  * Spark job of one task: the task writes the parquet file with Spark's own
  * parquet writer (same codec, write support and footer metadata as
  * `df.write.parquet`) straight to a hidden sibling of the target, and one
  * rename via the Hadoop FileSystem then replaces the target (works for
  * file:// and s3a://). No write command, commit protocol,
  * `_temporary` tree or `_SUCCESS` marker is involved. The task also counts
  * the rows it wrote and the nulls of each column, so the caller's metrics
  * need no second pass. A failed write deletes its hidden files and leaves
  * an earlier output of the same name untouched. (Unlike a commit
  * protocol's `_temporary` tree, the file of an attempt whose executor died
  * stays behind when a retry then succeeds; it is a dot file, which Spark
  * and pyarrow readers skip.)
  *
  * Per-file cost: a local temp file is created through
  * [[NioLocalFileSystem]], registered in the write job's own Hadoop conf
  * only (`fs.file.impl`, uncached). It writes no `.crc` sidecar and sets the
  * file's mode through NIO, where Hadoop's checksummed local file system
  * forks a `chmod` process for the file and another for its `.crc` when
  * libhadoop is not loaded. The prepared conf reaches the task as one
  * broadcast, not inside the task closure, which would serialize it twice
  * on the driver and deserialize it in the task.
  *
  * Scale note: the one-file-per-input contract is the reference's API, so the
  * `coalesce(1)` here is semantic, not accidental — each model-output file is
  * small (Lambda envelope). Bulk backfills parallelize across files, not
  * within one.
  */
object ModelOutputWriter {

  /** One written file: its path, its row count and each column's null count. */
  private[hub] final case class Written(path: String, rows: Long, nullCounts: Map[String, Long])

  /** Write `df` as exactly `<outputDir>/<fileName>.parquet`; returns the path. */
  def writeSingleParquet(df: DataFrame, outputDir: String, fileName: String): String =
    write(df, outputDir, fileName).path

  private[hub] def write(df: DataFrame, outputDir: String, fileName: String): Written = {
    val spark = df.sparkSession
    val schema = df.schema
    val format = new ParquetFileFormat()
    WriteBridge.checkWritable(spark, format, schema)
    val conf = spark.sessionState.newHadoopConf()
    val job = Job.getInstance(conf)
    // the task's file:// file system, in this job's conf only; uncached, so
    // no other user of the FileSystem cache gets it
    job.getConfiguration.set("fs.file.impl", classOf[NioLocalFileSystem].getName)
    job.getConfiguration.setBoolean("fs.file.impl.disable.cache", true)
    val factory = format.prepareWrite(spark, job, Map.empty, schema)
    val outDir = new Path(outputDir)
    // the session's file system: for file:// it is checksummed, so deleting
    // the target also drops a `.crc` an older writer may have left beside it
    val fs = outDir.getFileSystem(conf)
    val target = new Path(outDir, s"$fileName.parquet")
    val tmpName = s".tmp-graft-$fileName-${java.util.UUID.randomUUID}"
    val tmpStem = new Path(outDir, tmpName).toString
    // coalesce(1) plans exactly one partition, also for an input without
    // any, so one task writes one file even when there are no rows
    val qe = df.coalesce(1).queryExecution
    val taskConf = spark.sparkContext.broadcast(new SerializableConfiguration(job.getConfiguration))
    try {
      // as a named SQL execution, the job carries an execution id, its tasks
      // see the session's SQL conf, and QueryExecutionListeners hear of it
      val (tmp, rows, nulls) = SQLExecution.withNewExecutionId(qe, Some("writeSingleParquet")) {
        spark.sparkContext.runJob(
          qe.toRdd, writeTask(factory, schema, taskConf, tmpStem) _).head
      }
      fs.delete(target, false)
      if (!fs.rename(new Path(tmp), target))
        throw new IllegalStateException(s"rename $tmp -> $target failed")
      Written(target.toString, rows, schema.fieldNames.zip(nulls).toMap)
    } catch {
      case NonFatal(e) =>
        // what a lost attempt left (listed, not globbed: the name may hold
        // glob characters)
        Try(fs.listStatus(outDir)).getOrElse(Array.empty[FileStatus])
          .filter(_.getPath.getName.startsWith(tmpName)).foreach(s => fs.delete(s.getPath, false))
        throw e
    } finally taskConf.destroy()
  }

  /** The one task: write `rows` to a file named for this attempt (so a
    * retried or speculative attempt never collides with another) and count
    * rows and per-column nulls on the way. A failed or killed attempt
    * deletes its own file.
    */
  private def writeTask(factory: OutputWriterFactory, schema: StructType,
      conf: Broadcast[SerializableConfiguration], tmpStem: String)(
      ctx: TaskContext, rows: Iterator[InternalRow]): (String, Long, Array[Long]) = {
    val hadoopConf = conf.value.value
    val attempt = new TaskAttemptID(
      new TaskID(new JobID("graft", ctx.stageId()), TaskType.MAP, ctx.partitionId()), ctx.attemptNumber())
    val path = s"$tmpStem-${ctx.attemptNumber()}.parquet"
    val writer = factory.newInstance(path, schema, new TaskAttemptContextImpl(hadoopConf, attempt))
    val nulls = new Array[Long](schema.length)
    var n = 0L
    try {
      while (rows.hasNext) {
        val r = rows.next()
        var i = 0
        while (i < nulls.length) {
          if (r.isNullAt(i)) nulls(i) += 1
          i += 1
        }
        writer.write(r)
        n += 1
      }
      writer.close()
    } catch {
      case NonFatal(e) =>
        Try(writer.close())
        val p = new Path(path)
        p.getFileSystem(hadoopConf).delete(p, false)
        throw e
    }
    (path, n, nulls)
  }

  /** Delete `<outputDir>/<fileName>.parquet`; missing file → UserWarning
    * (reference delete_model_output, model_output.py:333-340).
    */
  def deleteSingleParquet(
      spark: org.apache.spark.sql.SparkSession,
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
