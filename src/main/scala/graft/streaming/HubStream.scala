package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

import graft.hub.HubTransform

/** Directory-watch mode for the hub transform: the streaming equivalent of
  * the reference's S3-event → Lambda loop (SURVEY.md §2.8). A file source
  * discovers new model-output files under `raw/`, and each micro-batch's
  * files run the SAME batch path as a backfill (`HubTransform.addFiles`:
  * one write job, one task per file), so a stream differs from a backfill
  * only in how it finds files — deletes stay an explicit API call, exactly
  * like the reference, because file sources cannot observe removals.
  *
  * The stream is a control plane over file NAMES (binaryFile source with
  * the content column pruned away) — payload bytes are only read by the
  * per-file transform itself. Checkpointing makes discovery exactly-once
  * across restarts.
  */
object HubStream {

  /** Process every new file under `<hubPath>/<rawDir>` exactly once
    * (Trigger.AvailableNow — returns when caught up). Call repeatedly (or
    * swap the trigger for ProcessingTime) for continuous watch.
    */
  def processNewFiles(
      spark: SparkSession,
      hubPath: String,
      rawDir: String,
      outputPath: String,
      checkpoint: String,
      schemaOverride: Option[StructType] = None): Seq[HubTransform.EventResult] = {
    val results = scala.collection.mutable.ArrayBuffer.empty[HubTransform.EventResult]
    val binaryFileSchema = StructType(Seq(
      org.apache.spark.sql.types.StructField("path", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("modificationTime", org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("length", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("content", org.apache.spark.sql.types.BinaryType),
    ))
    val files = spark.readStream
      .format("binaryFile")
      .schema(binaryFileSchema)
      .load(s"${hubPath.stripSuffix("/")}/$rawDir/*")
      .select(col("path"), col("length")) // content column pruned — names only

    val q = files.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        // file list is control-plane metadata (one row per new file)
        val paths = batch.select("path").collect().map(_.getString(0).stripPrefix("file:")).sorted
        results ++= HubTransform.addFiles(
          spark, spark.sessionState.newHadoopConf(), hubPath, paths.toSeq, outputPath, schemaOverride)
        ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    results.toSeq
  }
}
