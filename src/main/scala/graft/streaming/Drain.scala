package graft.streaming

import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

/** The one drain every file-fed stream in this package runs: a parquet
  * file source read one file per micro-batch (`maxFilesPerTrigger=1`, so
  * every trigger split the specs pin is really exercised), drained with
  * `Trigger.AvailableNow` until no input is left, the caller's step
  * applied per batch inside `foreachBatch`.
  *
  * Three forms:
  *  - [[loop]] threads state through the steps and may resume from a
  *    used checkpoint;
  *  - [[fold]] is [[loop]] behind the fresh-checkpoint guard;
  *  - [[rows]] is [[fold]] for streams that emit rows per batch: each
  *    batch's rows are materialized once and the parts unioned once at
  *    the end, in arrival order (re-checkpointing a growing union per
  *    batch would copy O(batches²) rows). When no file arrived, the
  *    result is the step applied to an empty batch of the feed schema, so
  *    an empty feed has the same columns as a one-file run.
  *
  * Guard policy: a file-source checkpoint skips already-committed batches
  * on resume, but state held in the driver restarts from scratch, so a
  * stream whose result lives in driver memory would silently return only
  * the new batches; [[fold]] and [[rows]] refuse a used checkpoint for
  * that reason. Only streams whose output is durable or whose state the
  * caller passes in use [[loop]] and stay resumable: the index ingests
  * ([[VectorServeStream.ingestIvfBatches]] and its PQ/LSH siblings) and
  * [[CdcMergeStream]]'s two runs ([[HubStream]]'s binary-file watch,
  * whose transform outputs are durable, keeps its own loop).
  */
object Drain {

  /** Drain `dir` (parquet files of `schema`) one file per micro-batch,
    * folding `step(state, batch, batchId)` from `init`; returns the final
    * state. No checkpoint guard: the caller's state must survive a resume.
    */
  def loop[S](spark: SparkSession, dir: String, schema: StructType, checkpoint: String)(
      init: S)(step: (S, DataFrame, Long) => S): S = {
    val state = new AtomicReference[S](init)
    spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir)
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        state.set(step(state.get, batch, batchId))
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
      .awaitTermination()
    state.get
  }

  /** [[loop]] for state held in driver memory: refuses a checkpoint that
    * already holds committed batches. `init` is evaluated after that check.
    */
  def fold[S](spark: SparkSession, dir: String, schema: StructType, checkpoint: String)(
      init: => S)(step: (S, DataFrame, Long) => S): S = {
    requireFreshCheckpoint(spark, checkpoint)
    loop(spark, dir, schema, checkpoint)(init)(step)
  }

  /** Rows with carried state: `step(state, batch)` returns the next state
    * and the batch's rows, already materialized (the step owns the one
    * checkpoint, since its state update usually reads those rows).
    * Returns the final state and the union of every batch's rows.
    */
  def rows[S](spark: SparkSession, dir: String, schema: StructType, checkpoint: String,
      init: S)(step: (S, DataFrame) => (S, DataFrame)): (S, DataFrame) = {
    val (state, parts) = fold(spark, dir, schema, checkpoint)((init, Vector.empty[DataFrame])) {
      case ((s, ps), batch, _) =>
        val (next, part) = step(s, batch)
        (next, ps :+ part)
    }
    if (parts.isEmpty) step(init, emptyBatch(spark, schema))
    else (state, parts.reduce(_.union(_)))
  }

  /** Stateless rows: the union of `perBatch` over every batch, each
    * batch's rows checkpointed once.
    */
  def rows(spark: SparkSession, dir: String, schema: StructType, checkpoint: String)(
      perBatch: DataFrame => DataFrame): DataFrame =
    rows(spark, dir, schema, checkpoint, ())((_, batch) =>
      ((), perBatch(batch).localCheckpoint()))._2

  /** A batch of the feed schema with no rows. */
  private[streaming] def emptyBatch(spark: SparkSession, schema: StructType): DataFrame =
    spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)

  /** Require that `checkpoint` holds no committed batches yet. Probes
    * through the path's own Hadoop FileSystem (NOT java.io.File — a
    * `hdfs://`/`s3a://`/`file:` checkpoint would silently bypass a local
    * stat and re-expose the under-count).
    */
  private def requireFreshCheckpoint(spark: SparkSession, checkpoint: String): Unit = {
    val commits = new org.apache.hadoop.fs.Path(checkpoint, "commits")
    val fs = commits.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val used = fs.exists(commits) && fs.getFileStatus(commits).isDirectory &&
      fs.listStatus(commits).exists(s => !s.getPath.getName.startsWith("."))
    require(!used,
      s"checkpoint $checkpoint already holds committed batches; this " +
        "stream's state is in-memory and cannot resume — pass a fresh checkpoint")
  }
}
