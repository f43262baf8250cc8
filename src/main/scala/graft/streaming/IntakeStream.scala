package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Streaming corpus INTAKE — the arrival-time face of
  * [[graft.ops.Pipeline.intakeBatch]] and the composition of this
  * engine's standing gates into one ingest front door: every arriving
  * document flows quality/lang → exact-dup (corpus fingerprints) →
  * near-dup (stored MinHash-LSH index) → semantic-dup (stored IVF index)
  * → decontamination (bench grams) and leaves with a verdict row; clean
  * documents carry their split/shard routing (chunk assignment composes
  * downstream via [[PackStream]]).
  *
  * Stream == batch holds exactly because every verdict depends only on
  * the arrival and the STANDING corpus artifacts — arrivals never pair
  * with each other — so gating per micro-batch equals the one-shot batch
  * gate of the whole feed under any trigger split (spec-pinned).
  *
  * Scale: per batch, O(batch) index probes (the LSH/IVF serving paths are
  * corpus-size-independent by construction) plus broadcast joins against
  * the fingerprint/gram sets; no state beyond the stored artifacts, so a
  * restart resumes from the checkpoint with nothing to rebuild.
  */
object IntakeStream {

  /** Run the intake gate over `docDir` (documents-shaped arrival files)
    * and return the accumulated verdict rows.
    */
  def intakeGate(
      spark: SparkSession,
      docDir: String,
      checkpoint: String,
      corpusFps: DataFrame,
      lshIndexDir: String,
      embLookup: DataFrame,
      corpusEmb: DataFrame,
      ivfIndexDir: String,
      benchGrams: DataFrame): DataFrame = {
    import IngestDedup.docSchema
    @volatile var results: Option[DataFrame] = None
    val stream = spark.readStream
      .schema(docSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(docDir)
    val q = stream.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val verdicts = graft.ops.Pipeline.intakeBatch(
          batch, corpusFps, lshIndexDir, embLookup, corpusEmb, ivfIndexDir,
          benchGrams)
        results = Some(results.fold(verdicts)(_.union(verdicts).localCheckpoint()))
        ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    results.getOrElse(
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(StructField("doc_id", LongType),
          StructField("n_tokens", LongType), StructField("reason", StringType),
          StructField("accepted", LongType), StructField("split", StringType),
          StructField("shard", LongType)))))
  }

  /** [[intakeGate]] with the trained quality classifier as the PRE-gate
    * stage (VERDICT r13 item 6): each micro-batch is scored against the
    * FROZEN NB model from `modelDir` ([[graft.ops.Artifacts.ensureQualityNb]]'s
    * layout — the model parquets are read once and pinned for the whole
    * stream, the [[QualityServeStream]] serving shape), `neg` arrivals
    * verdict immediately as `classifier`, and survivors flow through the
    * unchanged cascade. The per-batch body is
    * [[graft.ops.Pipeline.intakeBatchGated]] — the SAME function the
    * one-shot batch gate runs, so stream == batch under any trigger
    * split is by construction (and spec-pinned for 2- and 3-way splits).
    */
  /** The FULL cascade stream (round 15): [[intakeGateClassified]] plus
    * the Gopher repetition pre-gate (runs FIRST — a pure row expression,
    * the cheapest rejection) and the geo admission stage on the
    * multimodal path (frozen standing-corpus rates — the
    * [[GeoSampleStream]] state discipline). Per-batch body is
    * [[graft.ops.Pipeline.intakeBatchFull]], the same function the
    * one-shot batch gate runs, so stream == batch under any trigger
    * split is by construction (spec-pinned for 2- and 3-way splits):
    * every added verdict is a pure function of (arrival, frozen state).
    */
  def intakeGateFull(
      spark: SparkSession,
      docDir: String,
      checkpoint: String,
      modelDir: String,
      corpusFps: DataFrame,
      lshIndexDir: String,
      embLookup: DataFrame,
      corpusEmb: DataFrame,
      ivfIndexDir: String,
      benchGrams: DataFrame,
      photoCells: DataFrame,
      geoRates: DataFrame): DataFrame = {
    StreamGuards.requireFreshCheckpoint(spark, checkpoint)
    val (weights, totals) = QualityServeStream.frozenModel(spark, modelDir)
    val frozenCells = photoCells.localCheckpoint()
    val frozenRates = geoRates.localCheckpoint()
    @volatile var results: Option[DataFrame] = None
    val q = spark.readStream
      .schema(IngestDedup.docSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(docDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val verdicts = graft.ops.Pipeline.intakeBatchFull(
          batch, None, Some((weights, totals)), corpusFps, lshIndexDir, embLookup,
          corpusEmb, ivfIndexDir, benchGrams, frozenCells, frozenRates)
        results = Some(results.fold(verdicts)(_.union(verdicts).localCheckpoint()))
        ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    results.getOrElse(
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(StructField("doc_id", LongType),
          StructField("n_tokens", LongType), StructField("reason", StringType),
          StructField("accepted", LongType), StructField("split", StringType),
          StructField("shard", LongType)))))
  }

  def intakeGateClassified(
      spark: SparkSession,
      docDir: String,
      checkpoint: String,
      modelDir: String,
      corpusFps: DataFrame,
      lshIndexDir: String,
      embLookup: DataFrame,
      corpusEmb: DataFrame,
      ivfIndexDir: String,
      benchGrams: DataFrame): DataFrame = {
    StreamGuards.requireFreshCheckpoint(spark, checkpoint)
    val (weights, totals) = QualityServeStream.frozenModel(spark, modelDir)
    @volatile var results: Option[DataFrame] = None
    val q = spark.readStream
      .schema(IngestDedup.docSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(docDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val verdicts = graft.ops.Pipeline.intakeBatchGated(
          batch, weights, totals, corpusFps, lshIndexDir, embLookup,
          corpusEmb, ivfIndexDir, benchGrams)
        results = Some(results.fold(verdicts)(_.union(verdicts).localCheckpoint()))
        ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    results.getOrElse(
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(StructField("doc_id", LongType),
          StructField("n_tokens", LongType), StructField("reason", StringType),
          StructField("accepted", LongType), StructField("split", StringType),
          StructField("shard", LongType)))))
  }
}
