package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

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
  * the fingerprint/gram sets; no state beyond the stored artifacts. The
  * verdict rows accumulate in the driver, so a used checkpoint is refused
  * ([[Drain.rows]]).
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
      benchGrams: DataFrame): DataFrame =
    Drain.rows(spark, docDir, IngestDedup.docSchema, checkpoint)(
      graft.ops.Pipeline.intakeBatch(
        _, corpusFps, lshIndexDir, embLookup, corpusEmb, ivfIndexDir, benchGrams))

  /** [[intakeGate]] with the trained quality classifier as the PRE-gate
    * stage: each micro-batch is scored against the
    * FROZEN NB model from `modelDir` ([[graft.ops.Artifacts.ensureQualityNb]]'s
    * layout — the model parquets are read once and pinned for the whole
    * stream, the [[QualityServeStream]] serving shape), `neg` arrivals
    * verdict immediately as `classifier`, and survivors flow through the
    * unchanged cascade. The per-batch body is
    * [[graft.ops.Pipeline.intakeBatchGated]] — the SAME function the
    * one-shot batch gate runs, so stream == batch under any trigger
    * split is by construction (and spec-pinned for 2- and 3-way splits).
    */
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
    val (weights, totals) = QualityServeStream.frozenModel(spark, modelDir)
    Drain.rows(spark, docDir, IngestDedup.docSchema, checkpoint)(
      graft.ops.Pipeline.intakeBatchGated(_, weights, totals, corpusFps, lshIndexDir,
        embLookup, corpusEmb, ivfIndexDir, benchGrams))
  }

  /** The FULL cascade stream: [[intakeGateClassified]] plus
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
    val (weights, totals) = QualityServeStream.frozenModel(spark, modelDir)
    val frozenCells = photoCells.localCheckpoint()
    val frozenRates = geoRates.localCheckpoint()
    Drain.rows(spark, docDir, IngestDedup.docSchema, checkpoint)(
      graft.ops.Pipeline.intakeBatchFull(_, weights, totals, corpusFps, lshIndexDir,
        embLookup, corpusEmb, ivfIndexDir, benchGrams, frozenCells, frozenRates))
  }
}
