package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming REPETITION gate — the arrival-time face of
  * [[graft.ops.TextAnalysis.qRepetitionFilter]]: every arriving document
  * is profiled by the zero-shuffle
  * [[graft.functions.RepetitionProfile]] expression and admitted iff it
  * clears the published Gopher §A1.1 thresholds
  * ([[graft.ops.TextAnalysis.RepetitionKeep]] — the SAME predicate
  * string the batch filter applies, so the gate cannot drift from the
  * audited filter). The verdict is a pure row function of the arrival
  * alone — no model, no index, no state — making this the cheapest gate
  * in the intake family and trivially stream == batch under any trigger
  * split (spec-pinned for 2- and 3-way splits).
  *
  * Scale per commit: ONE narrow codegen projection over the batch;
  * nothing is broadcast, nothing is retained, nothing shuffles.
  */
object RepetitionGateStream {

  /** Per-arrival verdicts of one batch:
    * `(doc_id, top2_bp, top3_bp, top4_bp, kept)`.
    */
  def keepBatch(batch: DataFrame): DataFrame =
    graft.ops.TextAnalysis.docRepetitionProfileOf(batch)
      .select(col("doc_id"), col("top2_bp"), col("top3_bp"), col("top4_bp"),
        expr(graft.ops.TextAnalysis.RepetitionKeep).as("kept"))

  /** Run the gate over `docDir` (documents-shaped arrival files, one per
    * trigger) and return the accumulated verdict rows.
    */
  def run(spark: SparkSession, docDir: String, checkpoint: String): DataFrame =
    Drain.rows(spark, docDir, IngestDedup.docSchema, checkpoint)(keepBatch)
}
