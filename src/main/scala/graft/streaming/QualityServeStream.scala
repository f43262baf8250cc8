package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming quality-classifier gate — the arrival-time face of the
  * stored NB model ([[graft.ops.Artifacts.ensureQualityNb]]): every
  * arriving document is scored against the FROZEN weight table and leaves
  * with its integer mean-token-lift score and pos/neg verdict. The score
  * is a pure function of (arrival, stored model) — arrivals never pair
  * with each other and nothing retrains — so the streamed verdict table
  * equals the one-shot batch scoring of the whole feed under any trigger
  * split (spec-pinned), the same stream==batch argument as the intake
  * gate.
  *
  * Scale: per batch, one broadcast of the vocab-sized weight table into
  * the batch token stream + one per-doc aggregate; no state beyond the
  * stored artifact. The verdict rows accumulate in the driver, so a used
  * checkpoint is refused ([[Drain.rows]]).
  */
object QualityServeStream {

  /** Per-document scores (doc_id, n_toks, score_micro, verdict) of one
    * batch against already-loaded weight tables. The scoring formula
    * itself is [[graft.ops.TextAnalysis.nbScore]]/[[graft.ops.TextAnalysis.nbVerdict]]
    * — the SAME code the oracle-gated classifier queries run, so the
    * gate's verdicts cannot drift from theirs.
    */
  def scoreBatch(batch: DataFrame, weights: DataFrame, totals: DataFrame): DataFrame =
    graft.ops.TextAnalysis.nbScore(
        batch
          .select(col("doc_id"), graft.ops.TextOps.tokens(col("text")).as("t"))
          .filter(size(col("t")) >= 1)
          .select(col("doc_id"), explode(col("t")).as("tok")),
        Seq("doc_id"), weights, totals)
      .withColumn("verdict", graft.ops.TextAnalysis.nbVerdict(col("score_micro")))

  /** [[scoreBatch]] reading the model from `modelDir`. */
  def scoreBatch(spark: SparkSession, batch: DataFrame, modelDir: String): DataFrame = {
    val (weights, totals) = graft.ops.TextAnalysis.nbLoad(spark, modelDir)
    scoreBatch(batch, weights, totals)
  }

  /** The stored NB model at `modelDir`, read once and pinned for a whole
    * stream.
    */
  private[streaming] def frozenModel(spark: SparkSession, modelDir: String): (DataFrame, DataFrame) = {
    val (weights, totals) = graft.ops.TextAnalysis.nbLoad(spark, modelDir)
    (weights.localCheckpoint(), totals.localCheckpoint())
  }

  /** Run the gate over `docDir` (documents-shaped arrival files) and
    * return the accumulated per-document verdict rows. The model parquets
    * are read once and pinned for the whole stream.
    */
  def run(spark: SparkSession, docDir: String, checkpoint: String,
      modelDir: String): DataFrame = {
    val (weights, totals) = frozenModel(spark, modelDir)
    Drain.rows(spark, docDir, IngestDedup.docSchema, checkpoint)(scoreBatch(_, weights, totals))
  }
}
