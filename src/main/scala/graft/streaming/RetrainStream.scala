package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{Similarity, VectorSearch}

/** Streaming recall-triggered retrain — the arrival-time face of
  * [[graft.ops.Similarity.qRecallRetrain]] and the vector dual of
  * [[ReclusterStream]]: embedding batches stream into a standing IVF
  * index via the frozen-centroid O(batch) append
  * ([[VectorSearch.refreshIvfIndex]]); after every commit the gate
  * re-measures the refreshed index's mean recall@k against the exact
  * top-k over the accumulated corpus, and the moment it drops below the
  * bar it RETRAINS — a full [[VectorSearch.writeIvfIndex]] over
  * corpus ∪ arrivals into a fresh index generation — and switches the
  * standing serving plan to the new generation. Non-firing commits keep
  * serving the refreshed artifact. This is the conditional
  * rebuild-only-when-fired shape the batch composite can't express (its
  * artifacts come pre-built from the session registry); here the
  * expensive retrain genuinely runs only on firing commits.
  *
  * Stream == batch holds after the last batch because every piece is a
  * pure function of the accumulated relation: the refreshed index is
  * bit-identical under any file→trigger split (the refresh-≡-rebuild
  * property the VectorSearch specs pin), the recall measure reads only
  * (refreshed index, accumulated rows), and the retrained generation
  * trains on exactly corpus ∪ all-arrivals — so the standing output is
  * bit-identical to [[Similarity.qRecallRetrain]] over the same rows.
  *
  * Scale: per commit, one O(batch) index append + one recall audit
  * (queries×k — at 100 TB the exact baseline runs SAMPLED, the
  * [[Similarity.qAnnRecallSampled]] path, on a schedule rather than
  * every commit); the retrain itself fires rarely by design — that is
  * the whole point of the bar. The per-batch 1-row mean-recall collect
  * is control-plane by construction.
  */
object RetrainStream {

  /** One recall observation per processed micro-batch. */
  final case class RecallObs(batchId: Long, meanRecallBp: Long, retrained: Boolean)

  /** Run the maintenance gate over `embDir` (parquet arrivals shaped like
    * [[VectorServeStream.embeddingSchema]]) against the standing
    * `corpus`. The refresh index trains over `corpus` into
    * `scratchDir/refresh`; firing commits retrain into
    * `scratchDir/gen-<batchId>`. Returns the STANDING serving plan after
    * the last batch (schema of [[Similarity.qRecallRetrain]]) plus the
    * per-batch recall trace.
    */
  def retrainGate(
      spark: SparkSession,
      embDir: String,
      checkpoint: String,
      corpus: DataFrame, id: Column, vec: Column,
      scratchDir: String,
      queryIds: Seq[Long] = Similarity.QueryIds,
      k: Int = Similarity.K,
      barBp: Long = Similarity.RetrainBarBp): (DataFrame, Seq[RecallObs]) = {
    val corpusN = corpus.select(id.as("vec_id"), vec.as("embedding"))
      .localCheckpoint()
    val refreshDir = s"$scratchDir/refresh"
    def rename(df: DataFrame): DataFrame =
      df.withColumnRenamed("qid", "q_vec_id").withColumnRenamed("id", "vec_id")
    def plan(acc: DataFrame, serveDir: String, mean: Long, fire: Boolean): DataFrame =
      rename(VectorSearch.ivfTopKFromIndex(
        acc, col("vec_id"), col("embedding"), serveDir, queryIds, k))
        .withColumn("mean_recall_bp", lit(mean))
        .withColumn("retrained", lit(if (fire) 1L else 0L))
        .select(col("q_vec_id"), col("rnk"), col("vec_id"), col("cos_sim"),
          col("mean_recall_bp"), col("retrained"))
        .orderBy(col("q_vec_id"), col("rnk"))
    val (_, standing, obs) = Drain.fold(spark, embDir, VectorServeStream.embeddingSchema,
        checkpoint)({
      // the refresh index trains once, after the checkpoint guard
      VectorSearch.writeIvfIndex(corpusN, col("vec_id"), col("embedding"), refreshDir)
      (corpusN, Option.empty[DataFrame], Vector.empty[RecallObs])
    }) { case ((acc0, _, obs), batch, bid) =>
      val b = batch.select(col("vec_id"), col("embedding")).localCheckpoint()
      VectorSearch.refreshIvfIndex(b, col("vec_id"), col("embedding"), refreshDir)
      val acc = acc0.union(b).localCheckpoint()
      val exact = rename(VectorSearch.cosineTopK(
        acc, col("vec_id"), col("embedding"), queryIds, k))
        .select(col("q_vec_id"), col("vec_id")).localCheckpoint()
      val served = rename(VectorSearch.ivfTopKFromIndex(
        acc, col("vec_id"), col("embedding"), refreshDir, queryIds, k))
        .select(col("q_vec_id"), col("vec_id"))
      // 1-row control-plane scalar: the refreshed index's standing recall
      val mean = Similarity.recallBpOver(exact, served)
        .agg(expr("sum(recall_bp) DIV count(*)").as("m"))
        .collect()(0).getLong(0)
      val fire = mean < barBp
      val serveDir = if (fire) {
        val gen = s"$scratchDir/gen-$bid"
        VectorSearch.writeIvfIndex(acc, col("vec_id"), col("embedding"), gen)
        gen
      } else refreshDir
      (acc, Some(plan(acc, serveDir, mean, fire).localCheckpoint()),
        obs :+ RecallObs(bid, mean, fire))
    }
    // no commit, no standing plan: the plan's columns, no rows
    (standing.getOrElse(plan(corpusN, refreshDir, 0L, fire = false).limit(0)), obs)
  }
}
