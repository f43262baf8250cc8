package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Streaming CDC apply — the streaming dual of the batch
  * [[graft.ops.JoinShapes.qMergeUpsert]] MERGE: every micro-batch of
  * change rows upserts into the target via the same full-outer
  * source-precedence join, driven from `foreachBatch` (THE streaming-merge
  * idiom: the stream handles delivery/exactly-once bookkeeping, the batch
  * MERGE handles set semantics).
  *
  * Within-batch ordering: a micro-batch can carry several versions of one
  * key, and foreachBatch gives no row order — so the batch first resolves
  * to its highest `ver` per key (deterministic, ver is unique per key in
  * a CDC log) and THEN merges. This makes application order-insensitive
  * within a batch and sequential across batches, i.e. replaying the same
  * change log in any micro-batch partitioning converges to the same
  * target — asserted by the spec against the one-shot batch merge.
  *
  * Scale: the target here is an in-memory checkpointed relation (swapped
  * per batch); on a cluster it is a transactional/bucketed table and this
  * exact foreachBatch body is the standard streaming-upsert recipe. Each
  * batch costs one join shuffle of the (small) change batch against the
  * target's merge-key distribution.
  */
object CdcMergeStream {

  val changeSchema: StructType = StructType(Seq(
    StructField("k", LongType),
    StructField("v", DoubleType),
    StructField("ver", LongType),
  ))

  /** One MERGE step: latest-version-per-key of `batch`, then full-outer
    * source-precedence against `target`. Returns the new target
    * (unmaterialized — caller owns checkpointing).
    */
  def applyBatch(target: DataFrame, batch: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("k")).orderBy(col("ver").desc)
    val latest = batch.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
    val s = latest.select(col("k").as("s_k"), col("v").as("s_v"), col("ver").as("s_ver"))
    target.join(s, col("k") === col("s_k"), "full_outer")
      .select(
        coalesce(col("s_k"), col("k")).as("k"),
        coalesce(col("s_v"), col("v")).as("v"),
        coalesce(col("s_ver"), col("ver")).as("ver"))
  }

  /** Streaming JOIN-VIEW maintenance under a dimension-update feed — the
    * arrival-time dual of [[graft.ops.JoinShapes.qViewRefresh]]: each
    * micro-batch of dimension upserts `(key, attrs)` refreshes the carried
    * enriched view with the same delta-join identity —
    * `view' = (view ANTI batch-keys) ∪ (facts SEMI batch ⋈ batch)` — so
    * per-batch cost is one broadcast-filtered view scan + the affected
    * facts, never a full re-join. Because each refresh step equals the
    * full recompute against the dimension-so-far (the batch identity,
    * applied inductively), the final streamed view equals the one-shot
    * batch refresh under any split of the dimension feed (spec-pinned).
    *
    * `facts` must carry the fact columns + `dimKey`; `dimBatch` rows are
    * `(dimKey, enrich-cols…)`; `enrich` builds the enriched row from a
    * (facts ⋈ dim-rows) frame.
    */
  def runViewRefresh(
      spark: SparkSession,
      dimDir: String,
      dimSchema: org.apache.spark.sql.types.StructType,
      checkpoint: String,
      initialView: DataFrame,
      facts: DataFrame,
      dimKey: String,
      enrich: DataFrame => DataFrame): DataFrame = {
    val factsStable = facts.localCheckpoint()
    Drain.loop(spark, dimDir, dimSchema, checkpoint)(initialView.localCheckpoint()) {
      (view, batch, _) =>
        val keys = batch.select(col(dimKey)).distinct().localCheckpoint()
        val refreshedPart = enrich(
          factsStable.join(broadcast(batch), Seq(dimKey)))
        view
          .join(broadcast(keys), Seq(dimKey), "left_anti")
          .unionByName(refreshedPart)
          .localCheckpoint()
    }
  }

  /** Stream the change-log parquet directory into `initial` with one MERGE
    * per micro-batch (AvailableNow — returns the final target after
    * catch-up). `maxFilesPerTrigger=1` keeps one file per micro-batch so
    * the sequential-merge semantics are actually exercised.
    */
  def runMerge(
      spark: SparkSession,
      changeDir: String,
      checkpoint: String,
      initial: DataFrame): DataFrame =
    Drain.loop(spark, changeDir, changeSchema, checkpoint)(initial.localCheckpoint()) {
      (target, batch, _) =>
        // materialize before the next batch: the micro-batch DataFrame is
        // only valid inside this callback, and the target must not chain
        // lineage across batches
        applyBatch(target, batch).localCheckpoint()
    }
}
