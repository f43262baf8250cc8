package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Streaming sequence packing — the arrival-time face of
  * [[graft.ops.Corpus.qPackSequences]]: as documents arrive, each is
  * assigned its training-sequence chunk THE MOMENT IT ARRIVES, so a
  * tokenization service can emit fixed-budget sequences continuously
  * instead of re-packing the corpus in a nightly batch.
  *
  * Stream == batch holds exactly for the same reason the compaction
  * planner's does: concat-then-chunk is PREFIX-INCREMENTAL — a document's
  * chunk is `(tokens packed before it in its shard) DIV budget`, a pure
  * function of the shard's running token total, provided documents arrive
  * in packing order (doc_id) within each shard. Carrying one long per
  * shard across micro-batches reproduces the one-shot batch packing under
  * any trigger split (spec-pinned). Out-of-order arrivals are the
  * caller's contract to sort per batch — the gate sorts WITHIN each
  * micro-batch, matching a commit-ordered ingest feed.
  *
  * Scale: per batch, one window pass over the batch's rows plus a
  * broadcast join against the carried state — one `(shard, tokens)` row
  * per shard (8 here; bounded by the shard count at any scale). The
  * per-batch state-update collect is shard-count rows — control-plane by
  * construction.
  */
object PackStream {

  /** Run the packing gate over `docDir` (documents-shaped arrivals) and
    * return every document's assignment `(shard, doc_id, n_tokens,
    * chunk_id)`.
    */
  def packingGate(
      spark: SparkSession,
      docDir: String,
      checkpoint: String,
      budget: Long = graft.ops.Corpus.PackBudget.toLong): DataFrame = {
    Drain.rows(spark, docDir, IngestDedup.docSchema, checkpoint, Map.empty[Long, Long]) {
      (carried, batch) =>
        val sess = batch.sparkSession
        import sess.implicits._
        val base = carried.toSeq.toDF("shard", "base")
        val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
        val assigned = batch
          .select(col("doc_id"),
            pmod(conv(substring(md5(col("doc_id").cast("string")), 9, 4), 16, 10)
              .cast("long"), lit(8)).as("shard"),
            graft.functions.TokenCount(col("text")).cast(LongType).as("n_tokens"))
          .withColumn("cum", sum(col("n_tokens")).over(w))
          .join(broadcast(base), Seq("shard"), "left")
          .na.fill(0L, Seq("base"))
          .select(col("shard"), col("doc_id"), col("n_tokens"),
            expr(s"(base + cum - n_tokens) DIV $budget").as("chunk_id"))
          .localCheckpoint()
        val next = assigned.groupBy(col("shard")).agg(sum(col("n_tokens")).as("t"))
          .collect()
          .foldLeft(carried) { case (m, r) =>
            m.updated(r.getLong(0), m.getOrElse(r.getLong(0), 0L) + r.getLong(1))
          }
        (next, assigned)
    }._2
  }

  /** Aggregate per-document assignments into the batch packer's chunk
    * rows — apply to [[packingGate]] output to compare against
    * [[graft.ops.Corpus.qPackSequences]] directly.
    */
  def toChunkRows(assigned: DataFrame): DataFrame =
    assigned.groupBy(col("shard"), col("chunk_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
      .orderBy(col("shard"), col("chunk_id"))

  /** Streaming dual of [[graft.ops.Corpus.qBatchBuckets]]: the RUNNING
    * bucket table over a document feed — the batching-strategy monitor a
    * corpus owner watches as data arrives (a waste spike in one bucket
    * says the incoming length mix changed and the max-seq-len / bucket
    * ladder should be revisited BEFORE the next training run). The one
    * shared formula ([[graft.ops.Corpus.bucketAgg]]) runs unmodified as
    * a streaming complete-mode aggregate; its state is the ≤10-row
    * ladder — counts and token sums are mergeable, so every commit's
    * table equals the one-shot batch table over everything arrived, by
    * construction (spec-pinned under trigger splits).
    */
  def bucketTable(docStream: DataFrame): DataFrame =
    graft.ops.Corpus.bucketAgg(docStream)
}
