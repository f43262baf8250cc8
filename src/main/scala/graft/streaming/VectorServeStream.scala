package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Streaming ANN serving over a PERSISTED PQ index — the arrival-time dual
  * of [[graft.ops.VectorSearch.pqTopKFromIndex]]: neighbor REQUESTS (vec
  * ids) stream in, and each micro-batch serves its top-k from the stored
  * codebooks + compressed codes via the exact batch serving path
  * (`foreachBatch`, the CdcMergeStream idiom — the stream handles
  * delivery/exactly-once bookkeeping, the batch path handles the ranking).
  *
  * Per-query results are independent, so serving requests batch-by-batch
  * is EXACTLY the one-shot batch serve of the union — the property the
  * spec pins — including when a vec_id repeats across batches (a
  * driver-side served-id set answers each distinct request once). The
  * per-batch `collect()` moves only that micro-batch's request ids
  * (bounded by trigger size, control-plane).
  *
  * Scale: the index is train-once (big-cluster job); each serving batch
  * scans the 64×-compressed codes relation and touches full vectors only
  * for the query rows and refine shortlists — the standard online-ANN
  * read profile.
  */
object VectorServeStream {

  /** Parquet schema of a neighbor-request stream: just the query ids. */
  val requestSchema: StructType = StructType(Seq(StructField("vec_id", LongType)))

  /** Parquet schema of an embeddings-shaped ingest stream. */
  val embeddingSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  /** Streaming SEMANTIC near-dup gate over the stored IVF index — the
    * arrival-time dual of
    * [[graft.ops.VectorSearch.semDedupIncrementalFromIndex]] and the
    * embedding-space sibling of [[IngestDedup.serveNearDupBatches]]:
    * embedding batches stream in, and each micro-batch is probed against
    * the persisted centroids + bucket assignment via the exact batch
    * serving path. Each incoming vector's verdict depends only on itself
    * and the STORED corpus — incoming vectors never pair with each other —
    * so per-batch gating is EXACTLY the one-shot batch probe of the union,
    * regardless of how the files split into triggers (the property the
    * spec pins).
    *
    * Scale: the index is train-once; each micro-batch assigns ITS OWN
    * vectors to nprobe buckets and joins the bucket-pruned corpus —
    * per-batch cost independent of corpus growth.
    */
  def semGateBatches(
      spark: SparkSession,
      embDir: String,
      checkpoint: String,
      corpus: DataFrame, id: Column, vec: Column,
      indexDir: String, threshold: Double,
      cfg: graft.ops.VectorSearch.IvfConfig = graft.ops.VectorSearch.IvfConfig()): DataFrame = {
    // honor the caller's id/vec binding: normalize the CORPUS side to the
    // stream's fixed (vec_id, embedding) schema once, so a corpus with any
    // column names probes correctly (the batch side is already pinned to
    // embeddingSchema by the reader)
    val corpusN = corpus.select(id.as("vec_id"), vec.as("embedding"))
    Drain.rows(spark, embDir, embeddingSchema, checkpoint)(graft.ops.VectorSearch
      .semDedupIncrementalFromIndex(
        corpusN, _, col("vec_id"), col("embedding"), indexDir, threshold, cfg))
  }

  /** Streaming INDEX INGEST — the arrival-time dual of
    * [[graft.ops.VectorSearch.refreshIvfIndex]]: embedding batches stream
    * in and each micro-batch's vectors are assigned to the STORED
    * centroids (frozen) and appended to the index, so the serving fleet
    * sees every ingested vector one trigger after it lands. Because
    * append-only refresh is split-invariant (per-vector assignment
    * against frozen centroids — the batch spec pins it), the index after
    * the stream is bit-identical to a single one-shot refresh of the
    * union, under ANY trigger/file split.
    *
    * Scale: per micro-batch cost is O(batch) against a broadcast-sized
    * centroid literal; the stored corpus buckets are never read or
    * rewritten. Returns the number of micro-batches applied.
    */
  def ingestIvfBatches(
      spark: SparkSession,
      embDir: String,
      checkpoint: String,
      indexDir: String,
      cfg: graft.ops.VectorSearch.IvfConfig = graft.ops.VectorSearch.IvfConfig()): Long =
    Drain.loop(spark, embDir, embeddingSchema, checkpoint)(0L) { (applied, batch, _) =>
      graft.ops.VectorSearch.refreshIvfIndex(
        batch, col("vec_id"), col("embedding"), indexDir, cfg)
      applied + 1
    }

  /** PQ dual of [[ingestIvfBatches]], completing the streaming ingest
    * family across all three index kinds: embedding batches are
    * ENCODED with the frozen stored codebooks at O(batch) cost and their
    * codes appended. Same split-invariance contract: the final index is
    * bit-identical to a one-shot refresh of the union, because encode is
    * per-vector against frozen state.
    */
  def ingestPqBatches(
      spark: SparkSession,
      embDir: String,
      checkpoint: String,
      indexDir: String,
      cfg: graft.ops.VectorSearch.PqConfig = graft.ops.VectorSearch.PqConfig()): Long =
    Drain.loop(spark, embDir, embeddingSchema, checkpoint)(0L) { (applied, batch, _) =>
      graft.ops.VectorSearch.refreshPqIndex(
        batch, col("vec_id"), col("embedding"), indexDir, cfg)
      applied + 1
    }

  /** LSH dual of [[ingestIvfBatches]]: batches append their banded
    * signatures — LSH carries no trained state, so the refreshed index is
    * bit-identical to a one-shot BUILD of the union, the strongest form
    * of the split-invariance contract.
    */
  def ingestLshBatches(
      spark: SparkSession,
      embDir: String,
      checkpoint: String,
      indexDir: String,
      cfg: graft.ops.VectorSearch.LshConfig = graft.ops.VectorSearch.LshConfig()): Long =
    Drain.loop(spark, embDir, embeddingSchema, checkpoint)(0L) { (applied, batch, _) =>
      graft.ops.VectorSearch.refreshLshIndex(
        batch, col("vec_id"), col("embedding"), indexDir, cfg)
      applied + 1
    }

  /** Serve every request file under `requestDir` (AvailableNow catch-up;
    * one file per micro-batch) and return the accumulated results.
    */
  def servePqRequests(
      spark: SparkSession,
      requestDir: String,
      checkpoint: String,
      corpus: DataFrame, id: Column, vec: Column,
      indexDir: String, k: Int,
      shortlist: Int = 0): DataFrame = {
    // cross-batch request dedup: a vec_id repeated in a later batch is
    // already answered (per-query results are deterministic functions of
    // the static index), so re-serving it would only duplicate output
    // rows — first batch wins. Driver-side set, bounded by distinct
    // request ids (control-plane sized, like the per-batch collect).
    Drain.rows(spark, requestDir, requestSchema, checkpoint, Set.empty[Long]) {
      (served, batch) =>
        val ids = batch.select(col("vec_id")).distinct()
          .collect().map(_.getLong(0)).filterNot(served).toSeq
        // pqTopKFromIndex materializes its result; no new ids serve no rows
        (served ++ ids, graft.ops.VectorSearch
          .pqTopKFromIndex(corpus, id, vec, indexDir, ids, k, shortlist = shortlist))
    }._2
  }
}
