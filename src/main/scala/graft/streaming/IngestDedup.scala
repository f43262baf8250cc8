package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Streaming ingest dedup: documents arriving as a file stream are flagged
  * against a STATIC corpus fingerprint table with a stateless
  * stream-static broadcast join — the arrival-time gate of the ingest
  * pipeline (its batch near-dup counterpart is
  * [[graft.ops.TextDedup.minhashLshIncremental]]; exact-match is the only
  * decision cheap enough to make per micro-batch with zero state).
  *
  * Scale: the join is stateless (no state store, no watermark) — each
  * micro-batch projects md5 fingerprints and probes the broadcast corpus
  * index; at corpus sizes past broadcast limits the same plan downgrades
  * to a shuffled stream-static join, still stateless. New-and-unique docs
  * flow to the sink; duplicates carry their corpus survivor id for
  * provenance.
  */
object IngestDedup {

  /** Parquet schema of a documents-shaped ingest stream. */
  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType),
  ))

  /** File-source stream of incoming documents. */
  def docStream(spark: SparkSession, path: String): DataFrame =
    spark.readStream.schema(docSchema).parquet(path)

  /** The static corpus index: one (fp, canonical_id) row per distinct
    * corpus text — at scale a maintained table, recomputed only for
    * corpus compactions.
    */
  def corpusFingerprints(corpus: DataFrame): DataFrame =
    corpus.groupBy(md5(col("text")).as("fp"))
      .agg(min(col("doc_id")).as("dup_of"))

  /** Incoming docs annotated with `dup_of` (null ⇒ new content): a
    * stateless stream-static broadcast LEFT join on the fingerprint.
    */
  def flagExactDups(incoming: DataFrame, corpusFps: DataFrame): DataFrame =
    incoming
      .withColumn("fp", md5(col("text")))
      .join(broadcast(corpusFps), Seq("fp"), "left")
      .select(col("doc_id"), col("fp"), col("dup_of"))

  /** The static corpus shingle index for the novelty gate: distinct word
    * 3-shingles over the whole corpus — the same relation
    * [[graft.ops.TextAnalysis.qNgramNovelty]] aggregates, maintained as a
    * table at scale (append-only: new docs only ADD shingles).
    */
  def corpusShingleIndex(corpus: DataFrame): DataFrame =
    graft.ops.TextDedup.shingles(
      corpus, col("doc_id"), col("text"), graft.ops.Dedup.ShingleK)
      .select(col("s")).distinct()

  /** Streaming NOVELTY gate: each arriving document is scored by how many
    * of its distinct shingles the corpus has never seen — the arrival-time
    * dual of [[graft.ops.TextAnalysis.qNgramNovelty]] (there the corpus
    * scores itself retrospectively; here each micro-batch is scored
    * against the static index, deciding "does this crawl bring anything
    * new" BEFORE the ingest commits). Emits
    * `(doc_id, n_shingles, n_new, novelty_bp)` in the same exact-integer
    * basis points.
    *
    * Scale: per-doc shingles explode map-side; the stream-static LEFT
    * join probes the corpus index (broadcast while it fits, shuffled
    * stream-static past that — still stateless); the per-doc count
    * aggregate is keyed by doc_id, which is unique WITHIN a micro-batch,
    * so state never outlives the batch that created it.
    */
  def noveltyGate(incoming: DataFrame, shingleIndex: DataFrame): DataFrame = {
    import graft.ops.TextOps._
    val k = graft.ops.Dedup.ShingleK
    incoming
      .select(col("doc_id"), tokens(col("text")).as("t"))
      .filter(size(col("t")) >= k)
      .select(col("doc_id"), explode(shingleSet(col("t"), k)).as("s"))
      .join(shingleIndex.withColumn("known", lit(1L)), Seq("s"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("known").isNull, 1L).otherwise(0L)).as("n_new"))
      .select(col("doc_id"), col("n_shingles"), col("n_new"),
        expr("n_new * 10000 DIV n_shingles").as("novelty_bp"))
  }

  /** Streaming NEAR-DUP gate over a PERSISTED LSH dedup index
    * ([[graft.ops.TextDedup.writeLshIndex]]): document batches stream in
    * and each micro-batch is probed against the stored corpus banding /
    * shingle / size relations via the exact batch serving path
    * ([[graft.ops.TextDedup.minhashLshIncrementalFromIndex]], the
    * `foreachBatch` idiom of [[VectorServeStream]]). Each incoming doc's
    * verdict depends only on itself and the STORED corpus — incoming docs
    * never pair with each other — so serving batch-by-batch is EXACTLY
    * the one-shot batch probe of the union (the property the spec pins),
    * regardless of how the files split into triggers.
    *
    * Scale: the index is built once (big-cluster job); each micro-batch
    * computes signatures for ITS OWN documents only and probes the stored
    * index — per-batch cost independent of corpus size.
    */
  def serveNearDupBatches(
      spark: SparkSession,
      docDir: String,
      checkpoint: String,
      indexDir: String,
      cfg: graft.ops.TextDedup.MinHashConfig = graft.ops.TextDedup.MinHashConfig(
        shingleK = graft.ops.Dedup.ShingleK),
      threshold: Double = graft.ops.Dedup.JaccardThreshold): DataFrame =
    Drain.rows(spark, docDir, docSchema, checkpoint)(graft.ops.TextDedup
      .minhashLshIncrementalFromIndex(_, col("doc_id"), col("text"), indexDir, cfg, threshold))

  /** Streaming OVERLAP-SPAN gate — the arrival-time dual of
    * [[graft.ops.Dedup.qOverlapSpans]]: each micro-batch of arriving
    * documents is probed against the stored trusted-corpus window grams
    * ([[graft.ops.TextDedup.windowGrams]], precomputed and persisted at
    * scale) through the exact batch span path. foreachBatch because the
    * island merge needs a per-document window function, which streaming
    * aggregation can't express; per-document independence makes
    * batch-by-batch exactly the one-shot probe of the union regardless
    * of trigger splits (the property the spec pins). Per-batch cost is
    * the batch's own windows joined against the static gram relation —
    * independent of arrival history.
    */
  def overlapSpanGate(
      spark: SparkSession,
      docDir: String,
      checkpoint: String,
      corpusGrams: DataFrame,
      l: Int = graft.ops.Dedup.DupSpanL): DataFrame =
    Drain.rows(spark, docDir, docSchema, checkpoint)(graft.ops.TextDedup
      .overlapSpans(_, col("doc_id"), col("text"), corpusGrams, l))

  /** Streaming PII GATE — the arrival-time dual of
    * [[graft.ops.TextAnalysis.qPiiAudit]]: every arriving document is
    * scored against the SAME three structured-PII patterns (the shared
    * `piiMatchCount` definition) and quarantined if any pattern fires,
    * so leaked PII never reaches the corpus instead of being found in
    * the next nightly audit. A stateless per-row projection: verdicts
    * depend only on the document itself, so per-batch results equal the
    * one-shot batch projection regardless of file/trigger splits (the
    * property the spec pins), and per-batch cost is independent of
    * corpus size.
    */
  def piiGate(incoming: DataFrame): DataFrame = {
    import graft.ops.TextAnalysis
    incoming
      .select(col("doc_id"),
        TextAnalysis.piiMatchCount(col("text"), TextAnalysis.PiiEmail).cast("long").as("n_emails"),
        TextAnalysis.piiMatchCount(col("text"), TextAnalysis.PiiIpv4).cast("long").as("n_ipv4"),
        TextAnalysis.piiMatchCount(col("text"), TextAnalysis.PiiId).cast("long").as("n_ids"))
      .withColumn("quarantine",
        col("n_emails") + col("n_ipv4") + col("n_ids") > 0)
  }

  /** Streaming REFERENTIAL gate — the arrival-time dual of one
    * [[graft.ops.Checks.qFkAudit]] edge: each arriving fact row is
    * checked against the broadcast parent-key relation and flagged
    * `orphan` when its key misses — so broken references quarantine at
    * ingest instead of surfacing in the nightly audit. Stateless
    * stream-static LEFT join (the [[flagExactDups]] shape): verdicts
    * depend only on the row and the static parent keys, so per-batch
    * results equal the one-shot batch projection regardless of trigger
    * splits (the property the spec pins). At parent sizes past broadcast
    * limits the same plan downgrades to a shuffled stream-static join —
    * still stateless.
    */
  def fkGate(incoming: DataFrame, key: String, parentKeys: DataFrame): DataFrame =
    incoming
      .join(broadcast(parentKeys.select(col(key)).distinct()
        .withColumn("fk_known", lit(1L))), Seq(key), "left")
      .select(col(key), col("fk_known").isNull.as("orphan"))

  /** Streaming rendezvous router: each arriving document gets the same
    * highest-random-weight shard [[graft.ops.Corpus.qShardRendezvous]]
    * assigns in batch — the assignment is a pure row function of the
    * stable doc_id, so the stream and the batch view of the same corpus
    * NEVER disagree (the property the spec pins), and resizing the shard
    * ring mid-stream only re-routes the dropped/added shard's keys.
    *
    * Scale: a stateless per-row projection — no state store, no
    * watermark, no shuffle before the sink's own partitioning.
    */
  def shardRouter(incoming: DataFrame, numShards: Int = graft.ops.Corpus.NumShards): DataFrame =
    incoming
      .withColumn("shard", graft.ops.Corpus.rendezvousShard(col("doc_id"), numShards))
      .select(col("doc_id"), col("shard"), col("source"), col("n_chars"))
}
