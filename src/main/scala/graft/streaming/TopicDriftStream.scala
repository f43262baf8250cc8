package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.TextAnalysis

/** Streaming topic-mixture drift monitor — the arrival-time face of
  * [[graft.ops.TextAnalysis.qTopicDrift]] and the taxonomy-level sibling
  * of [[ReclusterStream]]'s layout gate: document batches stream in per
  * source, and after every commit the gate re-measures each source's
  * dominant-topic mixture over the ACCUMULATED arrivals against the
  * standing corpus mixture (L1 distance in exact basis points). The
  * moment any source's drift crosses the threshold it flags — the alarm
  * a curation pipeline keeps on every ingest feed, catching a crawler
  * whose seed list silently changed before the shift reaches training.
  *
  * Stream == batch holds because the drift table is a PURE function of
  * (standing corpus, accumulated arrivals): after the last batch the
  * standing table is bit-identical to the batch query over the same
  * split (the ReclusterStream discipline; the spec pins it across
  * trigger splits).
  *
  * Scale: the corpus mixture is computed ONCE (localCheckpoint —
  * |sources|·|topics| rows); each commit pays one broadcast-taxonomy tag
  * pass over the accumulated arrivals plus the tiny outer join. At
  * 100 TB the arrival tag pass runs incrementally (counts are additive —
  * fold each batch's (source, topic) counts into a running table instead
  * of re-tagging the accumulation; the per-commit re-tag here keeps the
  * gate a pure function for the spec gate at test scale).
  */
object TopicDriftStream {

  /** One observation per processed micro-batch: the worst per-source
    * drift and whether any source crossed the threshold.
    */
  final case class DriftObs(batchId: Long, maxDriftBp: Long, fired: Boolean)

  /** Run the monitor over `docDir` (parquet arrivals shaped like
    * `documents`) against the standing `corpus`. Returns the STANDING
    * drift table after the last batch (schema of
    * [[TextAnalysis.qTopicDrift]]: source, n_topics, drift_bp) plus the
    * per-batch trace.
    */
  def driftGate(
      spark: SparkSession,
      docDir: String,
      checkpoint: String,
      corpus: DataFrame,
      thresholdBp: Long = 2500L): (DataFrame, Seq[DriftObs]) = {
    val corpusC = corpus.localCheckpoint()
    val (_, standing, obs) = Drain.fold(spark, docDir, IngestDedup.docSchema, checkpoint)(
        (Option.empty[DataFrame], Option.empty[DataFrame], Vector.empty[DriftObs])) {
      case ((acc, _, obs), batch, bid) =>
        val b = batch.select(col("doc_id"), col("text"), col("lang"),
          col("source"), col("n_chars")).localCheckpoint()
        val arrived = acc.fold(b)(_.union(b).localCheckpoint())
        val drift = TextAnalysis.topicDriftOf(corpusC, arrived).localCheckpoint()
        // 1-row control-plane scalar: the standing worst-source drift
        val worst = drift.agg(coalesce(max(col("drift_bp")), lit(0L)))
          .collect()(0).getLong(0)
        (Some(arrived), Some(drift), obs :+ DriftObs(bid, worst, worst >= thresholdBp))
    }
    // no commit, no standing table: the drift table's columns, no rows
    (standing.getOrElse(TextAnalysis.topicDriftOf(corpusC, corpusC).limit(0)), obs)
  }
}
