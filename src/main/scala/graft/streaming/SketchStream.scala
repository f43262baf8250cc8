package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming sketch maintenance — the arrival-time dual of
  * [[graft.ops.Sketches]]: document batches stream in and the running
  * HLL register state is merged per micro-batch (elementwise max — the
  * sketch merge law), so the vocabulary-cardinality estimate is
  * available after EVERY trigger without ever re-scanning ingested data.
  *
  * This is the canonical streaming-sketch contract: state is the
  * register relation itself — at most `sources × m` small rows however
  * much data has streamed through — and because register merge is
  * associative and commutative AND registers are insensitive to
  * duplicate items, the final state is EXACTLY the one-shot batch build
  * over the union of all batches, regardless of how the files split
  * into triggers or how items repeat across them (the property the spec
  * pins). Contrast with exact streaming `count(distinct)`: its state is
  * the distinct key set itself, unbounded.
  */
object SketchStream {

  /** Stream documents from `docDir` (AvailableNow catch-up, one file per
    * micro-batch), folding each batch's per-source shingle vocabulary
    * into the running HLL registers; returns the final
    * `(source, bucket, m_j)` register relation.
    */
  def hllRegisterBatches(
      spark: SparkSession, docDir: String, checkpoint: String): DataFrame = {
    import graft.ops.{Dedup, Sketches, TextDedup}
    def registers(batch: DataFrame): DataFrame = {
      val sh = TextDedup.shingles(batch, col("doc_id"), col("text"), Dedup.ShingleK)
      val src = sh
        .join(batch.select(col("doc_id").as("id"), col("source")), Seq("id"))
        .select(col("source"), col("s"))
        .distinct()
      val regs = Sketches.hllRegisters(src).localCheckpoint()
      sh.unpersist()
      regs
    }
    Drain.fold(spark, docDir, IngestDedup.docSchema, checkpoint)(Option.empty[DataFrame]) {
      (regs, batch, _) =>
        val bregs = registers(batch)
        // merge law: registers of a union are the elementwise max
        Some(regs.fold(bregs)(r =>
          r.unionByName(bregs)
            .groupBy(col("source"), col("bucket"))
            .agg(max(col("m_j")).as("m_j"))
            .localCheckpoint()))
    }.getOrElse(registers(Drain.emptyBatch(spark, IngestDedup.docSchema)))
  }

  /** The running cardinality estimate from the streamed registers —
    * [[graft.ops.Sketches.hllEstimate]] applied to
    * [[hllRegisterBatches]]'s final state.
    */
  def hllEstimateBatches(
      spark: SparkSession, docDir: String, checkpoint: String): DataFrame =
    graft.ops.Sketches.hllEstimate(hllRegisterBatches(spark, docDir, checkpoint))
      .orderBy(col("source"))

  /** Streaming count-min maintenance: each micro-batch's shingle-df
    * deltas fold into the running `(r, idx, c)` counters by cellwise SUM
    * — the CMS merge law. State is the d·w counter grid forever.
    *
    * Unlike the HLL registers, counters are sensitive to multiplicity, so
    * the equality with the one-shot batch build relies on the file
    * source's exactly-once FILE delivery (each file's postings fold in
    * exactly once across triggers) — which Structured Streaming's
    * checkpointed file index provides; the spec pins the sum-merge law by
    * splitting the corpus across files and comparing the folded counters
    * against the one-shot batch build of the whole corpus.
    */
  def cmsCounterBatches(
      spark: SparkSession, docDir: String, checkpoint: String): DataFrame = {
    import graft.ops.{Dedup, Sketches, TextDedup}
    def counters(batch: DataFrame): DataFrame = {
      val sh = TextDedup.shingles(batch, col("doc_id"), col("text"), Dedup.ShingleK)
      val delta = Sketches.cmsCounters(
        sh.groupBy(col("s")).agg(count(lit(1)).as("df"))).localCheckpoint()
      sh.unpersist()
      delta
    }
    Drain.fold(spark, docDir, IngestDedup.docSchema, checkpoint)(Option.empty[DataFrame]) {
      (acc, batch, _) =>
        val delta = counters(batch)
        Some(acc.fold(delta)(c =>
          c.unionByName(delta)
            .groupBy(col("r"), col("idx")).agg(sum(col("c")).as("c"))
            .localCheckpoint()))
    }.getOrElse(counters(Drain.emptyBatch(spark, IngestDedup.docSchema)))
  }
}
