package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming GEO-DIVERSITY admission gate — the arrival-time face of
  * [[graft.ops.Multimodal.qGeoDiversityMix]]: photos arrive as a binary
  * feed, each micro-batch decodes its geo-cells straight from the EXIF
  * bytes (the shared [[graft.ops.Multimodal.burstKeys]] walk) and admits
  * each arrival iff its md5 keep-bucket clears the FROZEN per-cell
  * temperature threshold ([[graft.ops.Multimodal.cellRates]] over the
  * standing corpus — the same formula the batch mix computes, so the
  * realized stream sample IS the batch sample). An arrival from a cell
  * the standing rates never saw is ADMITTED (threshold 10⁴ — an unseen
  * cell is rarer than the rarest known cell, and the temperature rule
  * keeps the smallest cell at 100 %).
  *
  * Stream == batch holds because the verdict is a pure row function of
  * (arrival bytes, frozen rates) — no state, no arrival pairing — so
  * gating per micro-batch equals the one-shot gate of the whole feed
  * under any trigger split (spec-pinned for 2- and 3-way splits).
  *
  * Scale per commit: one narrow codegen projection over the batch plus
  * one broadcast join against the (≤ 18×36 cells)-sized rate table; the
  * photo payloads never leave the executors.
  */
object GeoSampleStream {

  /** Per-arrival verdicts of one batch against frozen rates:
    * `(doc_id, lat_cell, lon_cell, kept)`. Undecodable payloads are
    * dropped by [[graft.ops.Multimodal.burstKeys]] (the quarantine
    * path), same as the batch mix.
    */
  def keepBatch(batch: DataFrame, rates: DataFrame): DataFrame =
    graft.ops.Multimodal.burstKeys(batch)
      .join(broadcast(rates.select(col("lat_cell"), col("lon_cell"), col("thr"))),
        Seq("lat_cell", "lon_cell"), "left")
      .select(col("doc_id"), col("lat_cell"), col("lon_cell"),
        (graft.ops.Multimodal.keepBucket(col("doc_id")) <
          coalesce(col("thr"), lit(10000L))).as("kept"))

  /** Run the gate over `photoDir` (one file per trigger) and return the
    * accumulated verdict rows. The rate table is pinned once for the
    * whole stream — the frozen-artifact serving discipline of
    * [[QualityServeStream]].
    */
  def run(spark: SparkSession, photoDir: String, checkpoint: String,
      rates: DataFrame): DataFrame = {
    val frozen = rates.localCheckpoint()
    Drain.rows(spark, photoDir, ExifIngestStream.photoSchema, checkpoint)(keepBatch(_, frozen))
  }
}
