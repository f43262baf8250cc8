package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Streaming photo-ingest BURST gate — the arrival-time dual of
  * [[graft.ops.Multimodal.qExifBurstDedup]]: photos arrive as a binary
  * file feed, each micro-batch decodes its (geo-cell, capture-hour) keys
  * straight from the EXIF bytes (the shared
  * [[graft.ops.Multimodal.burstKeys]] formula — the batch audit and this
  * gate cannot diverge), and a standing cell registry decides per arrival
  * whether it OPENS a burst (admitted) or JOINS one (duplicate, carrying
  * the burst's survivor id for provenance). Unlike the stateless
  * fingerprint gates ([[IngestDedup.flagExactDups]]), bursts SPAN
  * commits — the second shot of a burst may arrive hours after the first
  * — so the gate keeps state; the registry is its own bound:
  * (geo-cells × 24 hours)-sized regardless of how many photos ever
  * arrive, the smallest state any cross-batch dedup in the suite holds.
  *
  * First-arrival-wins across commits, min-doc_id within a commit — the
  * within-commit rule equals the batch audit's min-id survivor, so when
  * arrivals are delivered in id order the final registry IS the batch
  * audit's group table under ANY trigger split (spec-pinned for 2- and
  * 3-way splits). Undecodable payloads are dropped by [[graft.ops.Multimodal.burstKeys]]
  * (the quarantine path) and never touch the registry.
  *
  * Scale per commit: one narrow codegen projection over the batch, one
  * batch-keyed aggregate, and two joins against the registry — which is
  * cells-bounded, so both sides of every join are small; the photo
  * payloads never leave the executors and are never retained.
  */
object ExifIngestStream {

  /** Parquet schema of a photo ingest feed. */
  val photoSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("content", BinaryType),
  ))

  private val KeyCols = Seq("lat_cell", "lon_cell", "hour")

  /** Run the gate over `photoDir` (AvailableNow, one file per trigger).
    * Returns (verdicts, registry): one verdict row per decodable arrival
    * `(doc_id, lat_cell, lon_cell, hour, dup_of, admitted)` — `dup_of`
    * null iff admitted — and the final standing registry
    * `(lat_cell, lon_cell, hour, survivor, n_photos)`.
    */
  def burstGate(
      spark: SparkSession,
      photoDir: String,
      checkpoint: String): (DataFrame, DataFrame) = {
    val kc: Seq[Column] = KeyCols.map(col)
    val (registry, verdicts) = Drain.rows(spark, photoDir, photoSchema, checkpoint,
        Option.empty[DataFrame]) { (registry, batch) =>
      val keys = graft.ops.Multimodal.burstKeys(batch).localCheckpoint()
      val bAgg = keys.groupBy(kc: _*)
        .agg(min(col("doc_id")).as("bmin"), count(lit(1)).as("bcnt"))
      val std = registry.fold(
        bAgg.select(kc :+ col("bmin").as("survivor") :+
          col("bcnt").as("n_std"): _*).limit(0))(
        _.select(kc :+ col("survivor") :+ col("n_photos").as("n_std"): _*))
      // untouched standing bursts persist; new cells open with the
      // commit's min id; re-touched cells keep their first survivor
      val merged = std.join(bAgg, KeyCols, "full")
        .select(kc :+
          coalesce(col("survivor"), col("bmin")).as("survivor") :+
          (coalesce(col("n_std"), lit(0L)) +
            coalesce(col("bcnt"), lit(0L))).as("n_photos"): _*)
        .localCheckpoint()
      val v = keys
        .join(std.select(kc :+ col("survivor").as("std_surv"): _*),
          KeyCols, "left")
        .join(bAgg.select(kc :+ col("bmin"): _*), KeyCols, "left")
        .select(col("doc_id") +: kc :+
          when(col("std_surv").isNotNull, col("std_surv"))
            .when(col("doc_id") =!= col("bmin"), col("bmin"))
            .otherwise(lit(null).cast(LongType)).as("dup_of"): _*)
        .withColumn("admitted", col("dup_of").isNull)
        .localCheckpoint()
      (Some(merged), v)
    }
    // rows applies the step at least once (to an empty batch when no
    // file arrived), so the registry is always defined
    (verdicts, registry.get)
  }
}
