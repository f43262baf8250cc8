package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ops.Layout

/** Streaming re-cluster maintenance — the arrival-time face of
  * [[graft.ops.Layout.qReclusterPlan]]: a Hilbert-clustered base table
  * receives unclustered ingest appends in micro-batches; after every
  * commit the gate re-measures the clustering drift ([[Layout
  * .reclusterDrift]]'s zone-map width regression, in basis points) and,
  * the moment the drift crosses the maintenance threshold, emits the
  * Hilbert-RESTORE group plan over base ∪ appends — the manifest a table
  * service hands to rewrite tasks. Between OPTIMIZE runs this is exactly
  * the loop Delta/Iceberg-style clustering maintenance services run:
  * ingest drifts the layout, a standing drift query watches, a threshold
  * schedules the rewrite.
  *
  * Stream == batch holds exactly because the decision is a PURE function
  * of the accumulated relation: the drift measure lays "appended" rows
  * out in (ok, ln) commit order regardless of WHICH micro-batch delivered
  * them, and the restore ranking orders by the Hilbert key alone — so
  * after the final batch the standing plan is bit-identical to the batch
  * query over the same rows (StreamingSpec pins this across trigger
  * splits, plus the quiet branch: a still-clustered table never fires).
  *
  * Scale: per commit batch, two zone-map passes + (only when firing) one
  * globalRank pass over the table — all range-exchange, no per-row state.
  * At 100 TB the drift re-measure runs on a schedule rather than every
  * commit (the gate's trigger choice), and per-partition rather than
  * table-wide; the per-batch 1-row drift collect is control-plane by
  * construction.
  */
object ReclusterStream {

  /** One drift observation per processed micro-batch. */
  final case class DriftObs(batchId: Long, driftBp: Long, triggered: Boolean)

  /** Run the maintenance gate over `deltaDir` (parquet arrivals shaped
    * like `base`: ok, ln, qty, pc, zk, hk) against the Hilbert-clustered
    * `base` relation. Returns the STANDING restore plan after the last
    * batch (empty when drift never reached `thresholdBp`) plus the
    * per-batch drift trace.
    */
  def reclusterGate(
      spark: SparkSession,
      base: DataFrame,
      deltaDir: String,
      checkpoint: String,
      thresholdBp: Long = Layout.DriftThresholdBp,
      groupRows: Int = Layout.ReclusterGroupRows): (DataFrame, Seq[DriftObs]) = {
    val deltaSchema = StructType(base.schema.fields.toSeq)
    val (_, standing, obs) = Drain.fold(spark, deltaDir, deltaSchema, checkpoint)(
        (Option.empty[DataFrame], Option.empty[DataFrame], Vector.empty[DriftObs])) {
      case ((acc, _, obs), batch, bid) =>
        val arrived = acc.fold(batch.localCheckpoint())(_.union(batch).localCheckpoint())
        val keyed = base.withColumn("segment", lit(0))
          .unionByName(arrived.withColumn("segment", lit(1)))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        // 1-row control-plane scalar: the standing drift after this commit
        val drift = Layout.reclusterDrift(keyed).collect()(0).getLong(0)
        val fire = drift >= thresholdBp
        // Re-decide EVERY commit (clearing on non-firing ones): the batch
        // decision is empty below threshold, so a drift that crossed in an
        // early batch and fell back by the last must leave no standing plan
        // — otherwise the stream==batch contract breaks.
        val plan =
          if (fire) Some(Layout.reclusterDecision(keyed, thresholdBp, groupRows).localCheckpoint())
          else None
        keyed.unpersist()
        (Some(arrived), plan, obs :+ DriftObs(bid, drift, fire))
    }
    // no firing last commit: the decision's columns over no rows
    (standing.getOrElse(Layout.reclusterDecision(
      base.withColumn("segment", lit(0)).limit(0), thresholdBp, groupRows).limit(0)), obs)
  }
}
