package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming token-budget maintenance — the arrival-time face of
  * [[graft.ops.Corpus.qTokenWaterfill]]: as documents land, the gate
  * carries one token total per source (control-plane state, the same
  * bounded-map idiom as the compaction planner) and re-derives the
  * water-filling allocation after every commit, so the mixture controller
  * always has the CURRENT budget plan instead of a nightly one. Sources
  * that grow past the waterline get capped the moment they do; the
  * budget (60% of current total tokens) floats with the corpus.
  *
  * Stream == batch holds exactly because the plan is a pure closed-form
  * function of the per-source totals, and long addition is associative —
  * ANY split of the feed leaves the same totals, hence the same waterline
  * (spec-pinned across trigger splits).
  *
  * Scale: per batch, one map-side-combinable aggregate over the batch
  * plus a |sources|-row closed-form pass; the state-update collect is
  * |sources| rows.
  */
object WaterfillStream {

  /** Run the gate over `docDir` (documents-shaped arrivals) and return
    * the standing allocation plan after the final commit, plus the
    * per-batch waterline trace. The plan is a pure function of the carried
    * totals, so it is derived from the final totals (an empty plan when
    * no file arrived).
    */
  def waterfillGate(
      spark: SparkSession,
      docDir: String,
      checkpoint: String): (DataFrame, Seq[Long]) = {
    import spark.implicits._
    def plan(totals: Map[String, Long]): DataFrame =
      graft.ops.Corpus.waterfillFrom(totals.toSeq.toDF("source", "n"))
    val (totals, trace) = Drain.fold(spark, docDir, IngestDedup.docSchema, checkpoint)(
        (Map.empty[String, Long], Vector.empty[Long])) { case ((totals, trace), batch, _) =>
      val next = batch
        .groupBy(col("source"))
        .agg(sum(graft.functions.TokenCount(col("text")).cast("long")).as("n"))
        .collect() // |sources|-row state update — control-plane
        .foldLeft(totals) { case (m, r) =>
          m.updated(r.getString(0), m.getOrElse(r.getString(0), 0L) + r.getLong(1))
        }
      (next, trace :+ plan(next).select(max(col("waterline"))).collect()(0).getLong(0))
    }
    (plan(totals), trace)
  }
}
