package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming corpus-version diff — the arrival-time dual of the batch
  * [[graft.ops.Checks.snapshotDiff]] reconcile (the last batch-only
  * maintenance query without an arrival-time form): the NEXT corpus
  * version arrives as a document feed, and after every commit the
  * standing added / changed / unchanged / deleted ledger vs the previous
  * snapshot is re-emitted — "deleted" starts at the whole snapshot and
  * drains as keys arrive, the other three accumulate.
  *
  * The ledger is maintained INCREMENTALLY, never by re-running the
  * full-outer reconcile: per commit the delta batch is resolved per key
  * by the greatest `(fp, n_tok, grp)` struct — and a re-arriving key's
  * STORED winner re-enters that same resolve as one more candidate row,
  * so the standing verdict for a key is always the max-struct over every
  * row ever delivered for it. Max is associative, commutative and
  * idempotent, which is exactly what makes the final ledger equal to the
  * one-shot batch diff of the resolved feed under ANY trigger split
  * (last-commit-wins would not be: it disagrees with the within-commit
  * rule whenever a split separates two versions of a key) — spec-pinned
  * against [[graft.ops.Checks.qSnapshotDiff]]. The resolved winner is
  * looked up against the previous snapshot once and folded into
  * per-(group, status) counters as +new / −old / −deleted transitions.
  *
  * Scale: per commit, one batch-sized lookup join against the snapshot
  * (key-partitioned; bucket-pinned on a cluster, so the snapshot is
  * probed, not scanned), one batch-sized semi/anti pair against the
  * standing arrived-key state, and a counter-table-sized aggregate
  * (groups × 4 statuses). The corpus is never re-joined or re-aggregated
  * per commit; state grows only with arrived keys.
  */
object SnapshotDiffStream {

  /** Run the diff ledger over `docDir` (documents-shaped arrival files =
    * the next corpus version) against `prev`, the previous snapshot with
    * columns `(k, grp, fp, n_tok)`. Returns one ledger frame per commit
    * (grp, status, n_docs, token_delta), zero-count rows dropped; the
    * last one is the final diff.
    */
  def run(
      spark: SparkSession,
      docDir: String,
      checkpoint: String,
      prev: DataFrame): Seq[DataFrame] = {
    val prevK = prev.select(col("k"), col("grp").as("grp_p"),
      col("fp").as("fp_p"), col("n_tok").as("tp")).localCheckpoint()
    // before anything arrives, every snapshot key is 'deleted'
    val init = prevK.groupBy(col("grp_p").as("grp"))
      .agg(count(lit(1)).as("n_docs"), (-sum(col("tp"))).as("token_delta"))
      .select(col("grp"), lit("deleted").as("status"),
        col("n_docs"), col("token_delta"))
      .localCheckpoint()
    // arrived-key state: (k, grp, status, tc, tp, fp) — fp kept so a
    // re-arrival can re-enter the max-struct resolve below
    Drain.fold(spark, docDir, IngestDedup.docSchema, checkpoint)(
        (init, Option.empty[DataFrame], Vector.empty[DataFrame])) {
      case ((counters, state, emissions), batch, _) =>
        // per-key resolve: greatest (fp, n_tok, grp) wins — with each
        // re-arriving key's STORED winner as one more candidate, so the
        // rule is the same within and across commits (split-invariant)
        val cand = batch.select(col("doc_id").as("k"), col("source").as("grp_c"),
          md5(col("text")).as("fp_c"),
          size(graft.ops.TextOps.tokens(col("text"))).cast("long").as("tc"))
        val withOld = state.fold(cand)(st => cand.unionByName(
          st.join(cand.select(col("k")), Seq("k"), "left_semi")
            .select(col("k"), col("grp").as("grp_c"),
              col("fp").as("fp_c"), col("tc"))))
        val b = withOld
          .groupBy(col("k"))
          .agg(max(struct(col("fp_c"), col("tc"), col("grp_c"))).as("m"))
          .select(col("k"), col("m.grp_c").as("grp_c"),
            col("m.fp_c").as("fp_c"), col("m.tc").as("tc"))
        val bj = b.join(prevK, Seq("k"), "left")
          .select(col("k"), col("grp_c").as("grp"), col("grp_p"), col("fp_c"),
            when(col("fp_p").isNull, "added")
              .when(col("fp_p") =!= col("fp_c"), "changed")
              .otherwise("unchanged").as("status"),
            col("tc"), coalesce(col("tp"), lit(0L)).as("tp"),
            col("fp_p").isNotNull.as("had_prev"))
          .localCheckpoint()
        val delta = col("tc") - col("tp")
        val arrived = bj.select(col("grp"), col("status"),
          lit(1L).as("n_docs"), delta.as("token_delta"))
        val transitions = state match {
          case None =>
            // first commit: every snapshot-backed arrival leaves 'deleted'
            arrived.unionByName(bj.filter(col("had_prev"))
              .select(col("grp_p").as("grp"), lit("deleted").as("status"),
                lit(-1L).as("n_docs"), col("tp").as("token_delta")))
          case Some(st) =>
            // re-arrivals replace their earlier verdict; only FIRST-time
            // snapshot-backed arrivals drain 'deleted'
            val rearr = st.join(bj.select(col("k")), Seq("k"), "left_semi")
            val fresh = bj.join(st.select(col("k")), Seq("k"), "left_anti")
            arrived
              .unionByName(rearr.select(col("grp"), col("status"),
                lit(-1L).as("n_docs"), (col("tp") - col("tc")).as("token_delta")))
              .unionByName(fresh.filter(col("had_prev"))
                .select(col("grp_p").as("grp"), lit("deleted").as("status"),
                  lit(-1L).as("n_docs"), col("tp").as("token_delta")))
        }
        val next = counters.unionByName(transitions)
          .groupBy(col("grp"), col("status"))
          .agg(sum(col("n_docs")).as("n_docs"),
            sum(col("token_delta")).as("token_delta"))
          .localCheckpoint()
        val keyed = bj.select(col("k"), col("grp"), col("status"),
          col("tc"), col("tp"), col("fp_c").as("fp"))
        val nextState = state.fold(keyed)(
          _.join(bj.select(col("k")), Seq("k"), "left_anti").unionByName(keyed))
          .localCheckpoint()
        (next, Some(nextState), emissions :+ next.filter(col("n_docs") > 0)
          .orderBy(col("grp"), col("status")).localCheckpoint())
    }._3
  }
}
