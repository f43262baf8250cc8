package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Streaming next-fit compaction planner — the arrival-time face of
  * [[graft.ops.Layout.qCompactionPlan]]: as ingest commits files into
  * partition directories, each file is assigned its compaction group THE
  * MOMENT IT ARRIVES, so the table-maintenance service can fire a
  * compaction task the instant a group fills instead of discovering
  * small-file debt in a nightly manifest scan.
  *
  * Why stream == batch holds exactly: next-fit-by-running-total is
  * PREFIX-INCREMENTAL — a file's group is `(bytes committed before it in
  * its directory) DIV target`, a pure function of the directory's running
  * byte total. Carrying that one number per directory across micro-batches
  * reproduces the one-shot batch plan under ANY trigger or file split (the
  * property the spec pins). This is the same reason the planner was chosen
  * over first-fit-decreasing in the batch scaladoc: FFD needs the whole
  * manifest before it can place anything; next-fit never looks back.
  *
  * Scale: per batch, one window pass over the BATCH's manifest rows plus a
  * broadcast join against the carried state — one `(source, bytes)` row
  * per partition directory (control-plane-sized, the same bound as the
  * directory count; the state update collect is directory-count rows, in
  * line with the house bounded-collect discipline). Payload bytes never
  * matter — the planner sees only manifest metadata.
  */
object CompactionStream {

  /** Carried per-directory running totals, exposed for inspection. */
  final case class PlanState(carried: Map[String, Long])

  /** Run the gate over `docDir` (documents-shaped arrivals, one manifest
    * row per file: `source` = partition directory, `doc_id` = commit
    * sequence, bytes = text length) and return every file's group
    * assignment `(source, doc_id, bytes, grp)`. Arrival order within a
    * directory IS commit order (the file source delivers in commit order;
    * `doc_id` tie-breaks inside a batch).
    */
  def compactionGate(
      spark: SparkSession,
      docDir: String,
      checkpoint: String,
      target: Long = graft.ops.Layout.CompactTargetBytes): DataFrame = {
    Drain.rows(spark, docDir, IngestDedup.docSchema, checkpoint, Map.empty[String, Long]) {
      (carried, batch) =>
        val sess = batch.sparkSession
        import sess.implicits._
        val base = carried.toSeq.toDF("source", "base")
        val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
        val assigned = batch
          .select(col("source"), col("doc_id"),
            length(col("text")).cast(LongType).as("bytes"))
          .withColumn("cum", sum(col("bytes")).over(w))
          .join(broadcast(base), Seq("source"), "left")
          .na.fill(0L, Seq("base"))
          .select(col("source"), col("doc_id"), col("bytes"),
            expr(s"(base + cum - bytes) DIV $target").as("grp"))
          .localCheckpoint()
        // state update: one row per directory seen in this batch
        val next = assigned.groupBy(col("source")).agg(sum(col("bytes")).as("b"))
          .collect()
          .foldLeft(carried) { case (m, r) =>
            m.updated(r.getString(0), m.getOrElse(r.getString(0), 0L) + r.getLong(1))
          }
        (next, assigned)
    }._2
  }

  final case class FileRow(source: String, doc_id: Long, bytes: Long)
  final case class Assigned(source: String, doc_id: Long, bytes: Long, grp: Long)
  final case class DirState(cum: Long)

  /** The SAME next-fit planner as a true stateful streaming operator:
    * `flatMapGroupsWithState` keyed by directory, state = ONE long (the
    * directory's running byte total) in the state store — so the plan
    * survives driver restarts exactly-once through checkpointing (RocksDB
    * toggle included), where [[compactionGate]]'s driver-held map is
    * rebuilt-from-scratch state. Per group per batch: sort the batch's
    * files by commit sequence (micro-batch-sized), assign
    * `grp = cum DIV target`, advance the total. Emits each file's
    * assignment in Append mode — assignments are immutable once made
    * (next-fit never revisits a placed file), which is what makes Append
    * correct here.
    */
  def compactionAssignments(manifest: DataFrame,
      target: Long = graft.ops.Layout.CompactTargetBytes): org.apache.spark.sql.Dataset[Assigned] = {
    val sess = manifest.sparkSession
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    import sess.implicits._
    manifest
      .select(col("source"), col("doc_id"),
        length(col("text")).cast(LongType).as("bytes"))
      .as[FileRow]
      .groupByKey(_.source)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (src: String, files: Iterator[FileRow],
            state: org.apache.spark.sql.streaming.GroupState[DirState]) => {
          var cum = state.getOption.map(_.cum).getOrElse(0L)
          val out = files.toSeq.sortBy(_.doc_id).map { f =>
            val g = cum / target
            cum += f.bytes
            Assigned(src, f.doc_id, f.bytes, g)
          }
          state.update(DirState(cum))
          out.iterator
        })
  }

  /** Aggregate per-file assignments into the batch planner's group rows —
    * apply to [[compactionGate]] output to compare against
    * [[graft.ops.Layout.qCompactionPlan]] directly.
    */
  def toGroupPlan(assigned: DataFrame,
      target: Long = graft.ops.Layout.CompactTargetBytes): DataFrame =
    assigned.groupBy(col("source"), col("grp"))
      .agg(count(lit(1)).as("n_files"), sum(col("bytes")).as("grp_bytes"),
        min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
      .withColumn("fill_bp", expr(s"grp_bytes * 10000 DIV $target"))
      .orderBy(col("source"), col("grp"))
}
