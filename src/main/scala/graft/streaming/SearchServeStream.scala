package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Streaming BM25 search serving over a PERSISTED inverted index — the
  * text-search sibling of [[VectorServeStream]]: search REQUESTS
  * `(qid, term)` stream in (one row per query term), and each micro-batch
  * serves its queries' top-k from the stored postings/df/dl/tot relations
  * via the exact batch path
  * ([[graft.ops.TextAnalysis.bm25TopKFromIndex]]).
  *
  * Each query's result is a deterministic function of its term set and
  * the static index, so serving batch-by-batch equals the one-shot batch
  * serve of every query — the property the spec pins — and a qid repeated
  * in a later batch is answered once (first batch wins, the
  * [[VectorServeStream.servePqRequests]] dedup discipline). The per-batch
  * `collect()` moves only that batch's (qid, term) rows — control-plane
  * sized.
  *
  * Scale: the index is built once (one corpus scan on the big cluster);
  * each served query reads ONLY its terms' postings (In-filter pushed to
  * the term-clustered parquet) plus metadata relations — per-query cost
  * independent of corpus text size.
  */
object SearchServeStream {

  /** Parquet schema of a search-request stream: one row per query term. */
  val requestSchema: StructType = StructType(Seq(
    StructField("qid", LongType),
    StructField("term", StringType)))

  /** Serve every request file under `requestDir` (AvailableNow catch-up;
    * one file per micro-batch) and return the accumulated
    * `(qid, rnk, doc_id, score_bp, n_terms)` results.
    */
  def serveBm25Requests(
      spark: SparkSession,
      requestDir: String,
      checkpoint: String,
      indexDir: String,
      k: Int): DataFrame = {
    def answer(qid: Long, terms: Seq[String]): DataFrame =
      graft.ops.TextAnalysis.bm25TopKFromIndex(spark, indexDir, terms, k)
        .select(lit(qid).as("qid"), col("rnk"), col("doc_id"), col("score_bp"), col("n_terms"))
    Drain.rows(spark, requestDir, requestSchema, checkpoint, Set.empty[Long]) {
      (served, batch) =>
        val reqs = batch.select(col("qid"), col("term")).distinct()
          .collect().map(r => (r.getLong(0), r.getString(1)))
          .groupBy(_._1).map { case (qid, rows) => qid -> rows.map(_._2).toSeq.sorted }
          .filterNot { case (qid, _) => served(qid) }
        val answered = reqs.toSeq.sortBy(_._1).map { case (qid, terms) => answer(qid, terms) }
        // a query with no terms matches no postings: the empty answer
        (served ++ reqs.keys,
          answered.reduceOption(_.union(_)).getOrElse(answer(0L, Nil)).localCheckpoint())
    }._2
  }
}
