package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkFunSuite

/** The trained rerank scorer (round 16, VERDICT r15 item 5): the
  * exact-integer class-centroid discriminant replacing the blended
  * teacher at serving time. Pins (a) the training arithmetic against a
  * BigInt hand-replication on a tiny fixture, (b) stored-model serving
  * bit-identical to in-session train→apply, (c) the serving plan reads
  * the weight store and contains no training aggregates.
  */
class RerankScorerSpec extends SparkFunSuite {

  private val sf = "/root/testdata/sf0.001"

  test("training replays the closed-form centroid discriminant exactly") {
    import spark.implicits._
    // 1 query, 8 candidates: CrossK=5 positives by the teacher blend
    val feats = (1 to 8).map { i =>
      (100L, i.toLong, 1000000L - i * 50000L, (i % 4) * 1000L, 5000L + i * 100L)
    }.toDF("q_vec_id", "vec_id", "cos_micro", "jac_bp", "len_bp")
    val got = Similarity.rerankTrain(feats).collect().head

    // BigInt replication of the documented arithmetic
    val rows = (1 to 8).map { i =>
      (i.toLong, 1000000L - i * 50000L, (i % 4) * 1000L, 5000L + i * 100L)
    }
    val ranked = rows.sortBy { case (id, c, j, _) => (-(c + 100 * j), id) }
    val pos = ranked.take(Similarity.CrossK).map(_._1).toSet
    def w(f: ((Long, Long, Long, Long)) => Long): BigInt = {
      val sp = rows.filter(r => pos(r._1)).map(r => BigInt(f(r))).sum
      val sn = rows.filter(r => !pos(r._1)).map(r => BigInt(f(r))).sum
      sp * (rows.size - pos.size) - sn * pos.size
    }
    val (rc, rj, rl) = (w(_._2), w(_._3), w(_._4))
    val l1 = (rc.abs + rj.abs + rl.abs).max(BigInt(1))
    def norm(r: BigInt): Long = (((r + l1) * 1000000) / l1 - 1000000).toLong
    assert((got.getLong(0), got.getLong(1), got.getLong(2)) ===
      ((norm(rc), norm(rj), norm(rl))))
    // L1 normalization keeps every weight inside micro range
    Seq(0, 1, 2).foreach(i => assert(math.abs(got.getLong(i)) <= 1000000L))
  }

  test("stored-model serving is bit-identical to in-session train then apply") {
    val served = Similarity.qRerankScored(spark, sf).collect().toSeq
    val feats = Similarity.rerankFeatures(spark, sf)
    val w = Similarity.rerankTrain(feats)
    val rankW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_vec_id")).orderBy(col("lin_score").desc, col("vec_id"))
    val inSession = feats.crossJoin(broadcast(w))
      .withColumn("lin_score",
        expr("w_cos * cos_micro + w_jac * jac_bp + w_len * len_bp"))
      .withColumn("rnk", row_number().over(rankW).cast("long"))
      .filter(col("rnk") <= Similarity.CrossK)
      .select(col("q_vec_id"), col("rnk"), col("vec_id"), col("lin_score"))
      .orderBy(col("q_vec_id"), col("rnk"))
      .collect().toSeq
    assert(served === inSession)
    assert(served.nonEmpty)
  }

  test("serving plan reads the weight store and never trains") {
    Similarity.rerankScorer(spark, sf) // build outside the measured plan
    val p = Similarity.qRerankScored(spark, sf).queryExecution
      .explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(p.contains("rerank-scorer-"), p.take(2000))
    // the training signature — teacher labeling + centroid aggregates —
    // must be absent from the serving plan
    assert(!p.contains("sp_cos_micro"), "training aggregate in serving plan")
    assert(!p.contains("r_cos"), "centroid difference in serving plan")
  }
}
