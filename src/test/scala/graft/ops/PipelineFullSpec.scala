package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkFunSuite

/** The end-to-end corpus build (round 11): domain checks on the packed
  * output, determinism across runs, and the stage-composition properties
  * the aggregate shape can still witness. The DuckDB oracle replaying all
  * ten stages is the correctness gate; these specs pin the contracts a
  * hash can't see (domains, eval exclusion, chunk accounting).
  */
class PipelineFullSpec extends SparkFunSuite {

  private val sf = "/root/testdata/sf0.001"

  test("pipeline composite: packed output domains and chunk accounting") {
    val rows = Pipeline.qPipelineFull(spark, sf).collect().toSeq
    assert(rows.nonEmpty)
    val splits = rows.map(_.getString(0)).toSet
    assert(splits.subsetOf(Set("train", "val", "test")))
    assert(rows.forall(r => r.getLong(1) >= 0 && r.getLong(1) < 8), "shard ∈ [0,8)")
    assert(rows.forall(_.getLong(3) >= 1), "every chunk holds ≥1 doc")
    assert(rows.forall(r => r.getLong(5) <= r.getLong(6)), "min_doc ≤ max_doc")
    // stage 0 pins: the eval stand-in (doc_id ≡ 0 mod 20) never reaches
    // packing, so no chunk's id range can be a single eval doc
    assert(rows.forall(r => !(r.getLong(5) == r.getLong(6) && r.getLong(5) % 20 == 0)))
    // the gates really dropped documents: packed docs < train-corpus size
    val trainDocs = spark.read.parquet(s"$sf/documents.parquet")
      .filter(pmod(col("doc_id"), lit(20)) =!= 0).count()
    assert(rows.map(_.getLong(3)).sum < trainDocs)
  }

  test("pipeline composite is deterministic across invocations") {
    val a = Pipeline.qPipelineFull(spark, sf).collect().toSeq
    val b = Pipeline.qPipelineFull(spark, sf).collect().toSeq
    assert(a == b)
  }

  test("pipeline stage metrics match independently recomputed stage counts") {
    val out = Pipeline.qPipelineFull(spark, sf).collect().toSeq
    val m = Pipeline.lastPipelineMetrics.get.view.mapValues(_.asInstanceOf[Long]).toMap
    // independent recomputes of the boundaries a plain scan can rebuild
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .filter(pmod(col("doc_id"), lit(20)) =!= 0)
      .select(col("doc_id"), TextOps.tokens(col("text")).as("t"))
    val gatedInd = docs
      .withColumn("q", TextAnalysis.qualityScoreC(
        TextAnalysis.stopRatioC(col("t")),
        TextAnalysis.typeTokenRatioC(col("t")),
        TextAnalysis.lengthOkC(col("t"))))
      .filter(TextAnalysis.langPredC(col("t")) === "en" &&
        col("q") >= Pipeline.QualityMin)
      .select(col("doc_id"), md5(concat_ws(" ", col("t"))).as("fp"))
    assert(m("rows_gated") === gatedInd.count())
    assert(m("rows_exact_kept") === gatedInd.select(col("fp")).distinct().count())
    // the packed output is the sampled set, chunk-partitioned
    assert(m("rows_sampled") === out.map(_.getLong(3)).sum)
    // the cascade only ever drops documents
    val chain = Seq(m("rows_gated"), m("rows_exact_kept"), m("rows_near_kept"),
      m("rows_sem_kept"), m("rows_clean"), m("rows_sampled"))
    assert(chain.zip(chain.tail).forall { case (a, b) => b <= a }, s"chain: $chain")
    assert(chain.last > 0)
  }

  test("classifier gate: totals reconcile with an independent stored-model scoring pass") {
    val rows = Pipeline.qPipelineGated(spark, sf).collect().toSeq
    assert(rows.nonEmpty)
    // gate invariants: only pos verdicts pass (score ≥ neutral), dedup
    // only drops, and every survivor carries ≥1 token
    rows.foreach { r =>
      assert(r.getAs[Long]("min_score_micro") >= 1000000L)
      assert(r.getAs[Long]("n_surv") >= 0L &&
        r.getAs[Long]("n_surv") <= r.getAs[Long]("n_kept"))
      assert(r.getAs[Long]("n_toks_surv") >= r.getAs[Long]("n_surv"))
    }
    // independent recount off the same stored model: kept mass and the
    // post-dedup survivor mass (distinct fingerprints among kept)
    val scored = Pipeline.gatedScored(spark, sf)
      .filter(TextAnalysis.nbVerdict(col("score_micro")) === "pos")
    assert(rows.map(_.getAs[Long]("n_kept")).sum === scored.count())
    assert(rows.map(_.getAs[Long]("n_surv")).sum ===
      scored.select(col("fp")).distinct().count())
  }

  test("intake observe-metrics equal a recount of the verdict table") {
    val out = Pipeline.qIntake(spark, sf).collect().toSeq
    val m = Pipeline.lastIntakeMetrics.get.view.mapValues(_.asInstanceOf[Long]).toMap
    assert(m("rows_arrived") === out.size.toLong)
    val byReason = out.groupBy(_.getString(2)).view.mapValues(_.size.toLong).toMap
    Seq("clean", "exact_dup", "near_dup", "semantic_dup",
        "contaminated", "lang", "quality").foreach { r =>
      assert(m(s"n_$r") === byReason.getOrElse(r, 0L), s"reason $r")
    }
    assert(m("rows_arrived") ===
      Seq("clean", "exact_dup", "near_dup", "semantic_dup",
        "contaminated", "lang", "quality").map(r => m(s"n_$r")).sum)
    assert(m("clean_tokens") ===
      out.filter(_.getString(2) == "clean").map(_.getLong(1)).sum)
  }

  test("intake, dup-rate and ppl-bucket queries compute their intermediates inline") {
    Seq(Pipeline.qIntakeFull _, Dedup.qDupRate _, TextAnalysis.qPplBuckets _)
      .foreach(q => assert(q(spark, sf).collect().nonEmpty))
    val log = graft.ServingIndexes.buildLog
    Seq("intake-arrivals", "dup-spans", "lm-trigram-scores").foreach { k =>
      assert(!log.contains(k), s"$k was stored as a session artifact")
    }
  }

  test("packing invariant: chunk_id equals floor of the doc-order token prefix") {
    // within every (split, shard), chunk token totals reconstruct the
    // prefix sums: chunk c starts at the cumulative tokens of chunks < c
    val rows = Pipeline.qPipelineFull(spark, sf)
      .orderBy(col("split"), col("shard"), col("chunk_id")).collect().toSeq
    rows.groupBy(r => (r.getString(0), r.getLong(1))).foreach { case (_, chunks) =>
      var cum = 0L
      chunks.sortBy(_.getLong(2)).foreach { r =>
        assert(r.getLong(2) == cum / Corpus.PackBudget,
          s"chunk ${r.getLong(2)} should start at prefix $cum")
        cum += r.getLong(4)
      }
    }
  }
}
