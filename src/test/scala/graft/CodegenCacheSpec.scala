package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** A query served again compiles no generated class: the shared session,
  * like every `GraftSession.builder()` session, sizes Spark's JVM-wide
  * generated-code cache to [[GraftSession.CodegenCacheEntries]]. At
  * Spark's default of 100 entries the twelve short ops-mix queries
  * (118 classes a pass in this order) evict each other, and their
  * second pass compiles 87 classes again.
  */
class CodegenCacheSpec extends SparkFunSuite {

  /** The twelve short ops-mix queries: no artifact, no iteration. */
  private val queries = Seq(
    "q_topk_orders", "q_date_funcs", "q_sample_quota", "q_sample_priority",
    "q_contingency", "q_multimodal_mp4", "q_attribution_decay", "q_multimodal_roundtrip",
    "q_shard_rendezvous", "q06_forecast_revenue", "q_template_prefixes", "q_skew_profile")

  /** Classes a warm pass may still compile. Under adaptive execution the
    * stages of one query can be planned in either order; each order
    * numbers the whole-stage classes differently, and the stage number is
    * part of the class source. q_contingency compiles 4 classes when its
    * order flips; a class numbered both ways is cached both ways. */
  private val WarmBound = 8

  private def compiled(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Classes compiled while every query runs once, in a fixed order. */
  private def pass(dir: String): Long = {
    val before = compiled()
    queries.foreach { q =>
      SparkEntry.queries(q)(spark, dir).collect()
      Caches.releaseAll(spark)
    }
    compiled() - before
  }

  test("a second pass over the short ops-mix queries compiles (almost) nothing") {
    val dir = "/root/testdata/sf0.001"
    val cold = pass(dir)
    val warm = pass(dir)
    assert(warm <= WarmBound, s"warm pass compiled $warm classes (cold pass: $cold)")
  }
}
