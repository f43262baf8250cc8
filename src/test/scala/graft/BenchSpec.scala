package graft

import scala.jdk.CollectionConverters._

class BenchSpec extends SparkFunSuite {
  private val sf = "/root/testdata/sf0.001"

  test("suite record: a throwing query is listed as failed, never timed, and fails the exit status") {
    val queries: Map[String, Bench.Query] = Map(
      "q01_pricing_summary" -> SparkEntry.queries("q01_pricing_summary"),
      "q_dedup_exact" -> SparkEntry.queries("q_dedup_exact"),
      "q_throws" -> ((_, _) => throw new IllegalStateException("injected failure")))
    val rec = Bench.suite(spark, sf, queries, runs = 1, sf1 = false)

    val parsed = Bench.mapper.readTree(Bench.mapper.writeValueAsString(rec))
    assert(parsed.get("metric").asText == "total")
    assert(parsed.get("queries").properties().asScala.map(_.getKey).toSet ==
      Set("q01_pricing_summary", "q_dedup_exact"))
    assert(parsed.get("failed").elements().asScala.map(_.asText).toSeq == Seq("q_throws"))
    assert(Bench.exitCode(parsed) != 0)

    val compact = Bench.compact(rec)
    assert(compact.length <= 1500)
    val line = Bench.mapper.readTree(compact)
    assert(line.get("metric").asText == "total")
    assert(line.get("n_queries").asInt == 2 && line.get("n_failed").asInt == 1)
  }
}
