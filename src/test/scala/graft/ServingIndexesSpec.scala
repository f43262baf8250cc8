package graft

import org.apache.spark.sql.functions._

import graft.ops.{Similarity, VectorSearch}

/** The build-once registry behind every session artifact: one build per
  * (artifact, data dir) per JVM, distinct corpora never share an
  * artifact, build times are itemized once, and the queries that ride a
  * shared build stay bit-identical to their in-session duals.
  */
class ServingIndexesSpec extends SparkFunSuite {

  test("ensure builds once per (key, dataDir) and re-serves the same path") {
    var builds = 0
    val a = ServingIndexes.ensure("spec-count", "/dir/one") { d =>
      builds += 1
      java.nio.file.Files.writeString(java.nio.file.Paths.get(d, "x"), "1")
    }
    val b = ServingIndexes.ensure("spec-count", "/dir/one")(_ => builds += 1)
    assert(a == b && builds == 1, "second ensure must serve, not retrain")
    val c = ServingIndexes.ensure("spec-count", "/dir/two")(_ => builds += 1)
    assert(c != a && builds == 2, "a different corpus dir must get its own build")
    assert(ServingIndexes.ensure("spec-other", "/dir/one")(_ => builds += 1) != a)
    assert(builds == 3)
  }

  test("a failed build is not memoized — the next caller retrains") {
    var attempts = 0
    intercept[RuntimeException] {
      ServingIndexes.ensure("spec-fail", "/dir") { _ =>
        attempts += 1
        throw new RuntimeException("boom")
      }
    }
    ServingIndexes.ensure("spec-fail", "/dir")(_ => attempts += 1)
    assert(attempts == 2)
  }

  test("model builds once per (key, dataDir), retries a failed build and logs its time") {
    var builds = 0
    intercept[RuntimeException] {
      ServingIndexes.model("spec-model", "/dir/one") {
        builds += 1
        throw new RuntimeException("boom")
      }
    }
    assert(!ServingIndexes.buildLog.contains("spec-model"), "a failed build must not be logged")
    val a = ServingIndexes.model("spec-model", "/dir/one") { builds += 1; Array(1L, 2L) }
    val b = ServingIndexes.model("spec-model", "/dir/one") { builds += 1; Array(3L) }
    assert((a eq b) && builds == 2, "second call must serve the first model")
    val c = ServingIndexes.model("spec-model", "/dir/two") { builds += 1; Array(3L) }
    assert(c.toSeq == Seq(3L) && builds == 3, "a different corpus dir must get its own build")
    assert(ServingIndexes.buildLog.contains("spec-model"))
  }

  test("a build nested in another is timed under its own key only") {
    val sleepMs = 200L
    ServingIndexes.ensure("spec-outer", "/dir") { _ =>
      ServingIndexes.ensure("spec-inner", "/dir")(_ => Thread.sleep(sleepMs))
    }
    val log = ServingIndexes.buildLog
    assert(log("spec-inner") >= sleepMs / 1e3)
    assert(log("spec-outer") < sleepMs / 1e3, log)
  }

  test("queries sharing one artifact stay bit-identical to in-session search") {
    val sf = "/root/testdata/sf0.001"
    // qSimIvfIndexed triggers the shared ivf-index build; qRankFusion and
    // qAnnRecallIndexed must then serve from the SAME stored artifact and
    // still match their in-session duals bit-for-bit.
    val ivfServed = Similarity.qSimIvfIndexed(spark, sf).collect().toSeq
    val ivfLive = Similarity.qSimIvfTopK(spark, sf).collect().toSeq
    assert(ivfServed == ivfLive)
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val sharedDir = ServingIndexes.ensure("ivf-index", sf)(_ =>
      fail("ivf-index for this dir must already be built"))
    val direct = VectorSearch.ivfTopKFromIndex(
      emb, col("vec_id"), col("embedding"), sharedDir, Similarity.QueryIds,
      Similarity.K).collect().toSeq
    assert(direct.map(_.toSeq) == ivfServed.map(_.toSeq))
  }
}
