package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkFunSuite

/** Stored artifacts: the stored dedup candidates table
  * ([[Artifacts.ensureDedupCommons]]) and the stored co-order edge list
  * ([[Graph.coOrderOriented]]) must serve BIT-IDENTICAL relations
  * to the inline computations they memoize — the same stored==in-session
  * discipline every ServingIndexes artifact is pinned under.
  */
class StoredArtifactParitySpec extends SparkFunSuite {

  private val sf = "/root/testdata/sf0.001"

  private def sortedRows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("stored dedup commons: derived Jaccard pairs == inline jaccardPairs") {
    val inline = TextDedup.jaccardPairs(
      Tables.table(spark, sf, "documents"), col("doc_id"), col("text"),
      Dedup.ShingleK, Dedup.JaccardThreshold)
    val stored = Dedup.storedPairs(spark, sf, Dedup.JaccardThreshold)
    assert(sortedRows(stored) === sortedRows(inline))
    assert(stored.columns.toSeq === inline.columns.toSeq)
  }

  test("stored dedup commons: derived containment == inline containmentPairs") {
    val inline = TextDedup.containmentPairs(
      Tables.table(spark, sf, "documents"), col("doc_id"), col("text"),
      Dedup.ShingleK, Dedup.ContainmentThreshold)
    val cc = Artifacts.dedupCommons(spark, sf)
    val stored = TextDedup.containmentFromCommons(
      cc.commons, cc.sizes, Dedup.ContainmentThreshold)
    assert(sortedRows(stored) === sortedRows(inline))
  }

  test("stored co-order edges == inline orientedCoOrderEdges") {
    val inline = Graph.orientedCoOrderEdges(spark, sf)
    val stored = Graph.coOrderOriented(spark, sf)
    assert(sortedRows(stored) === sortedRows(inline))
    assert(stored.columns.toSeq === inline.columns.toSeq)
    // oriented: every stored edge points low → high
    assert(stored.filter(col("src") >= col("dst")).count() === 0L)
  }

  test("stored layout zone maps == inline granuleZoneMaps (hilbert) and dom") {
    val keyed = Layout.keyedLineitem(spark, sf)
    val inline = Layout.granuleZoneMaps(keyed,
      Seq(col("hk"), col("ok"), col("ln")))
    val stored = Artifacts.layoutRelation(spark, sf, "hi")
    assert(sortedRows(stored) === sortedRows(inline))
    assert(sortedRows(Artifacts.layoutRelation(spark, sf, "dom"))
      === sortedRows(Layout.domOf(keyed)))
  }

  test("doremi one-scan pre-aggregate: weights unchanged on a hand corpus") {
    import spark.implicits._
    // two sources with different OOV profiles vs the top-K vocab
    val docs = Seq(
      ("a", "x x x y"), ("a", "x y z"), ("b", "p q r s t u v w"),
      ("b", "x p p"), ("c", "x x y y z z")).toDF("source", "text")
    val w = Corpus.doremiWeights(docs).collect()
    // invariants the pre-aggregate must preserve: one row per source,
    // weights sum to ~1e6, loss_bp exact integer of oov*10000 div n_tokens
    assert(w.map(_.getString(0)).toSeq === Seq("a", "b", "c"))
    val total = w.map(_.getLong(3)).sum
    assert(total <= 1000000L && total >= 1000000L - w.length)
  }
}
