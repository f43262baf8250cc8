package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Synthesize the ~10× scale-probe corpus from an sf0.1-shaped directory —
  * the in-engine port of the builder-side probe recipe (BASELINE.md round
  * 9), so the per-round [[Bench]] can measure sf1/sf0.1 ratios WITHOUT any
  * driver-side tooling and a super-linear regression fails loudly in the
  * emitted JSON instead of relying on a manual probe:
  *
  *  - lineitem ×10: per-replica orderkey offsets and partkey namespaces,
  *    with ~2% of parts kept in a SHARED hub namespace so the co-order
  *    graph stays one giant connected component instead of 10 disjoint
  *    copies;
  *  - documents ×10: per-replica token suffixes → disjoint shingle spaces
  *    (dup-rate and max-df invariant while the corpus grows 10×);
  *  - embeddings ×10: per-replica component rotation (within-replica
  *    geometry preserved, cross-replica decorrelated);
  *  - orders ×10: per-replica orderkey offsets on the SAME
  *    base as lineitem so the lineitem⋈orders FK stays aligned; custkey,
  *    dates and amounts unchanged (each customer simply owns 10× orders);
  *  - events ×10: per-replica event-id and user-id namespaces —
  *    10× more user series with identical per-series temporal shape, the
  *    scaling under which the VARIANT / interpolate / M4 / funnel / CUSUM
  *    family is designed to be linear (per-series state constant);
  *  - true dimensions copied unchanged (they don't scale with SF).
  *
  * Replica 0 is the identity, so every pinned query id (`QueryIds`,
  * Bm25QueryTerms anchors, …) still resolves at the probe scale.
  */
object ScaleProbe {

  val Replicas = 10

  private def reps(spark: SparkSession) =
    broadcast(spark.range(Replicas.toLong).toDF("k"))

  /** The full probe-table set [[synthesize]] replicates. */
  val AllTables: Set[String] =
    Set("lineitem", "orders", "documents", "events", "embeddings",
      "region", "nation", "customer", "supplier", "part")

  /** Bump when the replication recipe changes: a stale `_SYNTH_DONE`
    * from an older recipe must not be reused.
    */
  private val RecipeVersion = 1

  private def fingerprint(srcDir: String, tables: Set[String]): String =
    s"v$RecipeVersion src=$srcDir tables=${tables.toSeq.sorted.mkString(",")}"

  /** True iff `dstDir` holds a COMPLETED synthesis of exactly this
    * (source, tables, recipe) — the `_SYNTH_DONE` marker written as the
    * LAST step of [[synthesizeTables]]. Gating skips on the marker (not
    * on the first table file) means an interrupted prior synthesis, or a
    * dir built from a different source/recipe, resynthesizes instead of
    * silently serving stale or partial bytes (lineitem is written FIRST,
    * so its existence proves nothing about the rest).
    */
  def isSynthesized(srcDir: String, dstDir: String, tables: Set[String]): Boolean = {
    val m = java.nio.file.Paths.get(dstDir, "_SYNTH_DONE")
    java.nio.file.Files.exists(m) &&
      new String(java.nio.file.Files.readAllBytes(m), "UTF-8") ==
        fingerprint(srcDir, tables)
  }

  def synthesize(spark: SparkSession, srcDir: String, dstDir: String): Unit =
    synthesizeTables(spark, srcDir, dstDir, AllTables)

  /** Subset synthesis: the sf10 probe only needs the tables
    * its worst-family queries read (lineitem → co-order graph, documents
    * → dedup pair relation, embeddings → embedding near-dup), so the
    * second scale decade stays disk-bounded instead of replicating the
    * whole corpus 100×. `tables` not listed are skipped entirely.
    */
  def synthesizeTables(spark: SparkSession, srcDir: String, dstDir: String,
      tables: Set[String]): Unit = {
    new java.io.File(dstDir).mkdirs()

    // Offsets come only from tables that are present in srcDir: a chained
    // subset synthesis (sf10 → sf100 with orders excluded) must not fail
    // on a missing orders.parquet it was never asked to replicate. When
    // both halves of the FK pair exist, the shared orderkey offset base
    // keeps them aligned in every replica (orders may hold keys past
    // lineitem's max — customers whose order shipped nothing yet).
    val liOpt =
      if (tables("lineitem") || new java.io.File(s"$srcDir/lineitem.parquet").exists())
        Some(graft.ops.Tables.parquet(spark, s"$srcDir/lineitem.parquet")) else None
    val ordOpt =
      if (tables("orders") || new java.io.File(s"$srcDir/orders.parquet").exists())
        Some(graft.ops.Tables.parquet(spark, s"$srcDir/orders.parquet")) else None
    lazy val maxOk = (
      liOpt.map(_.agg(max(col("l_orderkey"))).collect()(0).getLong(0)) ++
      ordOpt.map(_.agg(max(col("o_orderkey"))).collect()(0).getLong(0))).max + 1
    if (tables("lineitem")) {
      val li = liOpt.get
      val maxPk = li.agg(max(col("l_partkey"))).collect()(0).getLong(0) + 1
      li.crossJoin(reps(spark))
        .withColumn("l_orderkey", col("l_orderkey") + col("k") * maxOk)
        .withColumn("l_partkey",
          when(pmod(col("l_partkey"), lit(50)) === 0, col("l_partkey"))
            .otherwise(col("l_partkey") + col("k") * maxPk))
        .drop("k")
        .write.mode("overwrite").parquet(s"$dstDir/lineitem.parquet")
    }

    if (tables("documents")) {
    val docs = graft.ops.Tables.parquet(spark, s"$srcDir/documents.parquet")
    val maxDoc = docs.agg(max(col("doc_id"))).collect()(0).getLong(0) + 1
    docs.crossJoin(reps(spark))
      .withColumn("doc_id", col("doc_id") + col("k") * maxDoc)
      .withColumn("text",
        when(col("k") === 0, col("text"))
          .otherwise(regexp_replace(col("text"), lit("(\\S+)"),
            concat(lit("$1_r"), col("k").cast("string")))))
      .drop("k")
      .write.mode("overwrite").parquet(s"$dstDir/documents.parquet")
    }

    if (tables("orders")) ordOpt.get.crossJoin(reps(spark))
      .withColumn("o_orderkey", col("o_orderkey") + col("k") * maxOk)
      .drop("k")
      .write.mode("overwrite").parquet(s"$dstDir/orders.parquet")

    if (tables("events")) {
    val ev = graft.ops.Tables.parquet(spark, s"$srcDir/events.parquet")
    val maxEid = ev.agg(max(col("event_id"))).collect()(0).getLong(0) + 1
    val maxUid = ev.agg(max(col("user_id"))).collect()(0).getLong(0) + 1
    ev.crossJoin(reps(spark))
      .withColumn("event_id", col("event_id") + col("k") * maxEid)
      .withColumn("user_id", col("user_id") + col("k") * maxUid)
      .drop("k")
      .write.mode("overwrite").parquet(s"$dstDir/events.parquet")
    }

    if (tables("embeddings")) {
    val emb = graft.ops.Tables.parquet(spark, s"$srcDir/embeddings.parquet")
    val dim = emb.select(size(col("embedding"))).limit(1).collect()(0).getInt(0)
    val maxVec = emb.agg(max(col("vec_id"))).collect()(0).getLong(0) + 1
    emb.crossJoin(reps(spark))
      .withColumn("vec_id", col("vec_id") + col("k") * maxVec)
      .withColumn("embedding",
        when(col("k") === 0, col("embedding"))
          .otherwise(concat(
            slice(col("embedding"), col("k") + 1, lit(dim) - col("k")),
            slice(col("embedding"), lit(1), col("k")))))
      .drop("k")
      .write.mode("overwrite").parquet(s"$dstDir/embeddings.parquet")
    }

    Seq("region", "nation", "customer", "supplier", "part")
      .filter(tables).foreach { name =>
        val src = java.nio.file.Paths.get(s"$srcDir/$name.parquet")
        if (java.nio.file.Files.isRegularFile(src))
          java.nio.file.Files.copy(src,
            java.nio.file.Paths.get(s"$dstDir/$name.parquet"),
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        else // directory-shaped source: rewrite through the engine
          graft.ops.Tables.parquet(spark, src.toString)
            .write.mode("overwrite").parquet(s"$dstDir/$name.parquet")
      }
    // completion marker LAST — see [[isSynthesized]]
    java.nio.file.Files.write(java.nio.file.Paths.get(dstDir, "_SYNTH_DONE"),
      fingerprint(srcDir, tables).getBytes("UTF-8"))
  }
}
