package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import Tables.table

/** The builders of graft's session artifacts. Each [[graft.ServingIndexes]]
  * key is built in exactly one place, so two call sites can never pass
  * diverging builds under one key and serve a differently-built artifact
  * depending on execution order. Stored directories, JVM-object models
  * and the multi-relation builds live here; a single-relation artifact is
  * one [[stored]] call in the one function that serves it.
  *
  * Every artifact is state a deployment keeps across queries: indexes,
  * trained models, standing-corpus relations. A relation that a query
  * derives from its own input (the intake arrivals' meta, shingles and
  * probes, duplicated spans, trigram scores) is computed inside that
  * query, so the query's reported time includes it.
  *
  * Corpus conventions (shared by the batch queries, their oracles, and
  * the streaming gates): the plain `*-index` artifacts train over the
  * FULL table; the `*-refresh-index` artifacts train over the standing
  * split (id % 5 != 0) and append the ingest split (id % 5 == 0) via the
  * frozen-state O(batch) refresh writers; `dedup-lsh-index` and
  * `semdedup-ivf-index` train over the standing split only, because they
  * serve incremental gates that probe arrivals against a fixed corpus.
  */
object Artifacts {

  /** Single-relation artifact `key` over `dir`: `df` is written once per
    * (key, dir) per session, and every call returns the stored read-back.
    */
  private[ops] def stored(spark: SparkSession, key: String, dir: String)(df: => DataFrame): DataFrame =
    Tables.parquet(spark, graft.ServingIndexes.ensure(key, dir)(df.write.mode("overwrite").parquet(_)))

  /** MinHash-LSH dedup index over the standing documents (doc_id % 5 != 0). */
  def ensureDedupLsh(spark: SparkSession, dir: String): String =
    graft.ServingIndexes.ensure("dedup-lsh-index", dir) { d =>
      TextDedup.writeLshIndex(
        table(spark, dir, "documents").filter(pmod(col("doc_id"), lit(5)) =!= 0),
        col("doc_id"), col("text"), d,
        TextDedup.MinHashConfig(shingleK = Dedup.ShingleK))
    }

  /** IVF index over the standing embeddings (vec_id % 5 != 0), serving
    * the semantic-dedup incremental gate.
    */
  def ensureSemdedupIvf(spark: SparkSession, dir: String): String =
    graft.ServingIndexes.ensure("semdedup-ivf-index", dir) { d =>
      VectorSearch.writeIvfIndex(
        table(spark, dir, "embeddings").filter(pmod(col("vec_id"), lit(5)) =!= 0),
        col("vec_id"), col("embedding"), d)
    }

  /** IVF ANN index over the full embeddings table. */
  def ensureIvf(spark: SparkSession, dir: String): String =
    graft.ServingIndexes.ensure("ivf-index", dir) { d =>
      VectorSearch.writeIvfIndex(
        table(spark, dir, "embeddings"), col("vec_id"), col("embedding"), d)
    }

  /** LSH ANN index over the full embeddings table. */
  def ensureLsh(spark: SparkSession, dir: String): String =
    graft.ServingIndexes.ensure("lsh-index", dir) { d =>
      VectorSearch.writeLshIndex(
        table(spark, dir, "embeddings"), col("vec_id"), col("embedding"), d)
    }

  /** PQ ANN index over the full embeddings table. */
  def ensurePq(spark: SparkSession, dir: String): String =
    graft.ServingIndexes.ensure("pq-index", dir) { d =>
      VectorSearch.writePqIndex(
        table(spark, dir, "embeddings"), col("vec_id"), col("embedding"), d)
    }

  /** IVF index: standing-corpus train + frozen-centroid O(batch) append. */
  def ensureIvfRefresh(spark: SparkSession, dir: String): String =
    graft.ServingIndexes.ensure("ivf-refresh-index", dir) { d =>
      val emb = table(spark, dir, "embeddings")
      VectorSearch.writeIvfIndex(
        emb.filter(pmod(col("vec_id"), lit(5)) =!= 0), col("vec_id"), col("embedding"), d)
      VectorSearch.refreshIvfIndex(
        emb.filter(pmod(col("vec_id"), lit(5)) === 0), col("vec_id"), col("embedding"), d)
    }

  /** LSH index: standing-corpus build + signature append. */
  def ensureLshRefresh(spark: SparkSession, dir: String): String =
    graft.ServingIndexes.ensure("lsh-refresh-index", dir) { d =>
      val emb = table(spark, dir, "embeddings")
      VectorSearch.writeLshIndex(
        emb.filter(pmod(col("vec_id"), lit(5)) =!= 0), col("vec_id"), col("embedding"), d)
      VectorSearch.refreshLshIndex(
        emb.filter(pmod(col("vec_id"), lit(5)) === 0), col("vec_id"), col("embedding"), d)
    }

  /** PQ index: standing-corpus codebook train + frozen-codebook encode-append. */
  def ensurePqRefresh(spark: SparkSession, dir: String): String =
    graft.ServingIndexes.ensure("pq-refresh-index", dir) { d =>
      val emb = table(spark, dir, "embeddings")
      VectorSearch.writePqIndex(
        emb.filter(pmod(col("vec_id"), lit(5)) =!= 0), col("vec_id"), col("embedding"), d)
      VectorSearch.refreshPqIndex(
        emb.filter(pmod(col("vec_id"), lit(5)) === 0), col("vec_id"), col("embedding"), d)
    }

  /** The layout-experiment state: per-layout granule zone maps of the
    * keyed lineitem scan (`lin`/`zo`/`hi` = the price-sort, Morton and
    * Hilbert layouts; `append` = the 10%-append drift scenario), the 1-row
    * normalizing-domain relation (`dom`) and the Hilbert-restore group
    * manifest (`restore`): the table-format metadata (zone maps, file
    * manifests) a lakehouse keeps persistent, shared by the skipping-stats,
    * clustering-health, layout-drift and recluster-plan queries.
    * Bit-stable: every rank pass sorts on a key made total by (ok, ln),
    * so granule extents are deterministic (StoredArtifactParitySpec).
    */
  def ensureLayoutZoneMaps(spark: SparkSession, dir: String): String =
    graft.ServingIndexes.ensure("layout-zone-maps", dir) { d =>
      val keyed = Layout.keyedLineitem(spark, dir)
        .withColumn("segment", expr("CASE WHEN ok % 10 = 0 THEN 1 ELSE 0 END"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val appendOrder = Seq(col("segment"),
        when(col("segment") === 0, col("hk")).otherwise(lit(0L)),
        col("ok"), col("ln"))
      Layout.granuleZoneMaps(keyed, Seq(col("pc"), col("ok"), col("ln")))
        .write.mode("overwrite").parquet(s"$d/lin.parquet")
      Layout.granuleZoneMaps(keyed, Seq(col("zk"), col("ok"), col("ln")))
        .write.mode("overwrite").parquet(s"$d/zo.parquet")
      Layout.granuleZoneMaps(keyed, Seq(col("hk"), col("ok"), col("ln")))
        .write.mode("overwrite").parquet(s"$d/hi.parquet")
      Layout.granuleZoneMaps(keyed, appendOrder)
        .write.mode("overwrite").parquet(s"$d/append.parquet")
      Layout.domOf(keyed)
        .write.mode("overwrite").parquet(s"$d/dom.parquet")
      Rank.globalRank(keyed, Seq(col("hk"), col("ok"), col("ln")), 32)
        .select(expr(s"(rnk - 1) DIV ${Layout.ReclusterGroupRows}").as("grp"), col("hk"))
        .groupBy(col("grp"))
        .agg(count(lit(1)).as("n_rows"),
          min(col("hk")).as("hk_lo"), max(col("hk")).as("hk_hi"))
        .write.mode("overwrite").parquet(s"$d/restore.parquet")
      keyed.unpersist()
    }

  /** Load one [[ensureLayoutZoneMaps]] relation back. */
  private[ops] def layoutRelation(spark: SparkSession, dir: String, name: String): DataFrame =
    Tables.parquet(spark, s"${ensureLayoutZoneMaps(spark, dir)}/$name.parquet")

  /** Stored BM25 inverted index over the full documents table. */
  def ensureBm25Index(spark: SparkSession, dir: String): String =
    graft.ServingIndexes.ensure("bm25-index", dir) { d =>
      TextAnalysis.writeSearchIndex(
        table(spark, dir, "documents"), col("doc_id"), col("text"), d)
    }

  /** BM25 index lifecycle: standing-corpus build + ingest-batch merge —
    * the text dual of [[ensureIvfRefresh]]. Serving reads `merged`.
    */
  def ensureBm25Refresh(spark: SparkSession, dir: String): String =
    graft.ServingIndexes.ensure("bm25-refresh-index", dir) { d =>
      val docs = table(spark, dir, "documents")
      TextAnalysis.writeSearchIndex(
        docs.filter(pmod(col("doc_id"), lit(5)) =!= 0),
        col("doc_id"), col("text"), s"$d/base")
      TextAnalysis.refreshSearchIndex(spark, s"$d/base",
        docs.filter(pmod(col("doc_id"), lit(5)) === 0),
        col("doc_id"), col("text"), s"$d/merged")
    }

  /** The bucketed join tables: lineitem and orders written
    * `bucketBy(8, orderkey)` + sorted once per corpus, so joins on the
    * order key read bucket-aligned and skip both shuffles. Table names
    * carry the corpus digest so two data directories never share a
    * catalog entry. `saveAsTable` registers the tables only in the
    * building session's catalog while the memo is JVM-wide, so a session
    * whose catalog lacks them registers the stored files as they are.
    * Returns (lineitem table name, orders table name).
    */
  def ensureBucketedTables(spark: SparkSession, dir: String): (String, String) = {
    val tag = graft.ServingIndexes.digest(dir)
    val tables = Seq("lineitem" -> "l_orderkey", "orders" -> "o_orderkey")
      .map { case (t, key) => (s"graft_${t}_b_$tag", t, key) }
    val d = graft.ServingIndexes.ensure("bucketed-tables", dir) { d =>
      tables.foreach { case (name, t, key) =>
        table(spark, dir, t).write.mode("overwrite").bucketBy(8, key).sortBy(key)
          .option("path", s"$d/${t}_b").saveAsTable(name)
      }
    }
    tables.foreach { case (name, t, key) =>
      if (!spark.catalog.tableExists(name)) {
        val path = s"$d/${t}_b"
        spark.sql(s"CREATE TABLE $name (${Tables.parquetSchema(spark, path).toDDL}) USING parquet " +
          s"CLUSTERED BY ($key) SORTED BY ($key) INTO 8 BUCKETS LOCATION '$path'")
      }
    }
    (tables(0)._1, tables(1)._1)
  }

  /** The dedup candidate relation: the exact capped-commons overlap table
    * `(id_a, id_b, common)` plus per-doc shingle-set sizes `(id, n)` over
    * the FULL documents table at the dedup operating point
    * (k = [[Dedup.ShingleK]], cap = [[TextDedup.DefaultBucketCap]]): the
    * candidates table a production dedup pipeline materializes once per
    * corpus snapshot, shared by the ngram-Jaccard pair, labeling,
    * threshold-sweep, containment and quality×dup queries. Bit-stable:
    * exact integer overlap counts and sizes, so every derived
    * Jaccard/containment value is bit-identical to the inline computation
    * ([[TextDedup.jaccardFromCommons]] is shared by both paths;
    * StoredArtifactParitySpec pins stored == inline).
    */
  def ensureDedupCommons(spark: SparkSession, dir: String): String =
    graft.ServingIndexes.ensure("dedup-commons", dir) { d =>
      val cc = TextDedup.cappedCommons(
        table(spark, dir, "documents"), col("doc_id"), col("text"),
        Dedup.ShingleK, TextDedup.DefaultBucketCap)
      cc.commons.write.mode("overwrite").parquet(s"$d/commons.parquet")
      cc.sizes.write.mode("overwrite").parquet(s"$d/sizes.parquet")
      cc.cached.foreach(_.unpersist())
    }

  /** Load [[ensureDedupCommons]] back as a [[TextDedup.CappedCommons]]
    * (no live caches — the stored relations are plain parquet scans).
    */
  private[ops] def dedupCommons(spark: SparkSession, dir: String): TextDedup.CappedCommons = {
    val d = ensureDedupCommons(spark, dir)
    TextDedup.CappedCommons(
      Tables.parquet(spark, s"$d/commons.parquet"),
      Tables.parquet(spark, s"$d/sizes.parquet"),
      Seq.empty)
  }

  /** The intake gates' standing-corpus probe relations: the exact-dup
    * fingerprint multiset (`fps.parquet`) and the benchmark shingle set
    * (`grams.parquet`) that the three intake queries scan per run.
    * Deterministic projections of the standing split.
    */
  def ensureIntakeStanding(spark: SparkSession, dir: String): String =
    graft.ServingIndexes.ensure("intake-standing", dir) { d =>
      val corpus = table(spark, dir, "documents")
        .filter(pmod(col("doc_id"), lit(5)) =!= 0)
      corpus.select(md5(concat_ws(" ", TextOps.tokens(col("text")))).as("fp"))
        .write.mode("overwrite").parquet(s"$d/fps.parquet")
      val sh = TextDedup.shingles(
        corpus.filter(pmod(col("doc_id"), lit(7)) === 0),
        col("doc_id"), col("text"), Dedup.ShingleK)
      sh.select(col("s")).distinct()
        .write.mode("overwrite").parquet(s"$d/grams.parquet")
      sh.unpersist()
    }

  /** Geo state of the intake cascade: the decoded
    * [[Multimodal.burstKeys]] cells of the arrival photos
    * (`photoCells.parquet`: doc_id, lat_cell, lon_cell) and the frozen
    * [[Multimodal.cellRates]] admission thresholds of the standing split
    * (`rates.parquet`: lat_cell, lon_cell, thr). Both are pure functions
    * of the photo bytes, so `q_intake_full` need not EXIF-walk the photo
    * corpus per run.
    */
  def ensureGeoCells(spark: SparkSession, dir: String): String =
    graft.ServingIndexes.ensure("intake-geo-cells", dir) { d =>
      val photos = Multimodal.burstKeys(Multimodal.exifMetaTable(spark, dir))
        .localCheckpoint()
      photos.filter(pmod(col("doc_id"), lit(5)) === 0)
        .select(col("doc_id"), col("lat_cell"), col("lon_cell"))
        .write.mode("overwrite").parquet(s"$d/photoCells.parquet")
      Multimodal.cellRates(photos.filter(pmod(col("doc_id"), lit(5)) =!= 0))
        .select(col("lat_cell"), col("lon_cell"), col("thr"))
        .write.mode("overwrite").parquet(s"$d/rates.parquet")
    }

  /** Trained quality-classifier model: [[TextAnalysis.nbTrain]] over
    * [[TextAnalysis.qQualityClassifier]]'s 80% split, stored in the
    * [[TextAnalysis.nbSave]] layout. Deterministic, so the stored apply is
    * bit-identical to the in-session train→apply.
    */
  def ensureQualityNb(spark: SparkSession, dir: String): String =
    graft.ServingIndexes.ensure("quality-nb-model", dir) { d =>
      TextAnalysis.nbSave(TextAnalysis.nbTrain(TextAnalysis.nbLabeled(spark, dir)), d)
    }

  /** The session-trained IVF model (resolved config + exact-integer
    * centroids) over the full embeddings table — training is query-free,
    * so every audit variant serves from this one model bit-identically.
    */
  private[ops] def ivfModel(spark: SparkSession, dir: String): (VectorSearch.IvfConfig, Array[VectorSearch.Centroid]) =
    graft.ServingIndexes.model("ivf-model", dir) {
      VectorSearch.trainIvfModel(
        table(spark, dir, "embeddings"), col("vec_id"), col("embedding"))
    }

  /** The session-trained IVF model over the STANDING embeddings split
    * (vec_id % 5 != 0): the corpus side of the incremental semantic gate,
    * whose stored-index twin serves from [[ensureSemdedupIvf]].
    */
  private[ops] def ivfModelStanding(spark: SparkSession, dir: String): (VectorSearch.IvfConfig, Array[VectorSearch.Centroid]) =
    graft.ServingIndexes.model("ivf-model-standing", dir) {
      VectorSearch.trainIvfModel(
        table(spark, dir, "embeddings").filter(pmod(col("vec_id"), lit(5)) =!= 0),
        col("vec_id"), col("embedding"))
    }

  /** The session-trained PQ codebooks over the full embeddings table. */
  private[ops] def pqModel(spark: SparkSession, dir: String): Array[Array[VectorSearch.Centroid]] =
    graft.ServingIndexes.model("pq-model", dir) {
      VectorSearch.trainPqModel(
        table(spark, dir, "embeddings"), col("vec_id"), col("embedding"))
    }
}
