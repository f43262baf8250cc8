package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import Tables._
import TextOps._

/** The composite training-data pipeline: the individual operators
  * (quality scoring, language ID, exact dedup, near-dup dedup with
  * survivor selection) chained the way a 100 TB corpus-cleaning job runs
  * them, as ONE declarative plan.
  *
  * Stage order is the cheap-filter-first discipline: narrow per-row gates
  * (quality, langid — pure projections) cut the corpus before anything
  * that shuffles (exact-dedup groupBy), and the near-dup pair join — the
  * only super-linear stage — sees only exact-unique, gated survivors.
  *
  * The reference has no such pipeline (it is a per-file ETL —
  * `/root/reference/src/hubverse_transform/model_output.py:324-331`); this
  * is extension surface per SURVEY.md §2.9, oracle-checked end to end.
  */
object Pipeline {

  val QualityMin = 0.5

  /** Corpus cleaning end-to-end: en-language, quality-gated, exact-deduped,
    * near-dup-deduped (connected-component min-id survivors). Returns the
    * surviving documents with their pipeline stats.
    */
  def qPipelineCorpus(spark: SparkSession, dir: String): DataFrame = {
    val docs = table(spark, dir, "documents")
    val withT = docs.select(col("doc_id"), col("text"), tokens(col("text")).as("t"))

    // stage 1+2: quality + language gates (one narrow projection, no shuffle)
    val gated = withT
      .withColumn("n_tokens", size(col("t")).cast(LongType))
      .withColumn("quality_score",
        TextAnalysis.qualityScoreC(
          TextAnalysis.stopRatioC(col("t")),
          TextAnalysis.typeTokenRatioC(col("t")),
          TextAnalysis.lengthOkC(col("t"))))
      .filter(TextAnalysis.langPredC(col("t")) === "en" &&
        col("quality_score") >= QualityMin)
      .withColumn("fp", md5(concat_ws(" ", col("t"))))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // stage 3: exact dedup — survivor is the min doc_id per fingerprint
    val keep = gated.groupBy(col("fp")).agg(min(col("doc_id")).as("doc_id"))
    val exactKept = gated.join(keep, Seq("fp", "doc_id"), "left_semi")

    // stage 4: near-dup dedup — pair generation over exact survivors only,
    // then connected-component min-label survivor selection
    val pairs = TextDedup.jaccardPairs(
      exactKept, col("doc_id"), col("text"), Dedup.ShingleK, Dedup.JaccardThreshold)
    val canon = TextDedup.canonicalize(pairs, exactKept.select(col("doc_id").as("id")))
    val survivors = canon.filter(col("canonical") === col("id"))
      .select(col("id").as("doc_id"))

    val out = exactKept.join(survivors, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), col("fp"), col("n_tokens"), col("quality_score"))
      .orderBy(col("doc_id"))
    TextDedup.materializeAndRelease(out, gated)
  }

  /** DuckDB mirror: same stages, recursive-CTE closure for the components. */
  val qPipelineCorpusSql: String = {
    val de = TextAnalysis.sqlStopCount(TextAnalysis.StopwordsDe)
    val en = TextAnalysis.sqlStopCount(TextAnalysis.StopwordsEn)
    val es = TextAnalysis.sqlStopCount(TextAnalysis.StopwordsEs)
    val fr = TextAnalysis.sqlStopCount(TextAnalysis.StopwordsFr)
    val k = Dedup.ShingleK
    s"""WITH RECURSIVE base AS (
       |  SELECT doc_id, text, regexp_split_to_array(lower(text), '\\s+') AS t FROM documents
       |), cnts AS (
       |  SELECT doc_id, text, t,
       |    $de AS c_de, $en AS c_en, $es AS c_es, $fr AS c_fr
       |  FROM base
       |), scored AS (
       |  SELECT doc_id, text, t, len(t) AS n_tokens,
       |    (CAST(c_en AS DOUBLE) / CAST(len(t) AS DOUBLE) * 2
       |     + CAST(len(list_distinct(t)) AS DOUBLE) / CAST(len(t) AS DOUBLE)
       |     + CAST(len(t) >= 10 AND len(t) <= 1000 AS INTEGER)) / 4 AS quality_score,
       |    ${TextAnalysis.langPredSql} AS pred
       |  FROM cnts
       |), gated AS MATERIALIZED (
       |  SELECT doc_id, text, t, n_tokens, quality_score,
       |    md5(array_to_string(t, ' ')) AS fp
       |  FROM scored WHERE pred = 'en' AND quality_score >= $QualityMin
       |), keep AS (
       |  SELECT fp, min(doc_id) AS doc_id FROM gated GROUP BY fp
       |), ek AS MATERIALIZED (
       |  SELECT g.* FROM gated g JOIN keep USING (fp, doc_id)
       |), sh AS MATERIALIZED (
       |  SELECT doc_id, unnest(list_distinct(list_transform(
       |    range(len(t) - ${k - 1}),
       |    i -> array_to_string(t[i+1:i+$k], ' ')))) AS s
       |  FROM ek WHERE len(t) >= $k
       |), sizes AS (
       |  SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
       |), commons AS (
       |  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS common
       |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2
       |), pairs AS (
       |  SELECT da, db
       |  FROM commons JOIN sizes x ON da = x.doc_id JOIN sizes y ON db = y.doc_id
       |  WHERE CAST(common AS DOUBLE) / CAST(x.n + y.n - common AS DOUBLE) >= ${Dedup.JaccardThreshold}
       |), edges AS (
       |  SELECT da AS src, db AS dst FROM pairs
       |  UNION ALL SELECT db AS src, da AS dst FROM pairs
       |), walk(id, lbl) AS (
       |  SELECT doc_id, doc_id FROM ek
       |  UNION
       |  SELECT e.dst, w.lbl FROM walk w JOIN edges e ON e.src = w.id
       |), canon AS MATERIALIZED (
       |  SELECT id, min(lbl) AS canonical FROM walk GROUP BY id
       |)
       |SELECT g.doc_id, g.fp, g.n_tokens, g.quality_score
       |FROM ek g JOIN canon c ON g.doc_id = c.id AND c.canonical = g.doc_id
       |ORDER BY doc_id""".stripMargin
  }

  /** Cross-modal near-dup verification: embedding-cosine pairs joined back
    * to TEXT-side features of both endpoints — predicted-language agreement
    * and token-count gap — the "do the vector neighbors make textual
    * sense?" check a pipeline runs before trusting embedding dedup. The
    * join keys are the (already tiny) pair ids, so the enrichment joins
    * shuffle pair-sized relations, not the corpus. The pair source is the
    * cluster-bounded [[VectorSearch.clusterCosinePairs]] (round 10 — the
    * exact all-pairs scan measured 103× at the 10× probe; see
    * [[Dedup.qDedupEmbedding]]).
    */
  def qPipelineCrossmodal(spark: SparkSession, dir: String): DataFrame = {
    val pairs = VectorSearch.clusterCosinePairs(
      table(spark, dir, "embeddings"), col("vec_id"), col("embedding"), Dedup.CosineThreshold,
      probes = Dedup.ClusterPairProbes,
      model = Some(Artifacts.ivfModel(spark, dir)))
    val feat = table(spark, dir, "documents")
      .select(col("doc_id"), tokens(col("text")).as("t"))
      .select(col("doc_id"),
        TextAnalysis.langPredC(col("t")).as("lang"),
        size(col("t")).cast(LongType).as("ntok"))
    pairs
      .join(feat.toDF("id_a", "lang_a", "ntok_a"), Seq("id_a"))
      .join(feat.toDF("id_b", "lang_b", "ntok_b"), Seq("id_b"))
      .select(
        col("id_a").as("va"), col("id_b").as("vb"), col("cos_sim"),
        (col("lang_a") === col("lang_b")).cast(IntegerType).as("same_lang"),
        abs(col("ntok_a") - col("ntok_b")).as("tok_diff"))
      .orderBy(col("va"), col("vb"))
  }

  val qPipelineCrossmodalSql: String = {
    val de = TextAnalysis.sqlStopCount(TextAnalysis.StopwordsDe)
    val en = TextAnalysis.sqlStopCount(TextAnalysis.StopwordsEn)
    val es = TextAnalysis.sqlStopCount(TextAnalysis.StopwordsEs)
    val fr = TextAnalysis.sqlStopCount(TextAnalysis.StopwordsFr)
    s"""WITH p AS (
       |  SELECT va, vb, cos_sim FROM (
       |${Dedup.qDedupEmbeddingSql.linesIterator.map("    " + _).mkString("\n")}
       |  ) pp
       |), cnts AS (
       |  SELECT doc_id, t, $de AS c_de, $en AS c_en, $es AS c_es, $fr AS c_fr
       |  FROM (SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS t FROM documents)
       |), f AS (
       |  SELECT doc_id,
       |    ${TextAnalysis.langPredSql} AS lang,
       |    len(t) AS ntok
       |  FROM cnts
       |)
       |SELECT va, vb, cos_sim,
       |  CAST(fa.lang = fb.lang AS INTEGER) AS same_lang,
       |  abs(fa.ntok - fb.ntok) AS tok_diff
       |FROM p JOIN f fa ON va = fa.doc_id JOIN f fb ON vb = fb.doc_id
       |ORDER BY va, vb""".stripMargin
  }

  /** THE END-TO-END CORPUS BUILD (round 11): every stage a 100 TB
    * training-data pipeline runs, chained as one registered query —
    *
    *   0. eval-set exclusion (doc_id ≡ 0 mod 20 is the benchmark stand-in)
    *   1. quality gate + 2. language gate (narrow per-row projections)
    *   3. exact dedup        (min-id survivor per md5 fingerprint)
    *   4. near-dup dedup     (capped inverted-index Jaccard pairs →
    *                          connected components, min-id survivors)
    *   5. semantic dedup     (cluster-bounded cosine pairs over the
    *                          survivors' embeddings → components; docs
    *                          without an embedding pass through)
    *   6. decontamination    (drop any survivor sharing a 3-shingle with
    *                          the eval set — broadcast bench-gram join)
    *   7. temperature mixing (per-source md5-keep at
    *                          thr = ⌊10⁴·√(n_min/n_src)⌋, the
    *                          [[Corpus.qSampleTemperature]] discipline)
    *   8. split assignment   (md5 80/10/10 — [[Corpus.splitCol]])
    *   9. sequence packing   (concat-then-chunk at [[Corpus.PackBudget]]
    *                          tokens within 8 md5 shards per split)
    *
    * Output: one row per (split, shard, chunk) with doc/token counts and
    * the id range — a compact relation that changes if ANY stage's
    * decision changes, so the hash gate covers the whole composition.
    *
    * Plan shape (the integration claim): stages 1-3 are one scan of the
    * train corpus into a persisted `gated` relation; every later stage
    * reads survivors from that cache or from pair relations that are
    * already sub-quadratic by construction ([[TextDedup.jaccardPairs]]'s
    * hot-posting cap, [[VectorSearch.clusterCosinePairs]]'s k~√n
    * buckets). The documented extra corpus reads are exactly two: the
    * eval split's shingle scan (stage 6's bench grams — a different WHERE
    * than the train scan) and the survivor re-shingle (stage 6 probes
    * shingles of ~deduped survivors, far smaller than the stage-4 index).
    * Temperature rates and the bench-gram set ride as broadcasts; nothing
    * corpus-sized crosses a driver boundary ([[TextDedup.canonicalize]]'s
    * edge sniff is pair-plan-sized and cap-guarded).
    */
  /** Per-stage row counts of the last [[qPipelineFull]] run — the
    * operational metrics an unobservable 10-stage pipeline at 100 TB
    * cannot do without. Served from the composite's OWN stage caches
    * after the one materialization pass (memory-speed scans; the corpus
    * parquet is never re-read), because `Dataset.observe` is unusable at
    * these boundaries: the component-sniff's `limit` action partially
    * fills the stage caches, and an Observation pins whatever its first
    * completed query accumulated — a partial fill would be reported as
    * the stage count (measured: a limit-5 over an observed cached range
    * records 250 of 1000). The intake composite, whose observed node
    * lives only in its single final query, uses the real observe pattern
    * ([[lastIntakeMetrics]]). Keys: `rows_gated`, `rows_exact_kept`,
    * `rows_near_kept`, `rows_sem_kept`, `rows_clean`, `rows_sampled`.
    */
  @volatile var lastPipelineMetrics: Option[Map[String, Any]] = None

  def qPipelineFull(spark: SparkSession, dir: String): DataFrame = {
    val docs = table(spark, dir, "documents")
    // stage 0: the eval stand-in never enters the training corpus
    val train = docs.filter(pmod(col("doc_id"), lit(20)) =!= 0)
    val withT = train.select(col("doc_id"), col("source"), col("text"),
      tokens(col("text")).as("t"))

    // stages 1+2: quality + language gates (one narrow projection)
    val gated = withT
      .withColumn("n_tokens", size(col("t")).cast(LongType))
      .withColumn("quality_score",
        TextAnalysis.qualityScoreC(
          TextAnalysis.stopRatioC(col("t")),
          TextAnalysis.typeTokenRatioC(col("t")),
          TextAnalysis.lengthOkC(col("t"))))
      .filter(TextAnalysis.langPredC(col("t")) === "en" &&
        col("quality_score") >= QualityMin)
      .withColumn("fp", md5(concat_ws(" ", col("t"))))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // stage 3: exact dedup — min doc_id survives per fingerprint.
    // Persisted: both the stage-4 pair build and its survivor semi-join
    // consume it, and without the cache the dedup aggregate would run
    // twice inside the one final job (it also anchors the stage count
    // observation to exactly one execution).
    val keep = gated.groupBy(col("fp")).agg(min(col("doc_id")).as("doc_id"))
    val exactKept = gated.join(keep, Seq("fp", "doc_id"), "left_semi")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // stage 4: near-dup components over exact survivors, min-id survivors
    val pairs = TextDedup.jaccardPairs(
      exactKept, col("doc_id"), col("text"), Dedup.ShingleK, Dedup.JaccardThreshold)
    val canon = TextDedup.canonicalize(pairs, exactKept.select(col("doc_id").as("id")))
    val nearKept = exactKept.join(
      canon.filter(col("canonical") === col("id")).select(col("id").as("doc_id")),
      Seq("doc_id"), "left_semi")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // stage 5: semantic dedup over the survivors that HAVE an embedding
    // (vec_id ≡ doc_id on this corpus); min-id component survivor, docs
    // without a vector pass through untouched
    val embKept = table(spark, dir, "embeddings")
      .join(nearKept.select(col("doc_id").as("vec_id")), Seq("vec_id"), "left_semi")
    val semPairs = VectorSearch.clusterCosinePairs(
      embKept, col("vec_id"), col("embedding"), Dedup.CosineThreshold,
      probes = Dedup.ClusterPairProbes)
    val semCanon = TextDedup.canonicalize(semPairs, embKept.select(col("vec_id").as("id")))
    val semDropped = semCanon.filter(col("canonical") =!= col("id"))
      .select(col("id").as("doc_id"))
    // Persisted: consumed by both the stage-6 survivor re-shingle and the
    // contamination anti-join — without the cache the whole semantic-pair
    // machinery above would execute twice in the one final job.
    val semKept = nearKept.join(semDropped, Seq("doc_id"), "left_anti")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // stage 6: decontamination — any shared 3-shingle with the eval set
    // disqualifies; the eval gram set is dimension-sized → broadcast
    val benchSh = TextDedup.shingles(
      docs.filter(pmod(col("doc_id"), lit(20)) === 0),
      col("doc_id"), col("text"), Dedup.ShingleK)
    val benchGrams = broadcast(benchSh.select(col("s")).distinct())
    val survSh = TextDedup.shingles(semKept, col("doc_id"), col("text"), Dedup.ShingleK)
    val contaminated = survSh.join(benchGrams, Seq("s"))
      .select(col("id").as("doc_id")).distinct()
    val clean = semKept.join(contaminated, Seq("doc_id"), "left_anti")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // stage 7: temperature mixing as a deterministic per-source md5 keep
    val sizes = clean.groupBy(col("source")).agg(count(lit(1)).as("n_src"))
    val minN = sizes.agg(min(col("n_src")).as("n_min"))
    val rates = sizes.crossJoin(broadcast(minN))
      .select(col("source"),
        floor(lit(10000d) * sqrt(col("n_min").cast("double") / col("n_src").cast("double")))
          .as("thr"))
    val sampled = clean.join(broadcast(rates), "source")
      .filter(
        pmod(conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10).cast("long"),
          lit(10000)) < col("thr"))

    // stages 8+9: split assignment, then concat-then-chunk packing within
    // 8 md5 shards PER SPLIT (parallel across the cluster, no global sort)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("split"), col("shard")).orderBy(col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val out = sampled
      .select(col("doc_id"), col("n_tokens"),
        Corpus.splitCol(col("doc_id")).as("split"),
        pmod(conv(substring(md5(col("doc_id").cast("string")), 9, 4), 16, 10).cast("long"),
          lit(8)).as("shard"))
      .withColumn("start_tok", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .withColumn("chunk_id", floor(col("start_tok") / lit(Corpus.PackBudget)))
      .groupBy(col("split"), col("shard"), col("chunk_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"),
        min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
      .orderBy(col("split"), col("shard"), col("chunk_id"))
    // stage counts off the just-filled caches (memory-speed; corpus
    // parquet untouched), release in a finally so a failed run cannot
    // leave seven corpus-scale caches behind; metrics cleared first so a
    // failure never leaves the PREVIOUS run's numbers attributed to this
    // one
    lastPipelineMetrics = None
    try {
      val res = out.localCheckpoint()
      lastPipelineMetrics = Some(Map(
        "rows_gated" -> gated.count(),
        "rows_exact_kept" -> exactKept.count(),
        "rows_near_kept" -> nearKept.count(),
        "rows_sem_kept" -> semKept.count(),
        "rows_clean" -> clean.count(),
        "rows_sampled" -> res.agg(coalesce(sum(col("n_docs")), lit(0L)))
          .head().getLong(0)))
      res
    } finally {
      Seq(gated, exactKept, nearKept, semKept, clean, benchSh, survSh)
        .foreach(_.unpersist())
    }
  }

  /** DuckDB mirror of all ten stages: the near-dup and semantic component
    * closures as recursive CTEs, the Lloyd chain of the semantic stage
    * replayed over exactly the survivors' vectors
    * ([[Similarity.ivfChainSql]] with the stage-4 survivor set as its
    * corpus filter), every keep-decision the same md5 arithmetic.
    */
  val qPipelineFullSql: String = {
    val de = TextAnalysis.sqlStopCount(TextAnalysis.StopwordsDe)
    val en = TextAnalysis.sqlStopCount(TextAnalysis.StopwordsEn)
    val es = TextAnalysis.sqlStopCount(TextAnalysis.StopwordsEs)
    val fr = TextAnalysis.sqlStopCount(TextAnalysis.StopwordsFr)
    val k = Dedup.ShingleK
    val cfg = VectorSearch.IvfConfig()
    val semWhere = "WHERE vec_id IN (SELECT doc_id FROM nk)"
    s"""WITH RECURSIVE base AS (
       |  SELECT doc_id, source, text, regexp_split_to_array(lower(text), '\\s+') AS t
       |  FROM documents WHERE doc_id % 20 <> 0
       |), cnts AS (
       |  SELECT doc_id, source, text, t,
       |    $de AS c_de, $en AS c_en, $es AS c_es, $fr AS c_fr
       |  FROM base
       |), scored AS (
       |  SELECT doc_id, source, text, t, len(t) AS n_tokens,
       |    (CAST(c_en AS DOUBLE) / CAST(len(t) AS DOUBLE) * 2
       |     + CAST(len(list_distinct(t)) AS DOUBLE) / CAST(len(t) AS DOUBLE)
       |     + CAST(len(t) >= 10 AND len(t) <= 1000 AS INTEGER)) / 4 AS quality_score,
       |    ${TextAnalysis.langPredSql} AS pred
       |  FROM cnts
       |), gated AS MATERIALIZED (
       |  SELECT doc_id, source, text, t, n_tokens,
       |    md5(array_to_string(t, ' ')) AS fp
       |  FROM scored WHERE pred = 'en' AND quality_score >= $QualityMin
       |), keep AS (
       |  SELECT fp, min(doc_id) AS doc_id FROM gated GROUP BY fp
       |), ek AS MATERIALIZED (
       |  SELECT g.* FROM gated g JOIN keep USING (fp, doc_id)
       |), sh AS MATERIALIZED (
       |  SELECT doc_id, unnest(list_distinct(list_transform(
       |    range(len(t) - ${k - 1}),
       |    i -> array_to_string(t[i+1:i+$k], ' ')))) AS s
       |  FROM ek WHERE len(t) >= $k
       |), sizes AS (
       |  SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
       |), commons AS (
       |  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS common
       |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2
       |), pairs AS (
       |  SELECT da, db
       |  FROM commons JOIN sizes x ON da = x.doc_id JOIN sizes y ON db = y.doc_id
       |  WHERE CAST(common AS DOUBLE) / CAST(x.n + y.n - common AS DOUBLE) >= ${Dedup.JaccardThreshold}
       |), edges AS (
       |  SELECT da AS src, db AS dst FROM pairs
       |  UNION ALL SELECT db AS src, da AS dst FROM pairs
       |), walk(id, lbl) AS (
       |  SELECT doc_id, doc_id FROM ek
       |  UNION
       |  SELECT e.dst, w.lbl FROM walk w JOIN edges e ON e.src = w.id
       |), canon AS MATERIALIZED (
       |  SELECT id, min(lbl) AS canonical FROM walk GROUP BY id
       |), nk AS MATERIALIZED (
       |  SELECT g.* FROM ek g JOIN canon c ON g.doc_id = c.id AND c.canonical = g.doc_id
       |), ${Similarity.ivfChainSql(cfg, semWhere, materialized = true)}, probe AS (
       |  SELECT vec_id, j AS bucket FROM (
       |    SELECT vec_id, j, row_number() OVER (PARTITION BY vec_id ORDER BY dist, j) AS rn
       |    FROM distF)
       |  WHERE rn <= ${Dedup.ClusterPairProbes}
       |), scand AS (
       |  SELECT DISTINCT a.vec_id AS va, b.vec_id AS vb
       |  FROM probe a JOIN probe b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
       |), nv AS MATERIALIZED (
       |  SELECT vec_id, embedding,
       |    sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
       |  FROM embeddings $semWhere
       |), sempairs AS (
       |  SELECT c.va, c.vb
       |  FROM scand c JOIN nv a ON a.vec_id = c.va JOIN nv b ON b.vec_id = c.vb
       |  WHERE round(list_sum(list_transform(list_zip(a.embedding, b.embedding),
       |      p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) / (a.nrm * b.nrm), 6)
       |    >= ${Dedup.CosineThreshold}
       |), semedges AS (
       |  SELECT va AS src, vb AS dst FROM sempairs
       |  UNION ALL SELECT vb AS src, va AS dst FROM sempairs
       |), semwalk(id, lbl) AS (
       |  SELECT vec_id, vec_id FROM nv
       |  UNION
       |  SELECT e.dst, w.lbl FROM semwalk w JOIN semedges e ON e.src = w.id
       |), semdrop AS (
       |  SELECT id AS doc_id FROM (
       |    SELECT id, min(lbl) AS canonical FROM semwalk GROUP BY id)
       |  WHERE canonical <> id
       |), sk AS MATERIALIZED (
       |  SELECT * FROM nk WHERE doc_id NOT IN (SELECT doc_id FROM semdrop)
       |), bench AS (
       |  SELECT DISTINCT unnest(list_distinct(list_transform(
       |    range(len(t) - ${k - 1}),
       |    i -> array_to_string(t[i+1:i+$k], ' ')))) AS s
       |  FROM (SELECT regexp_split_to_array(lower(text), '\\s+') AS t
       |        FROM documents WHERE doc_id % 20 = 0)
       |  WHERE len(t) >= $k
       |), ssh AS (
       |  SELECT doc_id, unnest(list_distinct(list_transform(
       |    range(len(t) - ${k - 1}),
       |    i -> array_to_string(t[i+1:i+$k], ' ')))) AS s
       |  FROM sk WHERE len(t) >= $k
       |), contam AS (
       |  SELECT DISTINCT ssh.doc_id FROM ssh JOIN bench USING (s)
       |), clean AS MATERIALIZED (
       |  SELECT * FROM sk WHERE doc_id NOT IN (SELECT doc_id FROM contam)
       |), src_sizes AS (
       |  SELECT source, count(*) AS n_src FROM clean GROUP BY 1
       |), mn AS (SELECT min(n_src) AS n_min FROM src_sizes),
       |rates AS (
       |  SELECT source,
       |    CAST(floor(10000 * sqrt(CAST(n_min AS DOUBLE) / CAST(n_src AS DOUBLE))) AS BIGINT) AS thr
       |  FROM src_sizes, mn
       |), sampled AS MATERIALIZED (
       |  SELECT c.doc_id, c.n_tokens,
       |    ${Corpus.splitColSql("c.doc_id")} AS split,
       |    CAST(concat('0x', substring(md5(CAST(c.doc_id AS VARCHAR)), 9, 4)) AS BIGINT) % 8
       |      AS shard
       |  FROM clean c JOIN rates r ON r.source = c.source
       |  WHERE CAST(concat('0x', substring(md5(CAST(c.doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
       |      % 10000 < r.thr
       |), chunks AS (
       |  SELECT split, shard, doc_id, n_tokens,
       |    COALESCE(sum(n_tokens) OVER (PARTITION BY split, shard ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_tok
       |  FROM sampled
       |)
       |SELECT split, shard,
       |  CAST(floor(start_tok / ${Corpus.PackBudget}) AS BIGINT) AS chunk_id,
       |  count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       |  min(doc_id) AS min_doc, max(doc_id) AS max_doc
       |FROM chunks
       |GROUP BY 1, 2, 3
       |ORDER BY 1, 2, 3""".stripMargin
  }

  /** ARRIVAL-TIME CORPUS INTAKE — the gate-composition dual of
    * [[qPipelineFull]]: where the composite cleans a STANDING corpus
    * against itself, the intake gates an INGEST BATCH against standing
    * corpus artifacts, one verdict row per arrival with the first stage
    * that rejected it:
    *
    *   quality/lang (per-row) → exact_dup (corpus fingerprint semi-join)
    *   → near_dup (stored MinHash-LSH index probe) → semantic_dup (stored
    *   IVF index probe; arrivals without an embedding pass) →
    *   contaminated (broadcast bench-gram join) → clean (+ split/shard
    *   routing; chunk assignment composes downstream via
    *   [[graft.streaming.PackStream]]).
    *
    * Every verdict depends only on the arrival and the STANDING corpus —
    * arrivals never pair with each other — so the per-batch gate equals
    * the one-shot batch gate of the whole feed under ANY trigger split
    * (the [[graft.streaming.IntakeStream]] spec pins it), and per-batch
    * cost is O(batch) probes against persisted artifacts.
    */
  /** Admission bar for [[intakeBatch]] — looser than [[QualityMin]]: an
    * intake service admits borderline documents and lets the dedup /
    * contamination stages decide (the one-shot corpus clean can afford a
    * harsher gate because it sees the whole corpus at once), and the
    * looser bar keeps every downstream stage exercised by the oracle.
    */
  val IntakeQualityMin = 0.35

  /** Contamination bar for [[intakeBatch]]: an arrival is rejected when it
    * shares at least this many distinct 3-shingles with the eval set —
    * single-shingle collisions are common-phrase noise on any corpus, so
    * the one-shingle rule would quarantine most of a clean feed (measured
    * 80% at sf0.01); three matching shingles is the q_contamination-style
    * evidence threshold.
    */
  val IntakeContamMinShingles = 3

  def intakeBatch(arrivals: DataFrame, corpusFps: DataFrame,
      lshIndexDir: String, embLookup: DataFrame, corpusEmb: DataFrame,
      ivfIndexDir: String, benchGrams: DataFrame): DataFrame =
    intakeBatchImpl(arrivals, None, corpusFps, lshIndexDir, embLookup,
      corpusEmb, ivfIndexDir, benchGrams)

  /** Session-memoized arrival-side relations of the intake cascade
    * (round 15 — the arrival dual of [[Artifacts.ensureIntakeStanding]]):
    * each is a PURE per-document function of the arrival set (and, for
    * probes, the frozen IVF centroids), so serving a superset relation
    * semi-joined to the current survivor set is bit-identical to
    * recomputing from the survivors — the equivalence the stream==batch
    * argument already rests on.
    *
    *   - meta:     (doc_id, n_tokens, quality_score, lang, fp)
    *   - shingles: (id, s)             — LSH verify + contamination probe
    *   - bands:    (id, band, bv, sg)  — LSH banding collisions
    *   - probes:   (id, bucket)        — IVF nprobe nearest buckets
    *   - nbScores: (doc_id, n_toks, score_micro) — NB classifier scores
    *     against the session model (itself a deterministic per-dir
    *     artifact, so the scores are bit-stable too)
    */
  final case class ArrivalPrep(meta: DataFrame, shingles: DataFrame,
      bands: DataFrame, probes: DataFrame, nbScores: DataFrame)

  /** The per-arrival gate/meta projection (tokens → n_tokens, quality,
    * langid, exact-dup fingerprint) — the single definition the inline
    * cascade and the [[Artifacts.ensureIntakeArrivals]] builder share.
    */
  private[ops] def arrivalMeta(arrivals: DataFrame): DataFrame =
    arrivals
      .select(col("doc_id"), col("source"), col("text"), tokens(col("text")).as("t"))
      .withColumn("n_tokens", size(col("t")).cast(LongType))
      .withColumn("quality_score",
        TextAnalysis.qualityScoreC(
          TextAnalysis.stopRatioC(col("t")),
          TextAnalysis.typeTokenRatioC(col("t")),
          TextAnalysis.lengthOkC(col("t"))))
      .withColumn("lang", TextAnalysis.langPredC(col("t")))
      .withColumn("fp", md5(concat_ws(" ", col("t"))))

  /** [[intakeBatch]] served from session-memoized arrival artifacts: the
    * tokenize/quality/langid/fp scan, the MinHash banding, the shingle
    * relation and the IVF probe ranking are all read back instead of
    * recomputed per run — only the survivor-set joins and the exact
    * verifications execute. Bit-identical to [[intakeBatch]] because
    * every prepared relation is a pure per-document function.
    */
  def intakeBatchPrepared(arrivals: DataFrame, prep: ArrivalPrep,
      corpusFps: DataFrame, lshIndexDir: String, embLookup: DataFrame,
      corpusEmb: DataFrame, ivfIndexDir: String,
      benchGrams: DataFrame): DataFrame =
    intakeBatchImpl(arrivals, Some(prep), corpusFps, lshIndexDir, embLookup,
      corpusEmb, ivfIndexDir, benchGrams)

  private def intakeBatchImpl(arrivals: DataFrame, prep: Option[ArrivalPrep],
      corpusFps: DataFrame, lshIndexDir: String, embLookup: DataFrame,
      corpusEmb: DataFrame, ivfIndexDir: String,
      benchGrams: DataFrame): DataFrame = {
    // prepared meta is a superset (all arrivals) — restrict to THIS call's
    // arrival set so a pre-gated caller (intakeBatchGated) still excludes
    // its rejected ids from the cascade
    val withT = prep
      .map(_.meta.join(arrivals.select(col("doc_id")), Seq("doc_id"), "left_semi"))
      .getOrElse(arrivalMeta(arrivals)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val gated = withT.filter(col("lang") === "en" && col("quality_score") >= IntakeQualityMin)
    // Exact-dup probe with the broadcast on the ARRIVAL side (round 12):
    // the fingerprint store is corpus-sized, so broadcasting it per batch
    // is a driver OOM at the documented scale. A ⋉ B ≡ A ⋉ (B ⋉ A): one
    // narrow scan of the stored fps semi-joined by the trigger-bounded
    // arrival fps, then only the (≤ batch-sized by construction)
    // surviving fps broadcast back — per-batch driver/executor state now
    // bounded by the trigger, with the corpus touched only as a streamed
    // single-column scan.
    // .distinct() is load-bearing: the left-semi preserves corpusFps
    // multiplicity, so a fingerprint duplicated heavily in the corpus
    // that also arrives would make broadcast(hitFps) dup-mass-sized —
    // the driver-OOM shape this flip exists to avoid. Distinct bounds
    // it by the arrival batch again.
    val hitFps = corpusFps.select(col("fp"))
      .join(broadcast(gated.select(col("fp")).distinct()), Seq("fp"), "left_semi")
      .distinct()
    val exactDup = gated
      .join(broadcast(hitFps), Seq("fp"), "left_semi")
      .select(col("doc_id"), lit("exact_dup").as("r"))
    // Each survivor relation feeds several downstream consumers (the
    // next stage's probe, its anti-join, the verdict assembly) — persist
    // them so the whole anti-join chain back to the arrival scan doesn't
    // re-execute per consumer (measured ~2× the summed stage costs at
    // sf0.1 without these; all three are arrival-bounded rows)
    val afterExact = gated.join(exactDup.select("doc_id"), Seq("doc_id"), "left_anti")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nearDup = (prep match {
      case Some(p) =>
        // banding restricted to the exact-dup survivors; the shingle
        // relation self-restricts through the candidate join by id
        TextDedup.minhashLshIncrementalFromIndexPrepared(
          p.shingles,
          p.bands.join(afterExact.select(col("doc_id").as("id")), Seq("id"), "left_semi"),
          lshIndexDir, Dedup.JaccardThreshold)
      case None =>
        TextDedup.minhashLshIncrementalFromIndex(
          afterExact, col("doc_id"), col("text"), lshIndexDir,
          TextDedup.MinHashConfig(shingleK = Dedup.ShingleK), Dedup.JaccardThreshold)
    }).select(col("id").as("doc_id"), lit("near_dup").as("r"))
    val afterNear = afterExact.join(nearDup.select("doc_id"), Seq("doc_id"), "left_anti")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // arrival vectors come from the embeddings TABLE keyed by doc_id
    // (vec_id ≡ doc_id on this corpus); arrivals without one pass through
    val withVec = afterNear
      .join(embLookup.select(col("vec_id").as("doc_id"), col("embedding")), Seq("doc_id"))
      .select(col("doc_id").as("vec_id"), col("embedding"))
    val semDup = (prep match {
      case Some(p) =>
        // the probe relation self-restricts to withVec through its id join
        VectorSearch.semDedupIncrementalFromIndexPrepared(
          corpusEmb, withVec, col("vec_id"), col("embedding"), p.probes,
          ivfIndexDir, Similarity.SemThreshold)
      case None =>
        VectorSearch.semDedupIncrementalFromIndex(
          corpusEmb, withVec, col("vec_id"), col("embedding"), ivfIndexDir,
          Similarity.SemThreshold)
    }).select(col("id").as("doc_id"), lit("semantic_dup").as("r"))
    val afterSem = afterNear.join(semDup.select("doc_id"), Seq("doc_id"), "left_anti")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val survSh = prep match {
      case Some(p) =>
        p.shingles.join(afterSem.select(col("doc_id").as("id")), Seq("id"), "left_semi")
      case None =>
        TextDedup.shingles(afterSem, col("doc_id"), col("text"), Dedup.ShingleK)
    }
    // same arrival-side-broadcast flip as the fp probe: the benchmark
    // gram set scales with the eval corpus — scan it once per batch,
    // broadcast only the (trigger-bounded) arrival shingles and the
    // surviving intersection
    val hitGrams = benchGrams.select(col("s"))
      .join(broadcast(survSh.select(col("s")).distinct()), Seq("s"), "left_semi")
    val contam = survSh.join(broadcast(hitGrams), Seq("s"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= IntakeContamMinShingles)
      .select(col("id").as("doc_id"), lit("contaminated").as("r"))
    val flagged = exactDup.unionByName(nearDup).unionByName(semDup).unionByName(contam)
    val out = withT
      .select(col("doc_id"), col("n_tokens"),
        when(col("lang") =!= "en", "lang")
          .when(col("quality_score") < IntakeQualityMin, "quality").as("gate_r"))
      .join(flagged, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("gate_r"), col("r"), lit("clean")).as("reason"))
      .withColumn("accepted", (col("reason") === "clean").cast(LongType))
      .withColumn("split",
        when(col("reason") === "clean", Corpus.splitCol(col("doc_id"))))
      .withColumn("shard",
        when(col("reason") === "clean",
          pmod(conv(substring(md5(col("doc_id").cast("string")), 9, 4), 16, 10).cast("long"),
            lit(8))))
      .orderBy(col("doc_id"))
    // Per-gate verdict counts observed ON the verdict node during the one
    // materialization pass — the intake's operational dashboard without a
    // second scan of the batch (in the streaming dual this runs per
    // micro-batch; [[lastIntakeMetrics]] then holds the LAST batch).
    def nReason(r: String) = coalesce(
      sum(when(col("reason") === r, 1L).otherwise(0L)), lit(0L)).as(s"n_$r")
    val obs = new org.apache.spark.sql.Observation()
    val observed = out.observe(obs,
      count(lit(1)).as("rows_arrived"),
      nReason("clean"), nReason("exact_dup"), nReason("near_dup"),
      nReason("semantic_dup"), nReason("contaminated"),
      nReason("lang"), nReason("quality"),
      coalesce(sum(when(col("reason") === "clean", col("n_tokens")).otherwise(0L)),
        lit(0L)).as("clean_tokens"))
    val res = TextDedup.materializeAndRelease(
      observed, withT, survSh, afterExact, afterNear, afterSem)
    lastIntakeMetrics = Some(obs.get)
    res
  }

  /** Per-gate verdict counts of the last [[intakeBatch]] run (keys:
    * `rows_arrived`, `n_clean`, `n_exact_dup`, `n_near_dup`,
    * `n_semantic_dup`, `n_contaminated`, `n_lang`, `n_quality`,
    * `clean_tokens`) — the [[lastPipelineMetrics]] discipline applied to
    * the intake front door.
    */
  @volatile var lastIntakeMetrics: Option[Map[String, Any]] = None

  /** [[intakeBatch]] with the TRAINED quality classifier as the pre-gate
    * stage (VERDICT r13 item 6) — the arrival-time composition of
    * [[qPipelineGated]]'s production filter with the intake cascade:
    * every arrival is scored against the FROZEN NB weight tables first
    * (the one shared [[TextAnalysis.nbScore]] formula), `neg` verdicts
    * leave immediately with reason `classifier` (no index probes paid
    * for rejected junk — the cheap gate runs before the expensive ones),
    * and `pos` survivors flow through the unchanged cascade. Because the
    * classifier is a pure function of (arrival, stored model) and
    * arrivals never pair with each other, gating per micro-batch equals
    * the one-shot gate of the whole feed — the stream==batch argument
    * the spec pins under 2- and 3-way trigger splits.
    *
    * Scale per batch: one vocab-sized broadcast into the exploded batch
    * tokens + one per-doc aggregate on top of [[intakeBatch]]'s costs —
    * and strictly FEWER index probes, since rejected arrivals never
    * reach the LSH/IVF serving paths.
    */
  def intakeBatchGated(arrivals: DataFrame, weights: DataFrame,
      totals: DataFrame, corpusFps: DataFrame, lshIndexDir: String,
      embLookup: DataFrame, corpusEmb: DataFrame, ivfIndexDir: String,
      benchGrams: DataFrame): DataFrame =
    intakeBatchGatedImpl(arrivals, None, Some((weights, totals)), corpusFps,
      lshIndexDir, embLookup, corpusEmb, ivfIndexDir, benchGrams)

  /** [[intakeBatchGated]] served from the session-memoized arrival
    * artifacts (see [[intakeBatchPrepared]]) — the classifier verdicts
    * come from `prep.nbScores`, which are bound to the session
    * [[Artifacts.ensureQualityNb]] model; the signature takes NO model
    * relations (ADVICE r15: the old weights/totals parameters were
    * silently ignored here, so a caller passing a different model got
    * the artifact model's verdicts with no error).
    */
  def intakeBatchGatedPrepared(arrivals: DataFrame, prep: ArrivalPrep,
      corpusFps: DataFrame,
      lshIndexDir: String, embLookup: DataFrame, corpusEmb: DataFrame,
      ivfIndexDir: String, benchGrams: DataFrame): DataFrame =
    intakeBatchGatedImpl(arrivals, Some(prep), None, corpusFps,
      lshIndexDir, embLookup, corpusEmb, ivfIndexDir, benchGrams)

  private def intakeBatchGatedImpl(arrivals: DataFrame, prep: Option[ArrivalPrep],
      model: Option[(DataFrame, DataFrame)], corpusFps: DataFrame,
      lshIndexDir: String, embLookup: DataFrame, corpusEmb: DataFrame,
      ivfIndexDir: String, benchGrams: DataFrame): DataFrame = {
    require(prep.isDefined != model.isDefined,
      "classifier source must be EXACTLY ONE of prepared arrival scores " +
        "(bound to the session artifact model) or an explicit (weights, totals) model")
    val rejected = (prep match {
      case Some(p) =>
        p.nbScores.join(arrivals.select(col("doc_id")), Seq("doc_id"), "left_semi")
      case None =>
        val (weights, totals) = model.get
        TextAnalysis.nbScore(
          arrivals
            .select(col("doc_id"), tokens(col("text")).as("t"))
            .filter(size(col("t")) >= 1)
            .select(col("doc_id"), explode(col("t")).as("tok")),
          Seq("doc_id"), weights, totals)
    }).filter(TextAnalysis.nbVerdict(col("score_micro")) === "neg")
      .select(col("doc_id"), col("n_toks"))
      .localCheckpoint()
    val pos = arrivals.join(
      broadcast(rejected.select(col("doc_id"))), Seq("doc_id"), "left_anti")
    val inner = intakeBatchImpl(pos, prep, corpusFps, lshIndexDir, embLookup,
      corpusEmb, ivfIndexDir, benchGrams)
    inner.unionByName(
        rejected.select(col("doc_id"), col("n_toks").as("n_tokens"),
          lit("classifier").as("reason"), lit(0L).as("accepted"),
          lit(null).cast(StringType).as("split"),
          lit(null).cast(LongType).as("shard")))
      .orderBy(col("doc_id"))
  }

  /** The FULL intake cascade (round 15 — VERDICT r14 item 4): every
    * standing gate of the engine composed into one ingest front door with
    * verdict provenance, ordered cheapest-first:
    *
    *   repetition (Gopher §A1.1 — a pure row expression, the cheapest
    *   gate, so repeated junk never reaches the classifier) → classifier
    *   (frozen NB model) → quality/lang → exact_dup → near_dup →
    *   semantic_dup → contaminated → geo_sampled (multimodal path:
    *   arrivals carrying a geo-tagged photo admit at the FROZEN
    *   standing-corpus temperature rates — the [[Multimodal.cellRates]]
    *   formula, md5-bucket decision, so over-represented regions are
    *   down-sampled at the door) → clean.
    *
    * Stream == batch still holds: every verdict (including geo — the
    * rates are frozen standing state, the keep decision a pure row
    * function) depends only on the arrival and standing artifacts.
    *
    * @param photoCells (doc_id, lat_cell, lon_cell) for arrivals carrying
    *   a geo-tagged photo (the [[Multimodal.burstKeys]] decode); arrivals
    *   absent from it skip the geo stage
    * @param geoRates frozen (lat_cell, lon_cell, thr) standing-corpus
    *   admission thresholds; cells unseen in the standing corpus admit
    */
  def intakeBatchFull(arrivals: DataFrame, prep: Option[ArrivalPrep],
      model: Option[(DataFrame, DataFrame)], corpusFps: DataFrame,
      lshIndexDir: String, embLookup: DataFrame, corpusEmb: DataFrame,
      ivfIndexDir: String, benchGrams: DataFrame,
      photoCells: DataFrame, geoRates: DataFrame): DataFrame = {
    val repDropped = arrivals
      .join(TextAnalysis.docRepetitionProfileOf(arrivals)
          .filter(not(expr(TextAnalysis.RepetitionKeep)))
          .select(col("doc_id")),
        Seq("doc_id"), "left_semi")
      .select(col("doc_id"), size(tokens(col("text"))).cast(LongType).as("n_tokens"))
      .localCheckpoint()
    val pos = arrivals.join(
      broadcast(repDropped.select(col("doc_id"))), Seq("doc_id"), "left_anti")
    val gatedOut = intakeBatchGatedImpl(pos, prep, model, corpusFps,
      lshIndexDir, embLookup, corpusEmb, ivfIndexDir, benchGrams)
    // geo admission applies to otherwise-clean photo-carrying arrivals:
    // thresholds broadcast (≤ 18×36 cells), decision a pure row function
    val geoThr = photoCells
      .join(broadcast(geoRates.select(col("lat_cell"), col("lon_cell"), col("thr"))),
        Seq("lat_cell", "lon_cell"), "left")
      .select(col("doc_id"), col("thr"))
    val geoGated = gatedOut
      .join(geoThr, Seq("doc_id"), "left")
      .withColumn("geo_drop",
        col("reason") === "clean" && col("thr").isNotNull &&
          Multimodal.keepBucket(col("doc_id")) >= col("thr"))
      .select(col("doc_id"), col("n_tokens"),
        when(col("geo_drop"), "geo_sampled").otherwise(col("reason")).as("reason"),
        when(col("geo_drop"), 0L).otherwise(col("accepted")).as("accepted"),
        when(col("geo_drop"), lit(null).cast(StringType)).otherwise(col("split")).as("split"),
        when(col("geo_drop"), lit(null).cast(LongType)).otherwise(col("shard")).as("shard"))
    geoGated.unionByName(
        repDropped.select(col("doc_id"), col("n_tokens"),
          lit("repetition").as("reason"), lit(0L).as("accepted"),
          lit(null).cast(StringType).as("split"),
          lit(null).cast(LongType).as("shard")))
      .orderBy(col("doc_id"))
  }

  /** [[intakeBatch]] bound to the standing split: corpus = doc_id ≢ 0
    * mod 5 (with its session-shared dedup-LSH and semantic-IVF artifacts
    * — the SAME [[graft.ServingIndexes]] builds the individual gate
    * queries use), arrivals = doc_id ≡ 0 mod 5, eval stand-in = corpus
    * docs ≡ 0 mod 7.
    */
  def qIntake(spark: SparkSession, dir: String): DataFrame = {
    val docs = table(spark, dir, "documents")
    val arrivals = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
    val emb = table(spark, dir, "embeddings")
    val corpusEmb = emb.filter(pmod(col("vec_id"), lit(5)) =!= 0)
    val lshDir = Artifacts.ensureDedupLsh(spark, dir)
    val ivfDir = Artifacts.ensureSemdedupIvf(spark, dir)
    // fp/gram probe relations served from the session artifact — the two
    // intake queries otherwise each re-paid the standing-corpus scans
    val standing = Artifacts.ensureIntakeStanding(spark, dir)
    val corpusFps = spark.read.parquet(s"$standing/fps.parquet")
    val benchGrams = spark.read.parquet(s"$standing/grams.parquet")
    intakeBatchPrepared(arrivals, Artifacts.intakeArrivalPrep(spark, dir),
      corpusFps, lshDir, emb, corpusEmb, ivfDir, benchGrams)
  }

  /** DuckDB replay of the whole cascade with the SAME stage priority:
    * the near-dup stage replays as the exact cross-corpus Jaccard (the
    * [[Dedup.qDedupIncrementalSql]] discipline — LSH recall ≈ 1 at these
    * thresholds on this corpus), the semantic stage as the corpus-trained
    * Lloyd chain probed by the arrivals, contamination and the gates as
    * pure projections.
    */
  val qIntakeSql: String = {
    val de = TextAnalysis.sqlStopCount(TextAnalysis.StopwordsDe)
    val en = TextAnalysis.sqlStopCount(TextAnalysis.StopwordsEn)
    val es = TextAnalysis.sqlStopCount(TextAnalysis.StopwordsEs)
    val fr = TextAnalysis.sqlStopCount(TextAnalysis.StopwordsFr)
    val k = Dedup.ShingleK
    val cfg = VectorSearch.IvfConfig()
    val q = (1L << cfg.quantBits).toString
    s"""WITH ${Similarity.ivfChainSql(cfg, "WHERE vec_id % 5 <> 0", materialized = true)},
       |arr AS MATERIALIZED (
       |  SELECT doc_id, source, text, regexp_split_to_array(lower(text), '\\s+') AS t
       |  FROM documents WHERE doc_id % 5 = 0
       |), acc AS MATERIALIZED (
       |  SELECT doc_id, text, t, len(t) AS n_tokens,
       |    (CAST($en AS DOUBLE) / CAST(len(t) AS DOUBLE) * 2
       |     + CAST(len(list_distinct(t)) AS DOUBLE) / CAST(len(t) AS DOUBLE)
       |     + CAST(len(t) >= 10 AND len(t) <= 1000 AS INTEGER)) / 4 AS quality_score,
       |    ${TextAnalysis.langPredSql} AS pred,
       |    md5(array_to_string(t, ' ')) AS fp
       |  FROM (SELECT doc_id, source, text, t, $de AS c_de, $en AS c_en,
       |          $es AS c_es, $fr AS c_fr FROM arr) arrc
       |), gated AS MATERIALIZED (
       |  SELECT * FROM acc WHERE pred = 'en' AND quality_score >= $IntakeQualityMin
       |), cfp AS (
       |  SELECT DISTINCT md5(array_to_string(regexp_split_to_array(lower(text), '\\s+'), ' ')) AS fp
       |  FROM documents WHERE doc_id % 5 <> 0
       |), exact_dup AS MATERIALIZED (
       |  SELECT doc_id FROM gated WHERE fp IN (SELECT fp FROM cfp)
       |), ash AS MATERIALIZED (
       |  SELECT doc_id, unnest(list_distinct(list_transform(
       |    range(len(t) - ${k - 1}), i -> array_to_string(t[i+1:i+$k], ' ')))) AS s
       |  FROM gated WHERE len(t) >= $k AND doc_id NOT IN (SELECT doc_id FROM exact_dup)
       |), csh AS MATERIALIZED (
       |  SELECT doc_id, unnest(list_distinct(list_transform(
       |    range(len(t) - ${k - 1}), i -> array_to_string(t[i+1:i+$k], ' ')))) AS s
       |  FROM (SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS t
       |        FROM documents WHERE doc_id % 5 <> 0) c
       |  WHERE len(t) >= $k
       |), asz AS (SELECT doc_id, count(*) AS n FROM ash GROUP BY 1),
       |csz AS (SELECT doc_id, count(*) AS n FROM csh GROUP BY 1),
       |near_dup AS MATERIALIZED (
       |  SELECT DISTINCT cm.di AS doc_id FROM (
       |    SELECT a.doc_id AS di, c.doc_id AS dc, count(*) AS common
       |    FROM ash a JOIN csh c ON a.s = c.s GROUP BY 1, 2) cm
       |  JOIN asz x ON cm.di = x.doc_id JOIN csz y ON cm.dc = y.doc_id
       |  WHERE CAST(common AS DOUBLE) / CAST(x.n + y.n - common AS DOUBLE)
       |    >= ${Dedup.JaccardThreshold}
       |), seminc AS MATERIALIZED (
       |  SELECT vec_id, d,
       |    CAST(floor(CAST(embedding[CAST(d + 1 AS INT)] AS DOUBLE) * $q) AS BIGINT) AS x
       |  FROM embeddings CROSS JOIN range(${cfg.dim}) rdi(d)
       |  WHERE vec_id IN (SELECT doc_id FROM gated
       |                   WHERE doc_id NOT IN (SELECT doc_id FROM exact_dup)
       |                     AND doc_id NOT IN (SELECT doc_id FROM near_dup))
       |), disti AS MATERIALIZED (
       |  ${Similarity.ivfDistSql("seminc", "centF", "crecF")}
       |), probei AS (
       |  SELECT vec_id AS id_i, j AS bucket FROM (
       |    SELECT vec_id, j, row_number() OVER (PARTITION BY vec_id ORDER BY dist, j) AS rn
       |    FROM disti)
       |  WHERE rn <= ${cfg.nprobe}
       |), nvv AS MATERIALIZED (
       |  SELECT vec_id, embedding,
       |    sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
       |  FROM embeddings
       |), semantic_dup AS MATERIALIZED (
       |  SELECT DISTINCT p.id_i AS doc_id
       |  FROM probei p JOIN assignF a ON a.c = p.bucket
       |  JOIN nvv i ON i.vec_id = p.id_i JOIN nvv cv ON cv.vec_id = a.vec_id
       |  WHERE round(list_sum(list_transform(list_zip(i.embedding, cv.embedding),
       |      z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE))) / (i.nrm * cv.nrm), 6)
       |    >= ${Similarity.SemThreshold}
       |), bench AS (
       |  SELECT DISTINCT s FROM csh WHERE doc_id % 7 = 0
       |), contaminated AS MATERIALIZED (
       |  SELECT ash.doc_id FROM ash JOIN bench USING (s)
       |  WHERE ash.doc_id NOT IN (SELECT doc_id FROM near_dup)
       |    AND ash.doc_id NOT IN (SELECT doc_id FROM semantic_dup)
       |  GROUP BY ash.doc_id
       |  HAVING count(*) >= $IntakeContamMinShingles
       |)
       |SELECT a.doc_id, CAST(a.n_tokens AS BIGINT) AS n_tokens,
       |  CASE WHEN a.pred <> 'en' THEN 'lang'
       |       WHEN a.quality_score < $IntakeQualityMin THEN 'quality'
       |       WHEN a.doc_id IN (SELECT doc_id FROM exact_dup) THEN 'exact_dup'
       |       WHEN a.doc_id IN (SELECT doc_id FROM near_dup) THEN 'near_dup'
       |       WHEN a.doc_id IN (SELECT doc_id FROM semantic_dup) THEN 'semantic_dup'
       |       WHEN a.doc_id IN (SELECT doc_id FROM contaminated) THEN 'contaminated'
       |       ELSE 'clean' END AS reason,
       |  CAST(CASE WHEN a.pred = 'en' AND a.quality_score >= $IntakeQualityMin
       |       AND a.doc_id NOT IN (SELECT doc_id FROM exact_dup)
       |       AND a.doc_id NOT IN (SELECT doc_id FROM near_dup)
       |       AND a.doc_id NOT IN (SELECT doc_id FROM semantic_dup)
       |       AND a.doc_id NOT IN (SELECT doc_id FROM contaminated)
       |    THEN 1 ELSE 0 END AS BIGINT) AS accepted,
       |  CASE WHEN a.pred = 'en' AND a.quality_score >= $IntakeQualityMin
       |       AND a.doc_id NOT IN (SELECT doc_id FROM exact_dup)
       |       AND a.doc_id NOT IN (SELECT doc_id FROM near_dup)
       |       AND a.doc_id NOT IN (SELECT doc_id FROM semantic_dup)
       |       AND a.doc_id NOT IN (SELECT doc_id FROM contaminated)
       |    THEN ${Corpus.splitColSql("a.doc_id")} END AS split,
       |  CASE WHEN a.pred = 'en' AND a.quality_score >= $IntakeQualityMin
       |       AND a.doc_id NOT IN (SELECT doc_id FROM exact_dup)
       |       AND a.doc_id NOT IN (SELECT doc_id FROM near_dup)
       |       AND a.doc_id NOT IN (SELECT doc_id FROM semantic_dup)
       |       AND a.doc_id NOT IN (SELECT doc_id FROM contaminated)
       |    THEN CAST(concat('0x', substring(md5(CAST(a.doc_id AS VARCHAR)), 9, 4)) AS BIGINT) % 8
       |  END AS shard
       |FROM acc a
       |ORDER BY a.doc_id""".stripMargin
  }

  /** [[intakeBatchGated]] bound to the standing split — [[qIntake]]'s
    * setup plus the session-stored NB model
    * ([[Artifacts.ensureQualityNb]], trained on the standing 80 % split,
    * so the model has never seen the arrival docs it gates).
    */
  def qIntakeGated(spark: SparkSession, dir: String): DataFrame = {
    val docs = table(spark, dir, "documents")
    val arrivals = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
    val emb = table(spark, dir, "embeddings")
    val corpusEmb = emb.filter(pmod(col("vec_id"), lit(5)) =!= 0)
    val lshDir = Artifacts.ensureDedupLsh(spark, dir)
    val ivfDir = Artifacts.ensureSemdedupIvf(spark, dir)
    // classifier model comes through the prepared arrival scores (bound
    // to ensureQualityNb) — no separate weights/totals reads (ADVICE r15)
    val standing = Artifacts.ensureIntakeStanding(spark, dir)
    intakeBatchGatedPrepared(arrivals, Artifacts.intakeArrivalPrep(spark, dir),
      spark.read.parquet(s"$standing/fps.parquet"), lshDir,
      emb, corpusEmb, ivfDir,
      spark.read.parquet(s"$standing/grams.parquet"))
  }

  /** [[intakeBatchFull]] bound to the standing split: [[qIntakeGated]]'s
    * setup plus the arrival photo cells (the [[Multimodal.burstKeys]]
    * EXIF decode over the photo-carrying arrivals) and the frozen
    * standing-corpus geo admission rates.
    */
  def qIntakeFull(spark: SparkSession, dir: String): DataFrame = {
    val docs = table(spark, dir, "documents")
    val arrivals = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
    val emb = table(spark, dir, "embeddings")
    val corpusEmb = emb.filter(pmod(col("vec_id"), lit(5)) =!= 0)
    val lshDir = Artifacts.ensureDedupLsh(spark, dir)
    val ivfDir = Artifacts.ensureSemdedupIvf(spark, dir)
    val standing = Artifacts.ensureIntakeStanding(spark, dir)
    // geo state served from the session artifact (VERDICT r15 item 7) —
    // the cascade no longer EXIF-walks the photo corpus per run
    val geo = Artifacts.ensureGeoCells(spark, dir)
    intakeBatchFull(arrivals, Some(Artifacts.intakeArrivalPrep(spark, dir)), None,
      spark.read.parquet(s"$standing/fps.parquet"), lshDir,
      emb, corpusEmb, ivfDir,
      spark.read.parquet(s"$standing/grams.parquet"),
      spark.read.parquet(s"$geo/photoCells.parquet"),
      spark.read.parquet(s"$geo/rates.parquet"))
  }

  /** DuckDB replay of the full cascade: the gated CTE chain plus the
    * repetition profile over the arrivals (`reprej`) and the geo
    * admission replay from the doc_id arithmetic ([[Multimodal
    * .qGeoDiversityMixSql]]'s cell formula with rates frozen over the
    * standing photos) — verdict priority repetition → classifier →
    * cascade → geo, valid for the same per-doc-independence reason the
    * gated oracle documents.
    */
  val qIntakeFullSql: String = {
    val rep = TextAnalysis.docRepetitionProfileSql(
      withOrder = false, where = "WHERE doc_id % 5 = 0")
    s"""WITH $intakeGatedCtesSql,
       |rep AS (
       |$rep
       |), reprej AS MATERIALIZED (
       |  SELECT doc_id FROM rep WHERE NOT (${TextAnalysis.RepetitionKeep})
       |), gm AS (
       |  SELECT doc_id,
       |    (CASE WHEN (doc_id // 3) % 2 = 1 THEN -1 ELSE 1 END) *
       |      ((doc_id % 90) * 3600000000 + (doc_id % 60) * 60000000
       |       + ((doc_id * 13) % 6000) * 10000) AS lat,
       |    (CASE WHEN (doc_id // 5) % 2 = 1 THEN -1 ELSE 1 END) *
       |      ((doc_id % 180) * 3600000000 + ((doc_id * 3) % 60) * 60000000
       |       + ((doc_id * 17) % 6000) * 10000) AS lon
       |  FROM documents WHERE doc_id % 3 = 1
       |), gk AS (
       |  SELECT doc_id,
       |    (lat + 324000000000) // 36000000000 AS lat_cell,
       |    (lon + 648000000000) // 36000000000 AS lon_cell
       |  FROM gm
       |), gcells AS (
       |  SELECT lat_cell, lon_cell, count(*) AS n_cell
       |  FROM gk WHERE doc_id % 5 <> 0 GROUP BY 1, 2
       |), gmn AS (SELECT min(n_cell) AS n_min FROM gcells),
       |grates AS (
       |  SELECT lat_cell, lon_cell,
       |    CAST(floor(10000 * sqrt(CAST(n_min AS DOUBLE) / CAST(n_cell AS DOUBLE))) AS BIGINT) AS thr
       |  FROM gcells, gmn
       |), georej AS MATERIALIZED (
       |  SELECT gk.doc_id
       |  FROM gk JOIN grates r ON r.lat_cell = gk.lat_cell AND r.lon_cell = gk.lon_cell
       |  WHERE gk.doc_id % 5 = 0
       |    AND CAST(concat('0x', substring(md5(CAST(gk.doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
       |      % 10000 >= r.thr
       |)
       |SELECT doc_id, n_tokens,
       |  CASE WHEN doc_id IN (SELECT doc_id FROM reprej) THEN 'repetition'
       |       WHEN doc_id IN (SELECT doc_id FROM nbrej) THEN 'classifier'
       |       WHEN reason = 'clean' AND doc_id IN (SELECT doc_id FROM georej)
       |         THEN 'geo_sampled'
       |       ELSE reason END AS reason,
       |  CAST(CASE WHEN doc_id IN (SELECT doc_id FROM reprej)
       |         OR doc_id IN (SELECT doc_id FROM nbrej)
       |         OR (reason = 'clean' AND doc_id IN (SELECT doc_id FROM georej)) THEN 0
       |       ELSE accepted END AS BIGINT) AS accepted,
       |  CASE WHEN doc_id IN (SELECT doc_id FROM reprej)
       |         OR doc_id IN (SELECT doc_id FROM nbrej)
       |         OR (reason = 'clean' AND doc_id IN (SELECT doc_id FROM georej)) THEN NULL
       |       ELSE split END AS split,
       |  CASE WHEN doc_id IN (SELECT doc_id FROM reprej)
       |         OR doc_id IN (SELECT doc_id FROM nbrej)
       |         OR (reason = 'clean' AND doc_id IN (SELECT doc_id FROM georej)) THEN NULL
       |       ELSE shard END AS shard
       |FROM base ORDER BY doc_id""".stripMargin
  }

  /** DuckDB replay: the classifier's train/score CTEs (the
    * [[qPipelineGatedSql]] formulation, trained on the standing split)
    * compute the rejected arrival set, and the UNgated cascade replay
    * runs unchanged as a nested CTE with the classifier verdict OVERRIDING
    * rejected rows — valid because every cascade verdict is per-doc
    * against the STANDING corpus (arrivals never pair with each other),
    * so a rejected doc's presence in the inner cascade cannot change any
    * other doc's verdict.
    */
  /** The classifier replay CTE chain (`nbd → ... → nbrej`) + the ungated
    * cascade as `base` — shared by the gated and full intake oracles.
    */
  private def intakeGatedCtesSql: String = {
    val pos = TextAnalysis.QualityPosSources.map("'" + _ + "'").mkString(", ")
    val base = qIntakeSql.replace("\nORDER BY a.doc_id", "")
    s"""nbd AS (
       |  SELECT doc_id, source,
       |    CASE WHEN source IN ($pos) THEN 'pos' ELSE 'neg' END AS actual,
       |    regexp_split_to_array(lower(text), '\\s+') AS t
       |  FROM documents
       |  WHERE len(regexp_split_to_array(lower(text), '\\s+')) >= 1
       |), nbtrain AS (
       |  SELECT actual, unnest(t) AS tok FROM nbd WHERE doc_id % 5 <> 0
       |), nbc AS (
       |  SELECT tok,
       |    CAST(sum(CASE WHEN actual = 'pos' THEN 1 ELSE 0 END) AS BIGINT) AS cnt_pos,
       |    CAST(sum(CASE WHEN actual = 'neg' THEN 1 ELSE 0 END) AS BIGINT) AS cnt_neg
       |  FROM nbtrain GROUP BY 1
       |), nbtot AS (
       |  SELECT CAST(sum(cnt_pos) AS BIGINT) AS tot_pos,
       |    CAST(sum(cnt_neg) AS BIGINT) AS tot_neg,
       |    CAST(count(*) AS BIGINT) AS v FROM nbc
       |), nbw AS (
       |  SELECT tok, ((cnt_pos + 1) * (tot_neg + v) * 1000000)
       |    // ((cnt_neg + 1) * (tot_pos + v)) AS w_micro
       |  FROM nbc CROSS JOIN nbtot
       |), nbrej AS MATERIALIZED (
       |  SELECT doc_id FROM (
       |    SELECT x.doc_id, CAST(count(*) AS BIGINT) AS n_toks,
       |      CAST(sum(coalesce(nbw.w_micro,
       |        ((tot_neg + v) * 1000000) // (tot_pos + v))) AS BIGINT) AS sum_w
       |    FROM (SELECT doc_id, unnest(t) AS tok FROM nbd WHERE doc_id % 5 = 0) x
       |    LEFT JOIN nbw USING (tok) CROSS JOIN nbtot GROUP BY 1)
       |  WHERE sum_w // n_toks < 1000000
       |), base AS (
       |$base
       |)""".stripMargin
  }

  val qIntakeGatedSql: String =
    s"""WITH $intakeGatedCtesSql
       |SELECT doc_id, n_tokens,
       |  CASE WHEN doc_id IN (SELECT doc_id FROM nbrej) THEN 'classifier'
       |       ELSE reason END AS reason,
       |  CAST(CASE WHEN doc_id IN (SELECT doc_id FROM nbrej) THEN 0
       |       ELSE accepted END AS BIGINT) AS accepted,
       |  CASE WHEN doc_id IN (SELECT doc_id FROM nbrej) THEN NULL
       |       ELSE split END AS split,
       |  CASE WHEN doc_id IN (SELECT doc_id FROM nbrej) THEN NULL
       |       ELSE shard END AS shard
       |FROM base ORDER BY doc_id""".stripMargin

  /** CLASSIFIER-GATED pipeline variant — the CCNet head applied as the
    * corpus FILTER it actually is in production (Wenzek et al. 2020,
    * arXiv:1911.00359 §3: the trained quality model gates the crawl; the
    * heuristic gates of [[qPipelineFull]] are the fallback). Serves the
    * STORED NB model ([[Artifacts.ensureQualityNb]] — train once per
    * corpus, every pass reads the weight table), scores EVERY document
    * with the one shared scoring formula ([[TextAnalysis.nbScore]] — the
    * same integer mean-token-lift the confusion matrix and streaming gate
    * use, so this filter cannot diverge from the audited classifier),
    * keeps the `pos` verdicts, exact-dedups the survivors (min-id per
    * md5 token fingerprint), and folds to a per-source acceptance
    * summary: kept count, post-dedup survivor count, survivor token
    * mass, and the kept-score extrema — the table a data-mixture owner
    * reads to see what the classifier admits from each source.
    *
    * Plan shape: the weight table is vocab-sized (Heaps-sublinear) →
    * broadcast into the one exploded-token scan; scoring is one
    * map-side-combinable per-doc aggregate; the gate is a filter on the
    * (doc-sized) scored relation, persisted because the survivor
    * semi-join and both per-source summaries consume it; nothing
    * corpus-sized crosses the driver. At 100 TB this is exactly one
    * corpus scan + one doc-sized shuffle (score groupBy) + one
    * fingerprint-sized shuffle (dedup), the minimum the semantics admit.
    */
  /** The unmaterialized scored relation [[qPipelineGated]] gates on —
    * split out ([[contaminationPlan]] pattern) so plan-shape specs can
    * assert the stored-model broadcast join shape before the checkpoint
    * turns the plan into an RDD scan.
    */
  private[ops] def gatedScored(spark: SparkSession, dir: String): DataFrame = {
    val (weights, totals) = TextAnalysis.nbLoad(spark, Artifacts.ensureQualityNb(spark, dir))
    val docs = table(spark, dir, "documents")
      .select(col("doc_id"), col("source"), tokens(col("text")).as("t"))
      .filter(size(col("t")) >= 1)
    TextAnalysis.nbScore(
      docs.withColumn("fp", md5(concat_ws(" ", col("t"))))
        .select(col("doc_id"), col("source"), col("fp"), explode(col("t")).as("tok")),
      Seq("doc_id", "source", "fp"), weights, totals)
  }

  def qPipelineGated(spark: SparkSession, dir: String): DataFrame = {
    val kept = gatedScored(spark, dir)
      .filter(TextAnalysis.nbVerdict(col("score_micro")) === "pos")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val surv = kept.join(
        kept.groupBy(col("fp")).agg(min(col("doc_id")).as("doc_id")),
        Seq("fp", "doc_id"), "left_semi")
      val perSrcKept = kept.groupBy(col("source")).agg(
        count(lit(1)).as("n_kept"),
        min(col("score_micro")).as("min_score_micro"),
        max(col("score_micro")).as("max_score_micro"))
      val perSrcSurv = surv.groupBy(col("source")).agg(
        count(lit(1)).as("n_surv"), sum(col("n_toks")).as("n_toks_surv"))
      // left join: a source whose kept docs all lose their fingerprint's
      // min-id race still reports its n_kept row (with zero survivors)
      perSrcKept.join(perSrcSurv, Seq("source"), "left")
        .select(col("source"), col("n_kept"),
          coalesce(col("n_surv"), lit(0L)).as("n_surv"),
          coalesce(col("n_toks_surv"), lit(0L)).as("n_toks_surv"),
          col("min_score_micro"), col("max_score_micro"))
        .orderBy(col("source"))
        .localCheckpoint()
    } finally kept.unpersist()
  }

  /** DuckDB mirror: the NB train CTEs are [[TextAnalysis.qQualityClassifierSql]]'s
    * (deterministic training ⇒ the stored model replays exactly), scoring
    * runs over ALL documents, then the same gate → dedup → per-source fold.
    */
  val qPipelineGatedSql: String = {
    val pos = TextAnalysis.QualityPosSources.map("'" + _ + "'").mkString(", ")
    s"""WITH d AS (
       |  SELECT doc_id, source,
       |    CASE WHEN source IN ($pos) THEN 'pos' ELSE 'neg' END AS actual,
       |    regexp_split_to_array(lower(text), '\\s+') AS t
       |  FROM documents
       |  WHERE len(regexp_split_to_array(lower(text), '\\s+')) >= 1
       |), traintok AS (
       |  SELECT actual, unnest(t) AS tok FROM d WHERE doc_id % 5 <> 0
       |), c AS (
       |  SELECT tok,
       |    CAST(sum(CASE WHEN actual = 'pos' THEN 1 ELSE 0 END) AS BIGINT) AS cnt_pos,
       |    CAST(sum(CASE WHEN actual = 'neg' THEN 1 ELSE 0 END) AS BIGINT) AS cnt_neg
       |  FROM traintok GROUP BY 1
       |), tot AS (
       |  SELECT CAST(sum(cnt_pos) AS BIGINT) AS tot_pos,
       |    CAST(sum(cnt_neg) AS BIGINT) AS tot_neg,
       |    CAST(count(*) AS BIGINT) AS v
       |  FROM c
       |), w AS (
       |  SELECT tok, ((cnt_pos + 1) * (tot_neg + v) * 1000000)
       |    // ((cnt_neg + 1) * (tot_pos + v)) AS w_micro
       |  FROM c CROSS JOIN tot
       |), sc AS (
       |  SELECT x.doc_id, x.source, x.fp,
       |    CAST(count(*) AS BIGINT) AS n_toks,
       |    CAST(sum(coalesce(w.w_micro,
       |      ((tot_neg + v) * 1000000) // (tot_pos + v))) AS BIGINT) AS sum_w
       |  FROM (SELECT doc_id, source, md5(array_to_string(t, ' ')) AS fp,
       |          unnest(t) AS tok FROM d) x
       |  LEFT JOIN w USING (tok) CROSS JOIN tot
       |  GROUP BY 1, 2, 3
       |), kept AS (
       |  SELECT doc_id, source, fp, n_toks, sum_w // n_toks AS score
       |  FROM sc WHERE sum_w // n_toks >= 1000000
       |), surv AS (
       |  SELECT k.* FROM kept k
       |  JOIN (SELECT fp, min(doc_id) AS doc_id FROM kept GROUP BY 1) m
       |    USING (fp, doc_id)
       |), per_kept AS (
       |  SELECT source, CAST(count(*) AS BIGINT) AS n_kept,
       |    CAST(min(score) AS BIGINT) AS min_score_micro,
       |    CAST(max(score) AS BIGINT) AS max_score_micro
       |  FROM kept GROUP BY 1
       |), per_surv AS (
       |  SELECT source, CAST(count(*) AS BIGINT) AS n_surv,
       |    CAST(sum(n_toks) AS BIGINT) AS n_toks_surv
       |  FROM surv GROUP BY 1
       |)
       |SELECT source, n_kept,
       |  CAST(coalesce(n_surv, 0) AS BIGINT) AS n_surv,
       |  CAST(coalesce(n_toks_surv, 0) AS BIGINT) AS n_toks_surv,
       |  min_score_micro, max_score_micro
       |FROM per_kept LEFT JOIN per_surv USING (source)
       |ORDER BY source""".stripMargin
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_intake" -> (qIntake _),
    "q_intake_gated" -> (qIntakeGated _),
    "q_intake_full" -> (qIntakeFull _),
    "q_pipeline_corpus" -> (qPipelineCorpus _),
    "q_pipeline_crossmodal" -> (qPipelineCrossmodal _),
    "q_pipeline_gated" -> (qPipelineGated _),
    "q_pipeline_full" -> (qPipelineFull _))

  def oracle: Map[String, String] = Map(
    "q_intake" -> qIntakeSql,
    "q_intake_gated" -> qIntakeGatedSql,
    "q_intake_full" -> qIntakeFullSql,
    "q_pipeline_corpus" -> qPipelineCorpusSql,
    "q_pipeline_crossmodal" -> qPipelineCrossmodalSql,
    "q_pipeline_gated" -> qPipelineGatedSql,
    "q_pipeline_full" -> qPipelineFullSql)
}
