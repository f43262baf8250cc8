package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import Tables._

/** ANN queries over the `embeddings` table — thin bindings of
  * [[VectorSearch]] (which accepts any DataFrame + columns).
  */
object Similarity {

  val QueryIds: Seq[Long] = Seq(0L, 100L, 200L, 300L, 400L)
  val K = 10

  private def rename(df: DataFrame): DataFrame =
    df.withColumnRenamed("qid", "q_vec_id").withColumnRenamed("id", "vec_id")

  /** Brute-force cosine top-k (exactness baseline; linear per query). */
  def qSimTopK(spark: SparkSession, dir: String): DataFrame =
    rename(VectorSearch.cosineTopK(
      table(spark, dir, "embeddings"), col("vec_id"), col("embedding"), QueryIds, K))

  val qSimTopKSql: String =
    s"""WITH n AS (
       |  SELECT vec_id, embedding,
       |    sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
       |  FROM embeddings
       |), p AS (
       |  SELECT q.vec_id AS q_vec_id, v.vec_id,
       |    round(list_sum(list_transform(list_zip(q.embedding, v.embedding),
       |        z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE))) / (q.nrm * v.nrm), 6) AS cos_sim
       |  FROM n q JOIN n v ON v.vec_id <> q.vec_id
       |  WHERE q.vec_id IN (${QueryIds.mkString(", ")})
       |), r AS (
       |  SELECT p.*, row_number() OVER (PARTITION BY q_vec_id ORDER BY cos_sim DESC, vec_id) AS rnk
       |  FROM p
       |)
       |SELECT q_vec_id, rnk, vec_id, cos_sim FROM r WHERE rnk <= $K
       |ORDER BY q_vec_id, rnk""".stripMargin

  /** Random-hyperplane LSH top-k — the scale path. Oracle-exact: planes are
    * md5-derived and projections integer-quantized (see
    * [[VectorSearch.lshTopK]]), so DuckDB recomputes the identical
    * signatures, candidate set, and re-ranked top-k.
    */
  def qSimLshTopK(spark: SparkSession, dir: String): DataFrame =
    rename(VectorSearch.lshTopK(
      table(spark, dir, "embeddings"), col("vec_id"), col("embedding"), QueryIds, K))

  /** DuckDB mirror of the full LSH pipeline: same md5-derived ±1 planes,
    * same `floor(v_d * 2^20)` quantization (every projection an exact sum of
    * integers → identical sign bits), same 8×4-bit banding (LshConfig:
    * 32 planes in 8 bands of 4), same rounded
    * cosine re-rank.
    */
  val qSimLshTopKSql: String = {
    val cfg = VectorSearch.LshConfig()
    val q = (1L << cfg.quantBits).toString
    s"""WITH planes AS (
       |  SELECT j, d,
       |    CASE WHEN CAST(concat('0x', substring(md5(concat('plane:', j, ':', d)), 1, 1)) AS INT) & 1 = 1
       |         THEN 1 ELSE -1 END AS s
       |  FROM range(${cfg.numPlanes}) pj(j) CROSS JOIN range(${cfg.dim}) pd(d)
       |), xq AS (
       |  SELECT vec_id, d,
       |    CAST(floor(CAST(embedding[CAST(d + 1 AS INT)] AS DOUBLE) * $q) AS BIGINT) AS x
       |  FROM embeddings CROSS JOIN range(${cfg.dim}) rd(d)
       |), sig AS (
       |  SELECT vec_id,
       |    sum(CASE WHEN p >= 0 THEN CAST(1 AS BIGINT) << CAST(j AS INT) ELSE CAST(0 AS BIGINT) END) AS sig
       |  FROM (SELECT x.vec_id, p.j, sum(p.s * x.x) AS p
       |        FROM xq x JOIN planes p USING (d) GROUP BY 1, 2)
       |  GROUP BY 1
       |), banded AS (
       |  SELECT vec_id, b, (sig >> CAST(b * ${cfg.bitsPerBand} AS INT)) & ${(1L << cfg.bitsPerBand) - 1} AS bv
       |  FROM sig CROSS JOIN range(${cfg.bands}) rb(b)
       |), cand AS (
       |  SELECT DISTINCT q.vec_id AS q_vec_id, c.vec_id
       |  FROM banded q JOIN banded c ON q.b = c.b AND q.bv = c.bv AND c.vec_id <> q.vec_id
       |  WHERE q.vec_id IN (${QueryIds.mkString(", ")})
       |), n AS (
       |  SELECT vec_id, embedding,
       |    sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
       |  FROM embeddings
       |), p AS (
       |  SELECT cand.q_vec_id, cand.vec_id,
       |    round(list_sum(list_transform(list_zip(q.embedding, v.embedding),
       |        z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE))) / (q.nrm * v.nrm), 6) AS cos_sim
       |  FROM cand JOIN n q ON q.vec_id = cand.q_vec_id JOIN n v ON v.vec_id = cand.vec_id
       |), r AS (
       |  SELECT p.*, row_number() OVER (PARTITION BY q_vec_id ORDER BY cos_sim DESC, vec_id) AS rnk
       |  FROM p
       |)
       |SELECT q_vec_id, rnk, vec_id, cos_sim FROM r WHERE rnk <= $K
       |ORDER BY q_vec_id, rnk""".stripMargin
  }

  /** IVF (k-means coarse quantization, nprobe=4) top-k — the second scale
    * path. Oracle-exact: the k-means runs in exact integer arithmetic (see
    * [[VectorSearch.ivfTopK]]), so DuckDB replays the identical Lloyd
    * iterations, bucket assignment, probe set, and re-ranked top-k.
    */
  def qSimIvfTopK(spark: SparkSession, dir: String): DataFrame =
    rename(VectorSearch.ivfTopKWithModel(
      table(spark, dir, "embeddings"), col("vec_id"), col("embedding"), QueryIds, K,
      Artifacts.ivfModel(spark, dir)))

  /** IVF index lifecycle dual of [[qSimPqIndexed]]: persist centroids +
    * bucket assignment, then serve from the stored index — bit-identical
    * to [[qSimIvfTopK]] and sharing its oracle.
    */
  def qSimIvfIndexed(spark: SparkSession, dir: String): DataFrame = {
    val emb = table(spark, dir, "embeddings")
    val indexDir = Artifacts.ensureIvf(spark, dir)
    rename(VectorSearch.ivfTopKFromIndex(
      emb, col("vec_id"), col("embedding"), indexDir, QueryIds, K))
  }

  /** The shared Lloyd-training CTE chain of the IVF-family oracles
    * ([[qSimIvfTopKSql]], [[qSemdedupSql]]): yields `xq` (quantized
    * components), `cent0..cent<iters>` ((sum-vector, count) centroid
    * generations — each Lloyd iteration one dist→assign→recompute CTE
    * block), `centgF` (the g/r-decomposed final centroids), `distF` and
    * the final cluster assignment `assignF (vec_id, c)`. Distances use
    * the overflow-free [[ivfDistSql]] formulation, matching Spark's
    * [[VectorSearch.partsDist]] bit-for-bit: the same exact-integer sums
    * (HUGEINT here, per-row dots there) through the same pinned IEEE op
    * sequence.
    */
  /** `materialized = true` emits every chain CTE `AS MATERIALIZED`: inside
    * a `WITH RECURSIVE` clause DuckDB inlines (not materializes) CTE
    * references, so embedding this chain in a recursive oracle
    * ([[Pipeline.qPipelineFullSql]]) without the hint expands each of the
    * chain's many self-references into the full upstream subtree —
    * measured as thousands of duplicate parquet scans ("too many open
    * files") before producing a row. Standalone oracles don't need it.
    */
  /** The g/r floor decomposition of a centroid table `(j, d, s, n)` —
    * the SQL dual of [[VectorSearch.centroidParts]]: shift by
    * `n·2^(quantBits+2)` so the numerator is non-negative (truncating and
    * flooring division agree), then `g = u div n − shift`, `r = u mod n`.
    */
  private[ops] def centgSql(src: String, quantBits: Int): String = {
    val sh = 4L << quantBits
    s"SELECT j, d, n, ((s + n * $sh) // n) - $sh AS g, (s + n * $sh) % n AS r FROM $src"
  }

  /** Overflow-free scaled distance of every `xqSrc` row to every `centSrc`
    * centroid — the SQL dual of [[VectorSearch]]'s singleDotDist, same
    * pinned IEEE op order: `(Σx² − 2.0·(Σx·s / n)) + rec` where both sums
    * are exact HUGEINT integers (per-term `x·s ≤ 2^quantBits·N·2^quantBits`,
    * BIGINT-safe far past any cell bound) and `rec = ΣS²/N²` comes
    * per-centroid from the g/r-decomposed `crecSrc` ([[centRecSql]]).
    * Replaces the `(n·x − s)²` form whose per-term product bound cells to
    * N ≈ 2^13 (the r14 sf10 abort); Spark's `Σx·s` is the long-exact
    * [[graft.functions.VecDotLong]], covered by the same N ≈ 2^28.5
    * guard `centroidParts` raises.
    */
  private[ops] def ivfDistSql(xqSrc: String, centSrc: String, crecSrc: String): String =
    s"""SELECT $xqSrc.vec_id, c.j,
       |    (CAST(sum($xqSrc.x * $xqSrc.x) AS DOUBLE)
       |      - 2.0 * (CAST(sum($xqSrc.x * c.s) AS DOUBLE) / CAST(max(c.n) AS DOUBLE)))
       |    + max(cr.rec) AS dist
       |  FROM $xqSrc JOIN $centSrc c USING (d) JOIN $crecSrc cr ON cr.j = c.j
       |  GROUP BY 1, 2""".stripMargin

  /** The per-centroid `ΣS²/N² = (Σg² + 2·(Σg·r/N)) + Σr²/N²` scalar over a
    * decomposed centroid table — the SQL dual of the Spark serving paths'
    * driver-precomputed rec term (same IEEE op sequence).
    */
  private[ops] def centRecSql(centgSrc: String): String =
    s"""SELECT j, (CAST(sum(g * g) AS DOUBLE)
       |      + 2.0 * (CAST(sum(g * r) AS DOUBLE) / CAST(max(n) AS DOUBLE)))
       |    + CAST(sum(r * r) AS DOUBLE)
       |      / (CAST(max(n) AS DOUBLE) * CAST(max(n) AS DOUBLE)) AS rec
       |  FROM $centgSrc GROUP BY 1""".stripMargin

  /** The per-(row, centroid) mean dot `Σx·S/N` over a centroid table
    * joined through an assignment `(vec_id, c)` relation — the SQL dual
    * of the Spark serving paths' `VecDotLong(x, s) / n` (exact HUGEINT
    * sum, one rounding at the cast, one division).
    */
  private[ops] def centDotSql(xqSrc: String, centSrc: String, assignSrc: String): String =
    s"""SELECT $xqSrc.vec_id, a.c,
       |    CAST(sum($xqSrc.x * c.s) AS DOUBLE) / CAST(max(c.n) AS DOUBLE) AS dt
       |  FROM $xqSrc JOIN $assignSrc a USING (vec_id)
       |  JOIN $centSrc c ON c.j = a.c AND c.d = $xqSrc.d
       |  GROUP BY 1, 2""".stripMargin

  private[ops] def ivfChainSql(cfg: VectorSearch.IvfConfig, where: String = "",
      materialized: Boolean = false): String = {
    val m = if (materialized) "MATERIALIZED " else ""
    // Centroid-scale CTEs materialize UNCONDITIONALLY (k×dim rows — free):
    // since r15's rec term, dist$i references cent$i through TWO paths
    // (directly for s/n and via centg→crec for the rec scalar), and
    // DuckDB INLINES non-materialized CTE references — two paths per
    // iteration compound to ~3^iters re-expansions of the whole upstream
    // chain (measured: the 17-oracle parity batch ran >20 min before this
    // hint vs ~8 min after). Row-scale CTEs (xq/dist/assign) stay lazy —
    // each has a single reference path.
    val cm = "MATERIALIZED "
    val q = (1L << cfg.quantBits).toString
    // numCentroids = 0 (the derived default) replays Spark's
    // max(floor(√n), 16) as a scalar subquery over the SAME corpus subset;
    // sqrt on an exact integer count is IEEE-identical in both engines
    val kExpr =
      if (cfg.numCentroids > 0) cfg.numCentroids.toString
      else "(SELECT greatest(CAST(floor(sqrt(CAST(count(*) AS DOUBLE))) AS BIGINT), 16) " +
        s"FROM embeddings $where)"
    def iteration(i: Int): String =
      s"""centg$i AS $cm(
         |  ${centgSql(s"cent$i", cfg.quantBits)}
         |), crec$i AS $cm(
         |  ${centRecSql(s"centg$i")}
         |), dist$i AS $m(
         |  ${ivfDistSql("xq", s"cent$i", s"crec$i")}
         |), assign$i AS $m(
         |  SELECT vec_id, j AS c FROM (
         |    SELECT vec_id, j, row_number() OVER (PARTITION BY vec_id ORDER BY dist, j) AS rn
         |    FROM dist$i)
         |  WHERE rn = 1
         |), cent${i + 1} AS $cm(
         |  SELECT m.j, m.d, m.s, m.n FROM (
         |    SELECT a.c AS j, xq.d, sum(xq.x) AS s, count(*) AS n
         |    FROM xq JOIN assign$i a USING (vec_id) GROUP BY 1, 2) m
         |  UNION ALL
         |  SELECT c.j, c.d, c.s, c.n FROM cent$i c
         |  WHERE c.j NOT IN (SELECT DISTINCT c FROM assign$i)
         |)""".stripMargin
    val f = cfg.iters // final centroid generation index
    s"""xq AS $m(
       |  SELECT vec_id, d,
       |    CAST(floor(CAST(embedding[CAST(d + 1 AS INT)] AS DOUBLE) * $q) AS BIGINT) AS x
       |  FROM embeddings CROSS JOIN range(${cfg.dim}) rd(d) $where
       |), cent0 AS $cm(
       |  SELECT j, d, x AS s, CAST(1 AS BIGINT) AS n FROM (
       |    SELECT vec_id, d, x, dense_rank() OVER (ORDER BY vec_id) - 1 AS j
       |    FROM xq)
       |  WHERE j < $kExpr
       |), ${(0 until cfg.iters).map(iteration).mkString(", ")},
       |centF AS $cm(
       |  SELECT j, d, s, n FROM cent$f
       |), centgF AS $cm(
       |  ${centgSql("centF", cfg.quantBits)}
       |), crecF AS $cm(
       |  ${centRecSql("centgF")}
       |), distF AS $m(
       |  ${ivfDistSql("xq", "centF", "crecF")}
       |), assignF AS $m(
       |  SELECT vec_id, j AS c FROM (
       |    SELECT vec_id, j, row_number() OVER (PARTITION BY vec_id ORDER BY dist, j) AS rn
       |    FROM distF)
       |  WHERE rn = 1
       |)""".stripMargin
  }

  /** DuckDB replay of the integer k-means IVF pipeline: the shared
    * [[ivfChainSql]] training chain, then probe + exact re-rank.
    */
  val qSimIvfTopKSql: String = {
    val cfg = VectorSearch.IvfConfig()
    s"""WITH ${ivfChainSql(cfg)}, probe AS (
       |  SELECT vec_id AS q_vec_id, j AS bucket FROM (
       |    SELECT vec_id, j, row_number() OVER (PARTITION BY vec_id ORDER BY dist, j) AS rn
       |    FROM distF WHERE vec_id IN (${QueryIds.mkString(", ")}))
       |  WHERE rn <= ${cfg.nprobe}
       |), cand AS (
       |  SELECT DISTINCT p.q_vec_id, a.vec_id
       |  FROM probe p JOIN assignF a ON a.c = p.bucket AND a.vec_id <> p.q_vec_id
       |), n AS (
       |  SELECT vec_id, embedding,
       |    sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
       |  FROM embeddings
       |), p AS (
       |  SELECT cand.q_vec_id, cand.vec_id,
       |    round(list_sum(list_transform(list_zip(q.embedding, v.embedding),
       |        z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE))) / (q.nrm * v.nrm), 6) AS cos_sim
       |  FROM cand JOIN n q ON q.vec_id = cand.q_vec_id JOIN n v ON v.vec_id = cand.vec_id
       |), r AS (
       |  SELECT p.*, row_number() OVER (PARTITION BY q_vec_id ORDER BY cos_sim DESC, vec_id) AS rnk
       |  FROM p
       |)
       |SELECT q_vec_id, rnk, vec_id, cos_sim FROM r WHERE rnk <= $K
       |ORDER BY q_vec_id, rnk""".stripMargin
  }

  /** Hard-negative mining over the embeddings table: top-k most-similar
    * DIFFERENT-label vectors per query — see [[VectorSearch.hardNegatives]].
    */
  def qHardNegatives(spark: SparkSession, dir: String): DataFrame =
    VectorSearch.hardNegatives(
      table(spark, dir, "embeddings"), col("vec_id"), col("embedding"), col("label"),
      QueryIds, K)
      .withColumnRenamed("qid", "q_vec_id").withColumnRenamed("id", "vec_id")

  val qHardNegativesSql: String =
    s"""WITH n AS (
       |  SELECT vec_id, label, embedding,
       |    sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
       |  FROM embeddings
       |), p AS (
       |  SELECT q.vec_id AS q_vec_id, v.vec_id, v.label AS neg_label,
       |    round(list_sum(list_transform(list_zip(q.embedding, v.embedding),
       |        z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE))) / (q.nrm * v.nrm), 6) AS cos_sim
       |  FROM n q JOIN n v ON v.label <> q.label
       |  WHERE q.vec_id IN (${QueryIds.mkString(", ")})
       |), r AS (
       |  SELECT p.*, row_number() OVER (PARTITION BY q_vec_id ORDER BY cos_sim DESC, vec_id) AS rnk
       |  FROM p
       |)
       |SELECT q_vec_id, CAST(rnk AS BIGINT) AS rnk, vec_id,
       |  CAST(neg_label AS BIGINT) AS neg_label, cos_sim
       |FROM r WHERE rnk <= $K
       |ORDER BY q_vec_id, rnk""".stripMargin

  /** RECIPROCAL-RANK FUSION (Cormack et al., k=60) of the IVF and LSH
    * ANN rankings — the standard ensemble move when two retrieval paths
    * have uncorrelated failure modes (IVF misses across centroid
    * boundaries, LSH misses at unlucky bandings): fused score
    * `Σ 1/(60 + rank)`, summed over the lists that returned the
    * candidate. Exactly two lists, each term one double division and
    * the sum written in fixed order, so the score is deterministic
    * cross-engine without integer trickery; absent-from-list
    * contributes 0.
    *
    * Scale (round 10): BOTH rankings serve from PERSISTED indexes — the
    * IVF centroids + bucket assignment of [[VectorSearch.writeIvfIndex]]
    * and the banded signatures of [[VectorSearch.writeLshIndex]] — so the
    * per-call cost is two stored-index probes plus the fusion join; no
    * Lloyd training, no signature recomputation (the r9 shape re-ran both
    * full pipelines per call). The registered query serves both rankings
    * from the session's shared standing indexes ([[graft.ServingIndexes]]
    * — built by whichever indexed query touches this corpus first) and
    * fuses the serving paths, bit-identical to fusing the in-session
    * searches because both FromIndex paths are bit-identical to their
    * trainers.
    */
  def qRankFusion(spark: SparkSession, dir: String): DataFrame = {
    val emb = table(spark, dir, "embeddings")
    val ivfDir = Artifacts.ensureIvf(spark, dir)
    val lshDir = Artifacts.ensureLsh(spark, dir)
    fuseRrf(
      rename(VectorSearch.ivfTopKFromIndex(
        emb, col("vec_id"), col("embedding"), ivfDir, QueryIds, K)),
      rename(VectorSearch.lshTopKFromIndex(
        emb, col("vec_id"), col("embedding"), lshDir, QueryIds, K)))
  }

  /** The RRF fusion post-processing over two (q_vec_id, rnk, vec_id)
    * rankings — queries×k rows a side, one full-outer join, one per-query
    * top-k window. Separated so specs can fuse arbitrary serving paths.
    */
  private[ops] def fuseRrf(ivfRank: DataFrame, lshRank: DataFrame): DataFrame = {
    val ivf = ivfRank.select(col("q_vec_id"), col("vec_id"), col("rnk").as("r_ivf"))
    val lsh = lshRank.select(col("q_vec_id"), col("vec_id"), col("rnk").as("r_lsh"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_vec_id")).orderBy(col("rrf_score").desc, col("vec_id"))
    ivf.join(lsh, Seq("q_vec_id", "vec_id"), "full_outer")
      .select(col("q_vec_id"), col("vec_id"),
        round(
          coalesce(lit(1000000.0) / (lit(60) + col("r_ivf")), lit(0.0)) +
            coalesce(lit(1000000.0) / (lit(60) + col("r_lsh")), lit(0.0)), 6)
          .as("rrf_score"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= K)
      .select(col("q_vec_id"), col("rnk"), col("vec_id"), col("rrf_score"))
      .orderBy(col("q_vec_id"), col("rnk"))
  }

  /** Oracle: the two verified search replays embedded verbatim (the
    * [[qAnnRecallSql]] discipline), fused with the identical fixed-order
    * arithmetic.
    */
  val qRankFusionSql: String =
    s"""WITH ivf AS (
       |  SELECT q_vec_id, vec_id, rnk AS r_ivf FROM ($qSimIvfTopKSql) x
       |), lsh AS (
       |  SELECT q_vec_id, vec_id, rnk AS r_lsh FROM ($qSimLshTopKSql) y
       |), fused AS (
       |  SELECT coalesce(ivf.q_vec_id, lsh.q_vec_id) AS q_vec_id,
       |    coalesce(ivf.vec_id, lsh.vec_id) AS vec_id,
       |    round(coalesce(CAST(1000000 AS DOUBLE) / (60 + ivf.r_ivf), 0)
       |      + coalesce(CAST(1000000 AS DOUBLE) / (60 + lsh.r_lsh), 0), 6) AS rrf_score
       |  FROM ivf FULL OUTER JOIN lsh
       |    ON ivf.q_vec_id = lsh.q_vec_id AND ivf.vec_id = lsh.vec_id
       |)
       |SELECT q_vec_id, CAST(rnk AS BIGINT) AS rnk, vec_id, rrf_score FROM (
       |  SELECT fused.*, row_number() OVER (
       |    PARTITION BY q_vec_id ORDER BY rrf_score DESC, vec_id) AS rnk
       |  FROM fused)
       |WHERE rnk <= $K
       |ORDER BY q_vec_id, rnk""".stripMargin

  /** Candidate pool / result size for [[qMmrRerank]]. */
  val MmrPool = 20
  val MmrK = 5

  /** MAXIMAL-MARGINAL-RELEVANCE re-rank (Carbonell & Goldstein 1998) at
    * λ = 1/2: from each query's exact top-[[MmrPool]] candidates, greedily
    * select [[MmrK]] results maximizing `rel(c) − max_{s∈selected}
    * sim(c, s)` — relevance traded against redundancy, the result-page
    * diversification step ANN ranking alone cannot express (a near-dup
    * cluster would fill every slot).
    *
    * The greedy loop is CONTROL-PLANE by design: candidate stats are
    * queries × pool relevances plus queries × pool² pairwise cosines —
    * bounded by configuration, not the corpus (the same contract as the
    * Lloyd centroid collects) — and every number driving a comparison is
    * the 6-rounded cosine computed with the engine-shared sequential
    * dot/norm arithmetic, so the DuckDB oracle replays the selection
    * rounds as chained CTEs bit-exactly. Scale: the corpus-sized work is
    * the candidate retrieval (exact here; PQ/IVF shortlist at 100 TB);
    * the re-rank never touches the corpus.
    */
  def qMmrRerank(spark: SparkSession, dir: String): DataFrame = {
    val emb = table(spark, dir, "embeddings")
    val top = VectorSearch.cosineTopK(
      emb, col("vec_id"), col("embedding"), QueryIds, MmrPool).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    val candIds = top.map(_._3).distinct.toSeq
    val vecs = emb.filter(col("vec_id").isin(candIds: _*))
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(_.toDouble).toArray).toMap

    def round6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }; s
    }
    def cos(a: Long, b: Long): Double = {
      val (va, vb) = (vecs(a), vecs(b))
      round6(dot(va, vb) / (math.sqrt(dot(va, va)) * math.sqrt(dot(vb, vb))))
    }

    val rows = top.groupBy(_._1).toSeq.flatMap { case (q, cands0) =>
      val cands = cands0.sortBy(_._2) // by retrieval rank
      val rel = cands.map(c => c._3 -> c._4).toMap
      var selected = Vector(cands.head._3) // rank-1 = max (rel, id)
      var out = Vector((q, 1L, cands.head._3, round6(cands.head._4)))
      for (rnk <- 2 to MmrK) {
        val pool = cands.map(_._3).filterNot(selected.contains)
        val scored = pool.map { c =>
          val maxsim = selected.map(s => cos(c, s)).max
          c -> (rel(c) - maxsim)
        }
        val (pick, score) = scored.minBy { case (id, sc) => (-sc, id) }
        selected :+= pick
        out :+= ((q, rnk.toLong, pick, round6(score)))
      }
      out
    }.sortBy(r => (r._1, r._2))
    import spark.implicits._
    rows.toDF("q_vec_id", "rnk", "vec_id", "mmr_score")
  }

  /** Oracle: the pool retrieval (the [[qSimTopKSql]] shape at pool size),
    * candidate-pair cosines, then the four selection rounds as chained
    * CTEs — identical comparisons, identical rounding.
    */
  val qMmrRerankSql: String = {
    def selAll(i: Int): String =
      (1 to i).map(j => s"SELECT q_vec_id, vec_id FROM sel$j").mkString(" UNION ALL ")
    def round(i: Int): String =
      s"""sc$i AS (
         |  SELECT c.q_vec_id, c.vec_id, c.rel - ms.maxsim AS score
         |  FROM cand c JOIN (
         |    SELECT s.q_vec_id, s.ca AS vec_id, max(s.sim) AS maxsim
         |    FROM sims s JOIN (${selAll(i - 1)}) sp
         |      ON sp.q_vec_id = s.q_vec_id AND sp.vec_id = s.cb
         |    GROUP BY 1, 2) ms ON ms.q_vec_id = c.q_vec_id AND ms.vec_id = c.vec_id
         |  WHERE NOT EXISTS (SELECT 1 FROM (${selAll(i - 1)}) sq
         |    WHERE sq.q_vec_id = c.q_vec_id AND sq.vec_id = c.vec_id)
         |), sel$i AS (
         |  SELECT q_vec_id, vec_id, score FROM (
         |    SELECT sc$i.*, row_number() OVER (
         |      PARTITION BY q_vec_id ORDER BY score DESC, vec_id) AS rn
         |    FROM sc$i) WHERE rn = 1
         |)""".stripMargin
    s"""WITH n AS (
       |  SELECT vec_id, embedding,
       |    sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
       |  FROM embeddings
       |), cand AS (
       |  SELECT q_vec_id, vec_id, cos_sim AS rel, rnk FROM (
       |    SELECT p.*, row_number() OVER (PARTITION BY q_vec_id ORDER BY cos_sim DESC, vec_id) AS rnk
       |    FROM (
       |      SELECT q.vec_id AS q_vec_id, v.vec_id,
       |        round(list_sum(list_transform(list_zip(q.embedding, v.embedding),
       |            z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE))) / (q.nrm * v.nrm), 6) AS cos_sim
       |      FROM n q JOIN n v ON v.vec_id <> q.vec_id
       |      WHERE q.vec_id IN (${QueryIds.mkString(", ")})) p)
       |  WHERE rnk <= $MmrPool
       |), sims AS (
       |  SELECT a.q_vec_id, a.vec_id AS ca, b.vec_id AS cb,
       |    round(list_sum(list_transform(list_zip(na.embedding, nb.embedding),
       |        z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE))) / (na.nrm * nb.nrm), 6) AS sim
       |  FROM cand a JOIN cand b ON a.q_vec_id = b.q_vec_id AND a.vec_id <> b.vec_id
       |  JOIN n na ON na.vec_id = a.vec_id JOIN n nb ON nb.vec_id = b.vec_id
       |), sel1 AS (
       |  SELECT q_vec_id, vec_id, rel AS score FROM cand WHERE rnk = 1
       |), ${(2 to MmrK).map(round).mkString(", ")}
       |SELECT q_vec_id, CAST(rnk AS BIGINT) AS rnk, vec_id, round(score, 6) AS mmr_score FROM (
       |  ${(1 to MmrK).map(j =>
            s"SELECT q_vec_id, vec_id, score, $j AS rnk FROM sel$j").mkString(" UNION ALL ")})
       |ORDER BY q_vec_id, rnk""".stripMargin
  }

  /** Candidate pool / result size for [[qRerankCross]]. */
  val CrossPool = 20
  val CrossK = 5

  /** CROSS-ENCODER-style re-rank (the retrieve-then-rerank serving shape):
    * stage 1 retrieves each query's exact top-[[CrossPool]] ANN candidates
    * (bi-encoder semantics — query and candidate embedded independently);
    * stage 2 scores every (query, candidate) PAIR with a JOINT function of
    * both endpoints — here the candidate's embedding cosine blended with
    * the token-set Jaccard of the two documents' texts — and keeps the
    * top-[[CrossK]] by the joint score. Joint pair-scoring is what a
    * bi-encoder cannot express and what a cross-encoder model provides.
    *
    * STUB BOUNDARY (the multimodal-decode discipline — and since round
    * 16 no longer the only scorer: [[qRerankScored]] serves a TRAINED
    * stored model over the same pair features, closing the boundary
    * end-to-end; this query keeps the transparent blend as the teacher
    * and the plumbing reference): the joint scorer here is
    * a DETERMINISTIC FAKE — the EXACT-INTEGER blend
    * `ce_score = round(cos·10⁶) + 100·jac_bp` (micro-units of cos + jac;
    * cos is already 6-rounded so ×10⁶ is within 1 ulp of an integer and
    * the int round is boundary-free — a fractional decimal blend sat on
    * .5 rounding boundaries and diverged by 1 ulp across engines) —
    * standing in for a batched model inference (at 100 TB: a
    * `mapInPandas`/ONNX scorer over the pool relation). The Spark-side
    * plumbing is the real contract and is what scales: scoring cost is
    * queries × pool rows (pair-keyed joins against doc features, a narrow
    * projection, one per-query top-k) — NEVER corpus-sized; the
    * corpus-sized work is stage 1, already served by the bounded ANN
    * paths.
    */
  def qRerankCross(spark: SparkSession, dir: String): DataFrame = {
    val emb = table(spark, dir, "embeddings")
    val pool = rename(VectorSearch.cosineTopK(
      emb, col("vec_id"), col("embedding"), QueryIds, CrossPool))
      .select(col("q_vec_id"), col("vec_id"), col("cos_sim"))
    // per-doc distinct token sets (documents ↔ embeddings share the id
    // space); sizes are what the joint score consumes, so order is free
    val toks = table(spark, dir, "documents")
      .select(col("doc_id"), array_distinct(TextOps.tokens(col("text"))).as("ts"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_vec_id")).orderBy(col("ce_score").desc, col("vec_id"))
    pool
      .join(toks.select(col("doc_id").as("q_vec_id"), col("ts").as("qts")), Seq("q_vec_id"))
      .join(toks.select(col("doc_id").as("vec_id"), col("ts").as("cts")), Seq("vec_id"))
      .withColumn("jac_bp",
        expr("CAST(size(array_intersect(qts, cts)) AS BIGINT) * 10000" +
          " DIV CAST(size(array_union(qts, cts)) AS BIGINT)"))
      .withColumn("ce_score",
        expr("CAST(round(cos_sim * 1000000) AS BIGINT) + 100 * jac_bp"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= CrossK)
      .select(col("q_vec_id"), col("rnk"), col("vec_id"), col("ce_score"))
      .orderBy(col("q_vec_id"), col("rnk"))
  }

  /** Oracle: the pool retrieval (the [[qSimTopKSql]] shape at pool size),
    * distinct-token Jaccard per pair, and the identical pinned-order
    * blend.
    */
  val qRerankCrossSql: String =
    s"""WITH n AS (
       |  SELECT vec_id, embedding,
       |    sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
       |  FROM embeddings
       |), pool AS (
       |  SELECT q_vec_id, vec_id, cos_sim FROM (
       |    SELECT p.*, row_number() OVER (PARTITION BY q_vec_id ORDER BY cos_sim DESC, vec_id) AS rnk
       |    FROM (
       |      SELECT q.vec_id AS q_vec_id, v.vec_id,
       |        round(list_sum(list_transform(list_zip(q.embedding, v.embedding),
       |            z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE))) / (q.nrm * v.nrm), 6) AS cos_sim
       |      FROM n q JOIN n v ON v.vec_id <> q.vec_id
       |      WHERE q.vec_id IN (${QueryIds.mkString(", ")})) p)
       |  WHERE rnk <= $CrossPool
       |), toks AS (
       |  SELECT doc_id, list_distinct(regexp_split_to_array(lower(text), '\\s+')) AS ts
       |  FROM documents
       |), scored AS (
       |  SELECT pool.q_vec_id, pool.vec_id,
       |    CAST(round(pool.cos_sim * 1000000) AS BIGINT)
       |      + 100 * (CAST(len(list_intersect(qt.ts, ct.ts)) AS BIGINT) * 10000
       |               // CAST(len(list_distinct(list_concat(qt.ts, ct.ts))) AS BIGINT)) AS ce_score
       |  FROM pool
       |  JOIN toks qt ON qt.doc_id = pool.q_vec_id
       |  JOIN toks ct ON ct.doc_id = pool.vec_id
       |)
       |SELECT q_vec_id, CAST(rnk AS BIGINT) AS rnk, vec_id, ce_score FROM (
       |  SELECT scored.*, row_number() OVER (
       |    PARTITION BY q_vec_id ORDER BY ce_score DESC, vec_id) AS rnk
       |  FROM scored)
       |WHERE rnk <= $CrossK
       |ORDER BY q_vec_id, rnk""".stripMargin

  /** PAIR FEATURES for the trained rerank scorer (round 16, VERDICT r15
    * item 5): each (query, candidate) pool pair's exact-integer feature
    * vector — embedding cosine in micro-units, distinct-token Jaccard
    * and length-ratio in basis points. The pool is the same bounded
    * stage-1 retrieval [[qRerankCross]] uses; the feature join is
    * pair-keyed against the per-doc token sets, never corpus-sized.
    */
  private[ops] def rerankFeatures(spark: SparkSession, dir: String): DataFrame = {
    val emb = table(spark, dir, "embeddings")
    val pool = rename(VectorSearch.cosineTopK(
      emb, col("vec_id"), col("embedding"), QueryIds, CrossPool))
      .select(col("q_vec_id"), col("vec_id"), col("cos_sim"))
    val toks = table(spark, dir, "documents")
      .select(col("doc_id"), array_distinct(TextOps.tokens(col("text"))).as("ts"))
    pool
      .join(toks.select(col("doc_id").as("q_vec_id"), col("ts").as("qts")), Seq("q_vec_id"))
      .join(toks.select(col("doc_id").as("vec_id"), col("ts").as("cts")), Seq("vec_id"))
      .select(col("q_vec_id"), col("vec_id"),
        expr("CAST(round(cos_sim * 1000000) AS BIGINT)").as("cos_micro"),
        expr("CAST(size(array_intersect(qts, cts)) AS BIGINT) * 10000" +
          " DIV CAST(size(array_union(qts, cts)) AS BIGINT)").as("jac_bp"),
        expr("CAST(least(size(qts), size(cts)) AS BIGINT) * 10000" +
          " DIV greatest(CAST(greatest(size(qts), size(cts)) AS BIGINT), 1L)").as("len_bp"))
  }

  /** TRAIN the linear rerank scorer from a pair-feature relation: the
    * teacher is [[qRerankCross]]'s blend (`cos_micro + 100·jac_bp`,
    * top-[[CrossK]] per query = positive), the model is the exact-integer
    * CLASS-CENTROID DISCRIMINANT — for each feature,
    * `w_raw = Σ_pos(x)·n_neg − Σ_neg(x)·n_pos` (the positive-vs-negative
    * centroid difference scaled by n_pos·n_neg, division-free), then
    * L1-normalized to micro-units via the SHIFTED floor division
    * `((w_raw + L1)·10^6) DIV L1 − 10^6` (numerator non-negative, so
    * Spark's truncating DIV and DuckDB's flooring `//` agree — the
    * negative-operand divergence rule in SURVEY §5). Deterministic,
    * closed-form, replayed verbatim by the oracle; a 1-row weight table.
    *
    * Envelope: the centroid products and the L1-shift numerator run in
    * DECIMAL(38,0) (the r16 discipline), so training is safe by
    * construction for any pool size; only the normalized weights
    * (|w| ≤ 10^6 by the L1 bound) return to BIGINT.
    */
  private[ops] def rerankTrain(features: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_vec_id"))
      .orderBy((col("cos_micro") + lit(100L) * col("jac_bp")).desc, col("vec_id"))
    val lab = features
      .withColumn("y", when(row_number().over(w) <= CrossK, 1L).otherwise(0L))
    def sp(c: String) = sum(when(col("y") === 1, col(c)).otherwise(0L)).as(s"sp_$c")
    def sn(c: String) = sum(when(col("y") === 0, col(c)).otherwise(0L)).as(s"sn_$c")
    lab.agg(sp("cos_micro"), sp("jac_bp"), sp("len_bp"),
        sn("cos_micro"), sn("jac_bp"), sn("len_bp"),
        sum(col("y")).as("n_pos"), sum(lit(1L) - col("y")).as("n_neg"))
      .select(
        expr("CAST(sp_cos_micro AS DECIMAL(38,0)) * n_neg" +
          " - CAST(sn_cos_micro AS DECIMAL(38,0)) * n_pos").as("r_cos"),
        expr("CAST(sp_jac_bp AS DECIMAL(38,0)) * n_neg" +
          " - CAST(sn_jac_bp AS DECIMAL(38,0)) * n_pos").as("r_jac"),
        expr("CAST(sp_len_bp AS DECIMAL(38,0)) * n_neg" +
          " - CAST(sn_len_bp AS DECIMAL(38,0)) * n_pos").as("r_len"))
      .select(col("r_cos"), col("r_jac"), col("r_len"),
        greatest(abs(col("r_cos")) + abs(col("r_jac")) + abs(col("r_len")),
          expr("CAST(1 AS DECIMAL(38,0))")).as("l1"))
      .select(
        expr("((r_cos + l1) * 1000000) DIV l1 - 1000000").as("w_cos"),
        expr("((r_jac + l1) * 1000000) DIV l1 - 1000000").as("w_jac"),
        expr("((r_len + l1) * 1000000) DIV l1 - 1000000").as("w_len"))
  }

  /** [[rerankTrain]] over the pool pair features, stored once per
    * (corpus, session) as the `rerank-scorer` artifact. Deterministic, so
    * the stored serve is bit-identical to an in-session train→apply; the
    * store is what makes [[qRerankScored]]'s serving plan training-free.
    */
  private[ops] def rerankScorer(spark: SparkSession, dir: String): DataFrame =
    Artifacts.stored(spark, "rerank-scorer", dir)(rerankTrain(rerankFeatures(spark, dir)))

  /** RERANK with the STORED trained scorer (closing the r15 stub
    * boundary): stage 1 retrieves the bounded pool, stage 2 scores every
    * pair with the 1-row weight table from
    * [[rerankScorer]] broadcast onto the pair features —
    * `lin_score = w·x` in exact integers (|w| ≤ 10^6, |x| ≤ 10^6 →
    * |score| ≤ 3·10^12, long-safe always) — and keeps the
    * top-[[CrossK]]. Serving reads the stored model and never trains
    * (plan-guarded like the NB classifier: weights scan + broadcast, no
    * teacher labeling in the plan).
    */
  def qRerankScored(spark: SparkSession, dir: String): DataFrame = {
    val weights = rerankScorer(spark, dir)
    val rankW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_vec_id")).orderBy(col("lin_score").desc, col("vec_id"))
    rerankFeatures(spark, dir)
      .crossJoin(broadcast(weights))
      .withColumn("lin_score",
        expr("w_cos * cos_micro + w_jac * jac_bp + w_len * len_bp"))
      .withColumn("rnk", row_number().over(rankW).cast("long"))
      .filter(col("rnk") <= CrossK)
      .select(col("q_vec_id"), col("rnk"), col("vec_id"), col("lin_score"))
      .orderBy(col("q_vec_id"), col("rnk"))
  }

  /** Oracle: the pool/feature CTEs of [[qRerankCrossSql]], the teacher
    * labeling, the division-free centroid discriminant with the same
    * shifted L1 normalization, and the linear scoring replayed verbatim.
    */
  val qRerankScoredSql: String =
    s"""WITH n AS (
       |  SELECT vec_id, embedding,
       |    sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
       |  FROM embeddings
       |), pool AS (
       |  SELECT q_vec_id, vec_id, cos_sim FROM (
       |    SELECT p.*, row_number() OVER (PARTITION BY q_vec_id ORDER BY cos_sim DESC, vec_id) AS rnk
       |    FROM (
       |      SELECT q.vec_id AS q_vec_id, v.vec_id,
       |        round(list_sum(list_transform(list_zip(q.embedding, v.embedding),
       |            z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE))) / (q.nrm * v.nrm), 6) AS cos_sim
       |      FROM n q JOIN n v ON v.vec_id <> q.vec_id
       |      WHERE q.vec_id IN (${QueryIds.mkString(", ")})) p)
       |  WHERE rnk <= $CrossPool
       |), toks AS (
       |  SELECT doc_id, list_distinct(regexp_split_to_array(lower(text), '\\s+')) AS ts
       |  FROM documents
       |), feat AS (
       |  SELECT pool.q_vec_id, pool.vec_id,
       |    CAST(round(pool.cos_sim * 1000000) AS BIGINT) AS cos_micro,
       |    CAST(len(list_intersect(qt.ts, ct.ts)) AS BIGINT) * 10000
       |      // CAST(len(list_distinct(list_concat(qt.ts, ct.ts))) AS BIGINT) AS jac_bp,
       |    CAST(least(len(qt.ts), len(ct.ts)) AS BIGINT) * 10000
       |      // greatest(CAST(greatest(len(qt.ts), len(ct.ts)) AS BIGINT), 1) AS len_bp
       |  FROM pool
       |  JOIN toks qt ON qt.doc_id = pool.q_vec_id
       |  JOIN toks ct ON ct.doc_id = pool.vec_id
       |), lab AS (
       |  SELECT f.*, CASE WHEN row_number() OVER (
       |      PARTITION BY q_vec_id
       |      ORDER BY cos_micro + 100 * jac_bp DESC, vec_id) <= $CrossK
       |    THEN 1 ELSE 0 END AS y
       |  FROM feat f
       |), agg AS (
       |  SELECT
       |    CAST(sum(CASE WHEN y = 1 THEN cos_micro ELSE 0 END) AS BIGINT) AS sp_cos,
       |    CAST(sum(CASE WHEN y = 1 THEN jac_bp ELSE 0 END) AS BIGINT) AS sp_jac,
       |    CAST(sum(CASE WHEN y = 1 THEN len_bp ELSE 0 END) AS BIGINT) AS sp_len,
       |    CAST(sum(CASE WHEN y = 0 THEN cos_micro ELSE 0 END) AS BIGINT) AS sn_cos,
       |    CAST(sum(CASE WHEN y = 0 THEN jac_bp ELSE 0 END) AS BIGINT) AS sn_jac,
       |    CAST(sum(CASE WHEN y = 0 THEN len_bp ELSE 0 END) AS BIGINT) AS sn_len,
       |    CAST(sum(y) AS BIGINT) AS n_pos,
       |    CAST(sum(1 - y) AS BIGINT) AS n_neg
       |  FROM lab
       |), raw AS (
       |  SELECT CAST(sp_cos AS HUGEINT) * n_neg - CAST(sn_cos AS HUGEINT) * n_pos AS r_cos,
       |    CAST(sp_jac AS HUGEINT) * n_neg - CAST(sn_jac AS HUGEINT) * n_pos AS r_jac,
       |    CAST(sp_len AS HUGEINT) * n_neg - CAST(sn_len AS HUGEINT) * n_pos AS r_len
       |  FROM agg
       |), l1t AS (
       |  SELECT r_cos, r_jac, r_len,
       |    greatest(abs(r_cos) + abs(r_jac) + abs(r_len), 1) AS l1 FROM raw
       |), w AS (
       |  SELECT CAST(((r_cos + l1) * 1000000) // l1 - 1000000 AS BIGINT) AS w_cos,
       |    CAST(((r_jac + l1) * 1000000) // l1 - 1000000 AS BIGINT) AS w_jac,
       |    CAST(((r_len + l1) * 1000000) // l1 - 1000000 AS BIGINT) AS w_len
       |  FROM l1t
       |), scored AS (
       |  SELECT f.q_vec_id, f.vec_id,
       |    w.w_cos * f.cos_micro + w.w_jac * f.jac_bp + w.w_len * f.len_bp AS lin_score
       |  FROM feat f CROSS JOIN w
       |)
       |SELECT q_vec_id, CAST(rnk AS BIGINT) AS rnk, vec_id, lin_score FROM (
       |  SELECT scored.*, row_number() OVER (
       |    PARTITION BY q_vec_id ORDER BY lin_score DESC, vec_id) AS rnk
       |  FROM scored)
       |WHERE rnk <= $CrossK
       |ORDER BY q_vec_id, rnk""".stripMargin

  /** SemDeDup cosine threshold: the corpus's qualifying near-dup pairs sit
    * at cosine 0.45–0.51 (see [[VectorSearch.cosinePairsBlocked]]), so the
    * dedup gate shares [[Dedup.CosineThreshold]]'s operating point.
    */
  val SemThreshold: Double = Dedup.CosineThreshold

  /** SemDeDup (cluster-scoped semantic near-dup pruning, Abbas et al.
    * 2023): k-means clusters from the IVF trainer, within-cluster exact
    * cosine pairs, drop the higher-centroid-similarity member of every
    * pair at cosine ≥ threshold — see [[VectorSearch.semDedup]].
    */
  def qSemdedup(spark: SparkSession, dir: String): DataFrame =
    VectorSearch.semDedup(
      table(spark, dir, "embeddings"), col("vec_id"), col("embedding"), SemThreshold,
      model = Some(Artifacts.ivfModel(spark, dir)))
      .withColumnRenamed("id", "vec_id")

  /** DuckDB replay: the shared [[ivfChainSql]] Lloyd chain gives the
    * cluster assignment; centroid similarity is the exact-integer
    * `(Σx·g + Σx·r/N) / (√Σx² · √(ΣS²/N²))` via the overflow-free g/r
    * decomposition ([[centDotSql]]/[[centRecSql]] — identical IEEE op
    * order to Spark's centSims); the within-cluster pair relation and the
    * pairwise-dominance anti-join mirror the operator's single-pass
    * survivor rule.
    */
  val qSemdedupSql: String = {
    val cfg = VectorSearch.IvfConfig()
    s"""WITH ${ivfChainSql(cfg)}, a2 AS (
       |  SELECT vec_id, CAST(sum(x * x) AS BIGINT) AS a2 FROM xq GROUP BY 1
       |), cdot AS (
       |  ${centDotSql("xq", "centF", "assignF")}
       |), centsim AS (
       |  SELECT cdot.vec_id, cdot.c AS cluster,
       |    round(cdot.dt / (sqrt(CAST(a2.a2 AS DOUBLE)) * sqrt(crecF.rec)), 6) AS cent_sim
       |  FROM cdot JOIN a2 USING (vec_id) JOIN crecF ON crecF.j = cdot.c
       |), nv AS (
       |  SELECT vec_id, embedding,
       |    sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
       |  FROM embeddings
       |), pairs AS (
       |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       |    round(list_sum(list_transform(list_zip(va.embedding, vb.embedding),
       |        z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE))) / (va.nrm * vb.nrm), 6) AS cos_sim
       |  FROM assignF a JOIN assignF b ON a.c = b.c AND a.vec_id < b.vec_id
       |  JOIN nv va ON va.vec_id = a.vec_id
       |  JOIN nv vb ON vb.vec_id = b.vec_id
       |), losers AS (
       |  SELECT DISTINCT CASE WHEN ca.cent_sim > cb.cent_sim
       |      OR (ca.cent_sim = cb.cent_sim AND p.id_a > p.id_b) THEN p.id_a ELSE p.id_b END AS vec_id
       |  FROM pairs p
       |  JOIN centsim ca ON ca.vec_id = p.id_a
       |  JOIN centsim cb ON cb.vec_id = p.id_b
       |  WHERE p.cos_sim >= $SemThreshold
       |)
       |SELECT cs.vec_id, CAST(cs.cluster AS BIGINT) AS cluster, cs.cent_sim,
       |  CASE WHEN l.vec_id IS NULL THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS keep
       |FROM centsim cs LEFT JOIN losers l ON l.vec_id = cs.vec_id
       |ORDER BY cs.vec_id""".stripMargin
  }

  /** Incremental semantic near-dup gate: vec_id % 5 == 0 is the incoming
    * batch, the rest the existing corpus (the [[Dedup.qDedupIncremental]]
    * split) — see [[VectorSearch.semDedupIncremental]].
    */
  def qSemdedupIncremental(spark: SparkSession, dir: String): DataFrame = {
    val emb = table(spark, dir, "embeddings")
    VectorSearch.semDedupIncremental(
      emb.filter(pmod(col("vec_id"), lit(5)) =!= 0),
      emb.filter(pmod(col("vec_id"), lit(5)) === 0),
      col("vec_id"), col("embedding"), SemThreshold,
      model = Some(Artifacts.ivfModelStanding(spark, dir)))
      .withColumnRenamed("id", "vec_id")
  }

  /** Persisted semantic-index lifecycle: the SAME stored artifact that
    * serves ANN queries ([[VectorSearch.writeIvfIndex]]: centroids +
    * bucket assignment) serves the incremental dedup gate — train/write
    * once, then probe the incoming batch against the stored relations
    * only. Bit-identical to [[qSemdedupIncremental]] (shared oracle).
    */
  def qSemdedupIndexed(spark: SparkSession, dir: String): DataFrame = {
    val emb = table(spark, dir, "embeddings")
    val corpus = emb.filter(pmod(col("vec_id"), lit(5)) =!= 0)
    val indexDir = Artifacts.ensureSemdedupIvf(spark, dir)
    VectorSearch.semDedupIncrementalFromIndex(
      corpus, emb.filter(pmod(col("vec_id"), lit(5)) === 0),
      col("vec_id"), col("embedding"), indexDir, SemThreshold)
      .withColumnRenamed("id", "vec_id")
  }

  /** DuckDB replay of the incremental gate: Lloyd chain on the corpus
    * split only, incoming vectors quantize and rank the trained centroids
    * to their nprobe nearest buckets, bucket collisions verify with the
    * exact rounded cosine.
    */
  val qSemdedupIncrementalSql: String = {
    val cfg = VectorSearch.IvfConfig()
    val q = (1L << cfg.quantBits).toString
    s"""WITH ${ivfChainSql(cfg, "WHERE vec_id % 5 <> 0")}, xqi AS (
       |  SELECT vec_id, d,
       |    CAST(floor(CAST(embedding[CAST(d + 1 AS INT)] AS DOUBLE) * $q) AS BIGINT) AS x
       |  FROM embeddings CROSS JOIN range(${cfg.dim}) rdi(d) WHERE vec_id % 5 = 0
       |), disti AS (
       |  ${ivfDistSql("xqi", "centF", "crecF")}
       |), probei AS (
       |  SELECT vec_id AS id_i, j AS bucket FROM (
       |    SELECT vec_id, j, row_number() OVER (PARTITION BY vec_id ORDER BY dist, j) AS rn
       |    FROM disti)
       |  WHERE rn <= ${cfg.nprobe}
       |), nv AS (
       |  SELECT vec_id, embedding,
       |    sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
       |  FROM embeddings
       |), verified AS (
       |  SELECT p.id_i, a.vec_id AS id_c,
       |    round(list_sum(list_transform(list_zip(vi.embedding, vc.embedding),
       |        z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE))) / (vi.nrm * vc.nrm), 6) AS cos_sim
       |  FROM probei p
       |  JOIN assignF a ON a.c = p.bucket
       |  JOIN nv vi ON vi.vec_id = p.id_i
       |  JOIN nv vc ON vc.vec_id = a.vec_id
       |)
       |SELECT id_i AS vec_id, min(id_c) AS dup_of, max(cos_sim) AS best_cos,
       |  CAST(count(*) AS BIGINT) AS n_dups
       |FROM verified WHERE cos_sim >= $SemThreshold
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** Product-quantization ANN: per-subspace exact-integer codebooks, the
    * corpus compressed to 4 one-byte codes, ranking via codebook lookups
    * (see [[VectorSearch.pqTopK]]). Approximate index, EXACT oracle: the
    * training loop and score arithmetic are deterministic in both engines.
    */
  val PqShortlist = 50

  def qSimPqTopK(spark: SparkSession, dir: String): DataFrame =
    rename(VectorSearch.pqTopKWithModel(
      table(spark, dir, "embeddings"), col("vec_id"), col("embedding"), QueryIds, K,
      Artifacts.pqModel(spark, dir), shortlist = PqShortlist))

  /** PQ index LIFECYCLE: train + encode once into a persisted parquet
    * index (codebooks as exact-integer sufficient statistics, codes as the
    * 64×-compressed corpus), then serve the same top-k from the stored
    * index — the build-once/serve-many shape a production ANN system runs.
    * The result is bit-identical to [[qSimPqTopK]] (and shares its
    * oracle): the index stores longs, not floats, so a reload loses
    * nothing.
    */
  def qSimPqIndexed(spark: SparkSession, dir: String): DataFrame = {
    val emb = table(spark, dir, "embeddings")
    val indexDir = Artifacts.ensurePq(spark, dir)
    rename(VectorSearch.pqTopKFromIndex(
      emb, col("vec_id"), col("embedding"), indexDir, QueryIds, K,
      shortlist = PqShortlist))
  }

  /** One subspace's full train+assign CTE chain (shared by the PQ serve
    * oracle and the recon-error oracle): xq$j (quantized subvectors),
    * the Lloyd iterations to c{j}_iters, final assignments aF$j and the
    * g/r-decomposed final codebook cgF$j, plus the serve-side contrib/rec
    * CTEs (unreferenced CTEs are inlined lazily by DuckDB, so reusing the
    * chain for assignment-only consumers costs nothing). Distances and
    * scores use the overflow-free [[ivfDistSql]]/[[centDotSql]]/
    * [[centRecSql]] formulation — same pinned IEEE op order as Spark's
    * partsDist/ADC expressions.
    */
  private def pqSubspaceChainSql(j: Int, trainWhere: String): String = {
    val cfg = VectorSearch.PqConfig()
    val q = (1L << cfg.quantBits).toString
    locally {
      val off = j * cfg.subDim
      val trainSrc = if (trainWhere.isEmpty) s"xq$j" else s"xt$j"
      val trainCte =
        if (trainWhere.isEmpty) ""
        else s"""xt$j AS (SELECT * FROM xq$j $trainWhere),
                |""".stripMargin
      def iteration(i: Int): String =
        s"""cg${j}_$i AS MATERIALIZED (
           |  ${centgSql(s"c${j}_$i", cfg.quantBits)}
           |), cr${j}_$i AS MATERIALIZED (
           |  ${centRecSql(s"cg${j}_$i")}
           |), d${j}_$i AS (
           |  ${ivfDistSql(trainSrc, s"c${j}_$i", s"cr${j}_$i")}
           |), a${j}_$i AS (
           |  SELECT vec_id, j AS c FROM (
           |    SELECT vec_id, j, row_number() OVER (PARTITION BY vec_id ORDER BY dist, j) AS rn
           |    FROM d${j}_$i)
           |  WHERE rn = 1
           |), c${j}_${i + 1} AS MATERIALIZED (
           |  SELECT m.j, m.d, m.s, m.n FROM (
           |    SELECT a.c AS j, xq.d, sum(xq.x) AS s, count(*) AS n
           |    FROM $trainSrc xq JOIN a${j}_$i a USING (vec_id) GROUP BY 1, 2) m
           |  UNION ALL
           |  SELECT c.j, c.d, c.s, c.n FROM c${j}_$i c
           |  WHERE c.j NOT IN (SELECT DISTINCT c FROM a${j}_$i)
           |)""".stripMargin
      val f = cfg.iters
      s"""xq$j AS (
         |  SELECT vec_id, d,
         |    CAST(floor(CAST(embedding[CAST(d + ${off + 1} AS INT)] AS DOUBLE) * $q) AS BIGINT) AS x
         |  FROM embeddings CROSS JOIN range(${cfg.subDim}) rd$j(d)
         |), ${trainCte}c${j}_0 AS MATERIALIZED (
         |  SELECT j, d, x AS s, CAST(1 AS BIGINT) AS n FROM (
         |    SELECT vec_id, d, x, dense_rank() OVER (ORDER BY vec_id) - 1 AS j
         |    FROM $trainSrc
         |    WHERE vec_id IN (SELECT vec_id FROM embeddings $trainWhere ORDER BY vec_id LIMIT ${cfg.codebookSize}))
         |), ${(0 until cfg.iters).map(iteration).mkString(", ")},
         |cgF$j AS MATERIALIZED (
         |  ${centgSql(s"c${j}_$f", cfg.quantBits)}
         |), recc$j AS MATERIALIZED (
         |  ${centRecSql(s"cgF$j")}
         |), dF$j AS (
         |  ${ivfDistSql(s"xq$j", s"c${j}_$f", s"recc$j")}
         |), aF$j AS (
         |  SELECT vec_id, j AS c FROM (
         |    SELECT vec_id, j, row_number() OVER (PARTITION BY vec_id ORDER BY dist, j) AS rn
         |    FROM dF$j)
         |  WHERE rn = 1
         |), contrib$j AS (
         |  SELECT qx.vec_id AS q_vec_id, a.vec_id,
         |    CAST(sum(qx.x * c.s) AS DOUBLE) / CAST(max(c.n) AS DOUBLE) AS term
         |  FROM aF$j a
         |  JOIN c${j}_$f c ON c.j = a.c
         |  JOIN xq$j qx ON qx.d = c.d
         |  WHERE qx.vec_id IN (${QueryIds.mkString(", ")}) AND a.vec_id <> qx.vec_id
         |  GROUP BY 1, 2
         |), rec$j AS (
         |  SELECT a.vec_id, rc.rec AS r
         |  FROM aF$j a JOIN recc$j rc ON rc.j = a.c
         |)""".stripMargin
    }
  }

  /** DuckDB replay of the full PQ pipeline: one k-means CTE chain per
    * subspace (same exact-integer formulation as the IVF oracle), final
    * per-subspace code assignment, then the ADC score with every division
    * and addition in the same pinned order as the Spark expression.
    * Parameterized by a TRAINING-subset filter: with `trainWhere` empty
    * this is the plain [[qSimPqTopK]] replay; with a filter, codebooks
    * train on the subset only while codes cover every vector — exactly
    * the build-then-append lifecycle of [[qSimPqRefresh]]
    * (fresh-encode-with-final-codebooks is the rule on BOTH paths).
    */
  private def pqServeSqlFor(trainWhere: String): String = {
    val cfg = VectorSearch.PqConfig()
    val q = (1L << cfg.quantBits).toString
    val m = cfg.subspaces
    val chains = (0 until m).map(j => pqSubspaceChainSql(j, trainWhere)).mkString(", ")
    val termSum = (0 until m).map(j => s"c$j.term").reduce((a, b) => s"($a + $b)")
    val recSum = (0 until m).map(j => s"r$j.r").reduce((a, b) => s"($a + $b)")
    val contribJoins = (1 until m)
      .map(j => s"JOIN contrib$j c$j USING (q_vec_id, vec_id)").mkString(" ")
    val recJoins = (0 until m).map(j => s"JOIN rec$j r$j USING (vec_id)").mkString(" ")

    s"""WITH $chains, qn AS (
       |  SELECT vec_id AS q_vec_id,
       |    CAST(sum(x * x) AS DOUBLE) AS qn2
       |  FROM (
       |    SELECT vec_id, CAST(floor(CAST(unnest(embedding) AS DOUBLE) * $q) AS BIGINT) AS x
       |    FROM embeddings WHERE vec_id IN (${QueryIds.mkString(", ")}))
       |  GROUP BY 1
       |), scored AS (
       |  SELECT c0.q_vec_id, c0.vec_id,
       |    round($termSum / (sqrt(qn.qn2) * sqrt($recSum)), 6) AS pq_score
       |  FROM contrib0 c0 $contribJoins $recJoins
       |  JOIN qn USING (q_vec_id)
       |), short AS (
       |  SELECT q_vec_id, vec_id FROM (
       |    SELECT scored.*,
       |      row_number() OVER (PARTITION BY q_vec_id ORDER BY pq_score DESC, vec_id) AS rnk
       |    FROM scored)
       |  WHERE rnk <= $PqShortlist
       |), nv AS (
       |  SELECT vec_id, embedding,
       |    sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
       |  FROM embeddings
       |), exact AS (
       |  SELECT short.q_vec_id, short.vec_id,
       |    round(list_sum(list_transform(list_zip(q.embedding, v.embedding),
       |        z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE))) / (q.nrm * v.nrm), 6) AS cos_sim
       |  FROM short JOIN nv q ON q.vec_id = short.q_vec_id JOIN nv v ON v.vec_id = short.vec_id
       |), r AS (
       |  SELECT exact.*,
       |    row_number() OVER (PARTITION BY q_vec_id ORDER BY cos_sim DESC, vec_id) AS rnk
       |  FROM exact
       |)
       |SELECT q_vec_id, rnk, vec_id, cos_sim FROM r WHERE rnk <= $K
       |ORDER BY q_vec_id, rnk""".stripMargin
  }

  val qSimPqTopKSql: String = pqServeSqlFor("")

  /** PQ dual of [[qSimIvfRefresh]]: codebooks train on the standing
    * corpus, the ingest batch is ENCODED with those frozen codebooks at
    * O(batch) cost and its codes appended, serving covers the union.
    */
  def qSimPqRefresh(spark: SparkSession, dir: String): DataFrame = {
    val emb = table(spark, dir, "embeddings")
    val indexDir = Artifacts.ensurePqRefresh(spark, dir)
    rename(VectorSearch.pqTopKFromIndex(
      emb, col("vec_id"), col("embedding"), indexDir, QueryIds, K,
      shortlist = PqShortlist))
  }

  val qSimPqRefreshSql: String = pqServeSqlFor("WHERE vec_id % 5 <> 0")

  /** ANN RECALL AUDIT — approximate-vs-exact top-k agreement per query,
    * in exact basis points: recall@k of the LSH, IVF and PQ paths against
    * the brute-force baseline, the acceptance gate a pipeline runs before
    * trusting an approximate index at scale. Runs all four searches and
    * joins their result ids; every quantity is an exact integer, and the
    * oracle embeds the three already-verified search replays verbatim as
    * subqueries so the audit can never drift from the searches it audits.
    *
    * Scale: the cost IS the three searches (each already bounded — see
    * [[VectorSearch]]); the recall join touches queries×k rows. At 100 TB
    * the audit runs on a deterministic query SAMPLE, not the full query
    * log — [[qAnnRecallSampled]] below is that mode, md5-gated with the
    * `q_sample_det` discipline so the sampled set is repartition-invariant,
    * engine-independent, and stable as the query log grows.
    */
  def qAnnRecall(spark: SparkSession, dir: String): DataFrame =
    annRecall(spark, dir, QueryIds)

  /** Sample gate of [[qAnnRecallSampled]]: keep query q iff the first 8
    * hex chars of `md5("annq:" + q)`, read as an integer, are ≡ 0 mod
    * [[AnnSampleMod]] — a pure row function any engine replays (the
    * [[VectorSearch.planeSign]] / `q_sample_det` discipline). At the
    * registered ids this keeps {200, 400}.
    */
  val AnnSampleMod = 2

  private[ops] def annSampleKeep(q: Long): Boolean = {
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(s"annq:$q".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val hex = digest.take(4).map(b => f"${b & 0xff}%02x").mkString
    java.lang.Long.parseLong(hex, 16) % AnnSampleMod == 0
  }

  /** The affordable-at-100× recall audit: identical shape to
    * [[qAnnRecall]], run only for the md5-sampled query subset — the
    * searches retrieve only sampled queries, so the audit cost scales with
    * the SAMPLE, not the query log. Per-query independence (training is
    * query-free, candidates and windows are per-qid) makes each sampled
    * row bit-equal to the corresponding full-audit row — pinned by spec
    * and by the oracle, which filters the full replay with the same md5
    * gate.
    */
  def qAnnRecallSampled(spark: SparkSession, dir: String): DataFrame =
    annRecall(spark, dir, QueryIds.filter(annSampleKeep))

  /** In-session trainings come from the [[Artifacts]] session-model memo
    * (VERDICT r12 item 2): training is query-free, so the full and
    * sampled audits serve from ONE trained IVF model + ONE set of PQ
    * codebooks per session instead of retraining per call — the audit
    * keeps its train-then-serve-in-session semantics (nothing read back
    * from artifact bytes) while a later variant's marginal cost is
    * serving only. LSH has no trained state (md5-derived planes).
    */
  private[ops] def annRecall(spark: SparkSession, dir: String, qids: Seq[Long]): DataFrame = {
    val emb = table(spark, dir, "embeddings")
    annRecallOver(exactBaseline(spark, dir, qids),
      rename(VectorSearch.ivfTopKWithModel(emb, col("vec_id"), col("embedding"), qids, K,
        Artifacts.ivfModel(spark, dir))),
      rename(VectorSearch.lshTopK(emb, col("vec_id"), col("embedding"), qids, K)),
      rename(VectorSearch.pqTopKWithModel(emb, col("vec_id"), col("embedding"), qids, K,
        Artifacts.pqModel(spark, dir), shortlist = PqShortlist)))
  }

  /** The exact brute-force cosine top-k baseline for `qids`
    * (`q_vec_id, rnk, vec_id, cos_sim`), stored once per (qids, dir) per
    * session so the audits in the family share one corpus scan. The key
    * carries the full digest of the qid set, which tells the full and
    * sampled baselines apart. Stored rather than localCheckpointed
    * because [[graft.Caches.releaseAll]] between queries drops
    * checkpoint blocks.
    */
  private def exactBaseline(spark: SparkSession, dir: String, qids: Seq[Long]): DataFrame =
    Artifacts.stored(spark, s"exact-topk-k$K-q${graft.ServingIndexes.digest(qids.mkString("_"))}", dir) {
      VectorSearch.cosineTopK(table(spark, dir, "embeddings"), col("vec_id"), col("embedding"), qids, K)
        .withColumnRenamed("qid", "q_vec_id").withColumnRenamed("id", "vec_id")
    }.select(col("q_vec_id"), col("vec_id"))

  /** The recall computation over ANY three (q_vec_id, vec_id) rankings —
    * shared by the in-session audit and the stored-index audit. `exact`
    * is the stored baseline relation: reading it per branch re-scans
    * queries×k parquet rows, not the corpus.
    */
  private def annRecallOver(exact: DataFrame,
      ivf: DataFrame, lsh: DataFrame, pq: DataFrame): DataFrame = {
    def recallOf(m: String, approx: DataFrame): DataFrame = {
      val hits = exact
        .join(approx.select(col("q_vec_id"), col("vec_id")), Seq("q_vec_id", "vec_id"))
        .groupBy(col("q_vec_id")).agg(count(lit(1)).as("hits"))
      exact.select(col("q_vec_id")).distinct()
        .join(hits, Seq("q_vec_id"), "left")
        .select(lit(m).as("method"), col("q_vec_id"),
          coalesce(col("hits"), lit(0L)).as("hits"))
        .withColumn("recall_bp", expr(s"hits * 10000 DIV $K"))
    }
    recallOf("ivf", ivf)
      .union(recallOf("lsh", lsh))
      .union(recallOf("pq", pq))
      .orderBy(col("method"), col("q_vec_id"))
  }

  /** The DEPLOYMENT-gate audit: recall measured against the STORED
    * serving artifacts — the three indexes are built/persisted once and
    * every approximate ranking is served from them
    * (`ivfTopKFromIndex` / `lshTopKFromIndex` / `pqTopKFromIndex`), so
    * the audit certifies exactly the bytes a serving system would deploy,
    * and its per-run cost beyond the one build is serving + the exact
    * baseline (at 100× the baseline runs on the [[qAnnRecallSampled]]
    * sample). Bit-identical to [[qAnnRecall]] — every FromIndex path is
    * bit-identical to its trainer — so it shares the oracle.
    */
  def qAnnRecallIndexed(spark: SparkSession, dir: String): DataFrame = {
    val emb = table(spark, dir, "embeddings")
    val ivfDir = Artifacts.ensureIvf(spark, dir)
    val lshDir = Artifacts.ensureLsh(spark, dir)
    val pqDir = Artifacts.ensurePq(spark, dir)
    annRecallOver(exactBaseline(spark, dir, QueryIds),
      rename(VectorSearch.ivfTopKFromIndex(
        emb, col("vec_id"), col("embedding"), ivfDir, QueryIds, K)),
      rename(VectorSearch.lshTopKFromIndex(
        emb, col("vec_id"), col("embedding"), lshDir, QueryIds, K)),
      rename(VectorSearch.pqTopKFromIndex(
        emb, col("vec_id"), col("embedding"), pqDir, QueryIds, K,
        shortlist = PqShortlist)))
  }

  val qAnnRecallSql: String = {
    def branch(name: String, sql: String): String =
      s"""SELECT '$name' AS method, e.q_vec_id,
         |  CAST(coalesce(h.hits, 0) AS BIGINT) AS hits,
         |  CAST(coalesce(h.hits, 0) * 10000 // $K AS BIGINT) AS recall_bp
         |FROM (SELECT DISTINCT q_vec_id FROM exact) e
         |LEFT JOIN (
         |  SELECT a.q_vec_id, count(*) AS hits
         |  FROM ($sql) a
         |  JOIN exact ON exact.q_vec_id = a.q_vec_id AND exact.vec_id = a.vec_id
         |  GROUP BY 1) h ON h.q_vec_id = e.q_vec_id""".stripMargin
    s"""WITH exact AS (
       |  SELECT q_vec_id, vec_id FROM ($qSimTopKSql) x
       |)
       |${branch("ivf", qSimIvfTopKSql)}
       |UNION ALL
       |${branch("lsh", qSimLshTopKSql)}
       |UNION ALL
       |${branch("pq", qSimPqTopKSql)}
       |ORDER BY method, q_vec_id""".stripMargin
  }

  /** Oracle: the FULL audit replay filtered by the identical md5 gate —
    * per-query independence makes filtering the full audit equal to
    * auditing the sampled queries.
    */
  val qAnnRecallSampledSql: String =
    s"""SELECT * FROM ($qAnnRecallSql) t
       |WHERE CAST(concat('0x', substring(md5(concat('annq:', t.q_vec_id)), 1, 8)) AS BIGINT)
       |      % $AnnSampleMod = 0
       |ORDER BY method, q_vec_id""".stripMargin

  /** IVF INDEX REFRESH lifecycle: build the index on the standing corpus
    * (vec_id ≢ 0 mod 5), APPEND the new ingest batch (≡ 0 mod 5) via
    * [[VectorSearch.refreshIvfIndex]] — frozen centroids, O(batch) cost —
    * then serve top-k over the full table from the refreshed index. The
    * missing quarter of the index lifecycle (build / serve / audit /
    * REFRESH), matching what BM25 already has
    * ([[TextAnalysis]].refreshSearchIndex). The oracle replays the chain:
    * Lloyd on the corpus subset only, the batch assigned to those frozen
    * centroids, serving over the union — so the hash proves the refresh
    * appended exactly the assignments a frozen-centroid retrain would
    * have produced.
    */
  def qSimIvfRefresh(spark: SparkSession, dir: String): DataFrame = {
    val emb = table(spark, dir, "embeddings")
    val indexDir = Artifacts.ensureIvfRefresh(spark, dir)
    rename(VectorSearch.ivfTopKFromIndex(
      emb, col("vec_id"), col("embedding"), indexDir, QueryIds, K))
  }

  /** LSH dual of [[qSimIvfRefresh]]: corpus build + ingest-batch append,
    * serve over the union from the stored signatures. LSH carries no
    * trained state, so the refreshed index is bit-identical to a one-shot
    * build and the query SHARES [[qSimLshTopKSql]] — the hash gate proves
    * the append really reconstructed the full signature table.
    */
  def qSimLshRefresh(spark: SparkSession, dir: String): DataFrame = {
    val emb = table(spark, dir, "embeddings")
    val indexDir = Artifacts.ensureLshRefresh(spark, dir)
    rename(VectorSearch.lshTopKFromIndex(
      emb, col("vec_id"), col("embedding"), indexDir, QueryIds, K))
  }

  val qSimIvfRefreshSql: String = {
    val cfg = VectorSearch.IvfConfig()
    val q = (1L << cfg.quantBits).toString
    s"""WITH ${ivfChainSql(cfg, "WHERE vec_id % 5 <> 0")}, xqi AS (
       |  SELECT vec_id, d,
       |    CAST(floor(CAST(embedding[CAST(d + 1 AS INT)] AS DOUBLE) * $q) AS BIGINT) AS x
       |  FROM embeddings CROSS JOIN range(${cfg.dim}) rdi(d) WHERE vec_id % 5 = 0
       |), disti AS (
       |  ${ivfDistSql("xqi", "centF", "crecF")}
       |), assigni AS (
       |  SELECT vec_id, j AS c FROM (
       |    SELECT vec_id, j, row_number() OVER (PARTITION BY vec_id ORDER BY dist, j) AS rn
       |    FROM disti)
       |  WHERE rn = 1
       |), allassign AS (
       |  SELECT * FROM assignF UNION ALL SELECT * FROM assigni
       |), alldist AS (
       |  SELECT * FROM distF UNION ALL SELECT * FROM disti
       |), probe AS (
       |  SELECT vec_id AS q_vec_id, j AS bucket FROM (
       |    SELECT vec_id, j, row_number() OVER (PARTITION BY vec_id ORDER BY dist, j) AS rn
       |    FROM alldist WHERE vec_id IN (${QueryIds.mkString(", ")}))
       |  WHERE rn <= ${cfg.nprobe}
       |), cand AS (
       |  SELECT DISTINCT p.q_vec_id, a.vec_id
       |  FROM probe p JOIN allassign a ON a.c = p.bucket AND a.vec_id <> p.q_vec_id
       |), nv AS (
       |  SELECT vec_id, embedding,
       |    sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
       |  FROM embeddings
       |), pp AS (
       |  SELECT cand.q_vec_id, cand.vec_id,
       |    round(list_sum(list_transform(list_zip(qv.embedding, v.embedding),
       |        z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE))) / (qv.nrm * v.nrm), 6) AS cos_sim
       |  FROM cand JOIN nv qv ON qv.vec_id = cand.q_vec_id JOIN nv v ON v.vec_id = cand.vec_id
       |), rr AS (
       |  SELECT pp.*, row_number() OVER (PARTITION BY q_vec_id ORDER BY cos_sim DESC, vec_id) AS rnk
       |  FROM pp
       |)
       |SELECT q_vec_id, rnk, vec_id, cos_sim FROM rr WHERE rnk <= $K
       |ORDER BY q_vec_id, rnk""".stripMargin
  }

  /** REFRESH-RECALL AUDIT — the retrain trigger for the append-only index
    * lifecycle: recall@k of the REFRESHED IVF index (corpus-trained
    * centroids, ingest batch assigned frozen — [[qSimIvfRefresh]]'s
    * artifact, shared via [[graft.ServingIndexes]]) against the exact
    * top-k. [[VectorSearch.refreshIvfIndex]]'s scaladoc names the
    * freshness/quality trade; this query MEASURES it — when the number
    * drifts below the serving bar, schedule the retrain (the vector dual
    * of the layout pack's drift-triggered re-cluster). Same exact-bp
    * audit discipline as [[qAnnRecall]].
    */
  def qRefreshRecall(spark: SparkSession, dir: String): DataFrame = {
    val emb = table(spark, dir, "embeddings")
    val indexDir = Artifacts.ensureIvfRefresh(spark, dir)
    val exact = exactBaseline(spark, dir, QueryIds)
    val served = rename(VectorSearch.ivfTopKFromIndex(
      emb, col("vec_id"), col("embedding"), indexDir, QueryIds, K))
      .select(col("q_vec_id"), col("vec_id"))
    recallBpOver(exact, served)
      .select(col("q_vec_id"), col("hits"), col("recall_bp"))
      .orderBy(col("q_vec_id"))
  }

  /** Per-query recall@k of `served` against `exact` (both (q_vec_id,
    * vec_id) relations, queries×k rows): hit count + exact basis points.
    * Shared by [[qRefreshRecall]], [[qRecallRetrain]] and the streaming
    * retrain gate.
    */
  private[graft] def recallBpOver(exact: DataFrame, served: DataFrame): DataFrame = {
    val hits = exact.join(served, Seq("q_vec_id", "vec_id"))
      .groupBy(col("q_vec_id")).agg(count(lit(1)).as("hits"))
    exact.select(col("q_vec_id")).distinct()
      .join(hits, Seq("q_vec_id"), "left")
      .select(col("q_vec_id"), coalesce(col("hits"), lit(0L)).as("hits"))
      .withColumn("recall_bp", expr(s"hits * 10000 DIV $K"))
  }

  /** Oracle: the verified refresh-serving replay joined against the exact
    * replay — the [[qAnnRecallSql]] branch shape.
    */
  val qRefreshRecallSql: String =
    s"""WITH exact AS (
       |  SELECT q_vec_id, vec_id FROM ($qSimTopKSql) x
       |), approx AS (
       |  SELECT q_vec_id, vec_id FROM ($qSimIvfRefreshSql) y
       |)
       |SELECT e.q_vec_id,
       |  CAST(coalesce(h.hits, 0) AS BIGINT) AS hits,
       |  CAST(coalesce(h.hits, 0) * 10000 // $K AS BIGINT) AS recall_bp
       |FROM (SELECT DISTINCT q_vec_id FROM exact) e
       |LEFT JOIN (
       |  SELECT a.q_vec_id, count(*) AS hits
       |  FROM approx a JOIN exact ON exact.q_vec_id = a.q_vec_id AND exact.vec_id = a.vec_id
       |  GROUP BY 1) h ON h.q_vec_id = e.q_vec_id
       |ORDER BY e.q_vec_id""".stripMargin

  /** Retrain bar for [[qRecallRetrain]], in basis points: a refreshed
    * index whose mean recall@k falls below this serves degraded results
    * and must be retrained from scratch.
    */
  val RetrainBarBp = 7000L

  /** RECALL-TRIGGERED RETRAIN — the maintenance composite that CLOSES the
    * index lifecycle loop (VERDICT r11 item 6): build → serve → append-only
    * refresh → recall audit → and now the audit's verdict ACTING. The
    * append-only refresh ([[qSimIvfRefresh]]) froze the corpus-trained
    * centroids, so its recall decays as the ingested batch drifts from the
    * training distribution; [[qRefreshRecall]] measures that decay; this
    * query wires the measurement to the repair: when the refreshed index's
    * mean recall@k drops below [[RetrainBarBp]], serving switches to the
    * FULLY RETRAINED index (trained over corpus ∪ batch — the
    * session-shared `ivf-index` artifact, [[Artifacts.ensureIvf]]), else it
    * keeps serving the refreshed artifact. The vector dual of
    * [[Layout.qReclusterPlan]]'s drift→restore loop, and exactly the
    * freshness/quality policy a production ANN fleet runs between
    * scheduled retrains.
    *
    * The decision stays IN-PLAN (a 1-row mean-recall scalar broadcast onto
    * both serving branches, each filtered by the verdict — no driver
    * collect); the serving paths are stored-index reads that never train
    * (plan-guarded like every FromIndex path). Both artifacts come from
    * the train-once session registry, so the "rebuild" costs nothing extra
    * across the suite; the CONDITIONAL rebuild-only-when-fired shape is
    * the streaming dual's job ([[graft.streaming.RetrainStream]]), where
    * the gate retrains imperatively per firing commit.
    */
  def qRecallRetrain(spark: SparkSession, dir: String): DataFrame = {
    val emb = table(spark, dir, "embeddings")
    val refreshDir = Artifacts.ensureIvfRefresh(spark, dir)
    val retrainedDir = Artifacts.ensureIvf(spark, dir)
    val exact = exactBaseline(spark, dir, QueryIds)
    val audited = rename(VectorSearch.ivfTopKFromIndex(
      emb, col("vec_id"), col("embedding"), refreshDir, QueryIds, K))
      .select(col("q_vec_id"), col("vec_id"))
    val dec = recallBpOver(exact, audited)
      .agg(expr("sum(recall_bp) DIV count(*)").as("mean_recall_bp"))
      .withColumn("retrained",
        when(col("mean_recall_bp") < RetrainBarBp, 1L).otherwise(0L))
    val srvRetrained = rename(VectorSearch.ivfTopKFromIndex(
      emb, col("vec_id"), col("embedding"), retrainedDir, QueryIds, K))
    val srvRefreshed = rename(VectorSearch.ivfTopKFromIndex(
      emb, col("vec_id"), col("embedding"), refreshDir, QueryIds, K))
    srvRetrained.crossJoin(broadcast(dec)).filter(col("retrained") === 1)
      .unionByName(
        srvRefreshed.crossJoin(broadcast(dec)).filter(col("retrained") === 0))
      .select(col("q_vec_id"), col("rnk"), col("vec_id"), col("cos_sim"),
        col("mean_recall_bp"), col("retrained"))
      .orderBy(col("q_vec_id"), col("rnk"))
  }

  /** Oracle: the recall replay collapses to the 1-row mean, the verdict
    * picks between the full-corpus-trained serving replay and the
    * refreshed-index serving replay — the same scalar-gated UNION shape
    * as [[Layout.qReclusterPlanSql]].
    */
  val qRecallRetrainSql: String =
    s"""WITH rec AS (
       |  SELECT recall_bp FROM ($qRefreshRecallSql) r
       |), dec AS (
       |  SELECT CAST(sum(recall_bp) // count(*) AS BIGINT) AS mean_recall_bp,
       |    CASE WHEN sum(recall_bp) // count(*) < $RetrainBarBp THEN 1 ELSE 0 END AS fire
       |  FROM rec
       |), pick AS (
       |  SELECT * FROM ($qSimIvfTopKSql) a WHERE (SELECT fire FROM dec) = 1
       |  UNION ALL
       |  SELECT * FROM ($qSimIvfRefreshSql) b WHERE (SELECT fire FROM dec) = 0
       |)
       |SELECT p.q_vec_id, p.rnk, p.vec_id, p.cos_sim,
       |  d.mean_recall_bp, CAST(d.fire AS BIGINT) AS retrained
       |FROM pick p CROSS JOIN dec d
       |ORDER BY p.q_vec_id, p.rnk""".stripMargin

  /** Truncation width for [[qMatryoshkaRecall]]. */
  val MatDims = 16

  /** MATRYOSHKA TRUNCATION AUDIT: top-k agreement between search over the
    * FULL embedding and search over its first [[MatDims]] components —
    * the acceptance gate for serving truncated (matryoshka/MRL-style)
    * representations: if recall@k at 16 of 64 dims holds, the vector
    * store shrinks 4× and every distance costs a quarter. Same audit
    * discipline as [[qAnnRecall]] (exact basis points, oracle replays
    * both searches); the truncated search is the SAME brute-force
    * operator handed `slice(embedding, 1, 16)` — truncation is a column
    * expression, not a new engine path.
    *
    * Scale: two query-bounded exact searches (at 100 TB, hand the sliced
    * column to the IVF/PQ paths instead — the operator composes with any
    * of them); the recall join is queries×k rows.
    */
  def qMatryoshkaRecall(spark: SparkSession, dir: String): DataFrame = {
    val emb = table(spark, dir, "embeddings")
    // localCheckpoint: both recall branches reference the full ranking
    val full = rename(VectorSearch.cosineTopK(
      emb, col("vec_id"), col("embedding"), QueryIds, K))
      .select(col("q_vec_id"), col("vec_id")).localCheckpoint()
    val trunc = rename(VectorSearch.cosineTopK(
      emb, col("vec_id"), slice(col("embedding"), 1, MatDims), QueryIds, K))
      .select(col("q_vec_id"), col("vec_id"))
    val hits = full.join(trunc, Seq("q_vec_id", "vec_id"))
      .groupBy(col("q_vec_id")).agg(count(lit(1)).as("hits"))
    full.select(col("q_vec_id")).distinct()
      .join(hits, Seq("q_vec_id"), "left")
      .select(col("q_vec_id"), coalesce(col("hits"), lit(0L)).as("hits"))
      .withColumn("recall_bp", expr(s"hits * 10000 DIV $K"))
      .orderBy(col("q_vec_id"))
  }

  /** Oracle: the full-vector replay is [[qSimTopKSql]] verbatim; the
    * truncated replay is the same chain over `embedding[1:16]`.
    */
  val qMatryoshkaRecallSql: String =
    s"""WITH tn AS (
       |  SELECT vec_id, embedding[1:$MatDims] AS e,
       |    sqrt(list_sum(list_transform(embedding[1:$MatDims],
       |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
       |  FROM embeddings
       |), tp AS (
       |  SELECT q.vec_id AS q_vec_id, v.vec_id,
       |    round(list_sum(list_transform(list_zip(q.e, v.e),
       |        z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE))) / (q.nrm * v.nrm), 6) AS cos_sim
       |  FROM tn q JOIN tn v ON v.vec_id <> q.vec_id
       |  WHERE q.vec_id IN (${QueryIds.mkString(", ")})
       |), tr AS (
       |  SELECT tp.*, row_number() OVER (PARTITION BY q_vec_id ORDER BY cos_sim DESC, vec_id) AS rnk
       |  FROM tp
       |), trunc AS (
       |  SELECT q_vec_id, vec_id FROM tr WHERE rnk <= $K
       |), full_ AS (
       |  SELECT q_vec_id, vec_id FROM ($qSimTopKSql) f
       |)
       |SELECT e.q_vec_id,
       |  CAST(coalesce(h.hits, 0) AS BIGINT) AS hits,
       |  CAST(coalesce(h.hits, 0) * 10000 // $K AS BIGINT) AS recall_bp
       |FROM (SELECT DISTINCT q_vec_id FROM full_) e
       |LEFT JOIN (
       |  SELECT f.q_vec_id, count(*) AS hits
       |  FROM full_ f JOIN trunc t ON t.q_vec_id = f.q_vec_id AND t.vec_id = f.vec_id
       |  GROUP BY 1) h ON h.q_vec_id = e.q_vec_id
       |ORDER BY e.q_vec_id""".stripMargin

  /** PQ reconstruction-error audit over the session-trained codebooks
    * ([[Artifacts.pqModel]] — the same memoized training the recall
    * audits serve from, so the audit measures the codebooks actually in
    * use). See [[VectorSearch.pqReconError]] for the exact-integer
    * error definition and the 100 TB shape.
    */
  def qPqReconError(spark: SparkSession, dir: String): DataFrame =
    VectorSearch.pqReconError(
      table(spark, dir, "embeddings"), col("vec_id"), col("embedding"),
      Artifacts.pqModel(spark, dir))

  /** DuckDB replay: the shared per-subspace train+assign chains, then per
    * assigned (vec, cell) the same exact integer error pieces `Σ(x−g)²` /
    * `Σ(x−g)·r` / `Σr²` summed per cell (HUGEINT-exact, surfaced as
    * DOUBLE via the same single round-to-nearest cast Spark applies to
    * its DECIMAL(38,0) sums).
    */
  val qPqReconErrorSql: String = {
    val cfg = VectorSearch.PqConfig()
    val m = cfg.subspaces
    val chains = (0 until m).map(j => pqSubspaceChainSql(j, "")).mkString(", ")
    val errs = (0 until m).map { j =>
      s"""err$j AS (
         |  SELECT $j AS subspace, a.c AS cell, a.vec_id,
         |    CAST(sum((xq.x - cg.g) * (xq.x - cg.g)) AS BIGINT) AS err_a,
         |    CAST(sum((xq.x - cg.g) * cg.r) AS BIGINT) AS err_b,
         |    CAST(sum(cg.r * cg.r) AS BIGINT) AS cell_r2,
         |    CAST(max(cg.n) AS BIGINT) AS cell_n
         |  FROM aF$j a JOIN cgF$j cg ON cg.j = a.c
         |  JOIN xq$j xq ON xq.vec_id = a.vec_id AND xq.d = cg.d
         |  GROUP BY 1, 2, 3
         |)""".stripMargin
    }.mkString(", ")
    s"""WITH $chains, $errs,
       |allr AS (${(0 until m).map(j => s"SELECT * FROM err$j").mkString(" UNION ALL ")})
       |SELECT CAST(subspace AS BIGINT) AS subspace, CAST(cell AS BIGINT) AS cell,
       |  CAST(count(*) AS BIGINT) AS n_vecs,
       |  CAST(sum(err_a) AS DOUBLE) AS err_a_sum,
       |  CAST(sum(err_b) AS DOUBLE) AS err_b_sum,
       |  CAST(max(cell_r2) AS BIGINT) AS cell_r2,
       |  CAST(max(cell_n) AS BIGINT) AS cell_n
       |FROM allr GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_matryoshka_recall" -> (qMatryoshkaRecall _),
    "q_sim_ivf_refresh" -> (qSimIvfRefresh _),
    "q_sim_lsh_refresh" -> (qSimLshRefresh _),
    "q_sim_pq_refresh" -> (qSimPqRefresh _),
    "q_refresh_recall" -> (qRefreshRecall _),
    "q_recall_retrain" -> (qRecallRetrain _),
    "q_ann_recall" -> (qAnnRecall _),
    "q_ann_recall_sampled" -> (qAnnRecallSampled _),
    "q_ann_recall_indexed" -> (qAnnRecallIndexed _),
    "q_sim_topk" -> (qSimTopK _),
    "q_sim_lsh_topk" -> (qSimLshTopK _),
    "q_sim_ivf_topk" -> (qSimIvfTopK _),
    "q_sim_pq_topk" -> (qSimPqTopK _),
    "q_sim_pq_indexed" -> (qSimPqIndexed _),
    "q_pq_recon_error" -> (qPqReconError _),
    "q_sim_ivf_indexed" -> (qSimIvfIndexed _),
    "q_semdedup" -> (qSemdedup _),
    "q_semdedup_incremental" -> (qSemdedupIncremental _),
    "q_semdedup_indexed" -> (qSemdedupIndexed _),
    "q_hard_negatives" -> (qHardNegatives _),
    "q_rank_fusion" -> (qRankFusion _),
    "q_mmr_rerank" -> (qMmrRerank _),
    "q_rerank_cross" -> (qRerankCross _),
    "q_rerank_scored" -> (qRerankScored _),
  )

  def oracle: Map[String, String] = Map(
    "q_matryoshka_recall" -> qMatryoshkaRecallSql,
    "q_sim_ivf_refresh" -> qSimIvfRefreshSql,
    // refresh-built LSH index is bit-identical to the one-shot build
    // (training-free signatures), so it shares the plain search's oracle
    "q_sim_lsh_refresh" -> qSimLshTopKSql,
    "q_sim_pq_refresh" -> qSimPqRefreshSql,
    "q_refresh_recall" -> qRefreshRecallSql,
    "q_recall_retrain" -> qRecallRetrainSql,
    "q_ann_recall" -> qAnnRecallSql,
    "q_ann_recall_sampled" -> qAnnRecallSampledSql,
    // the indexed audit is bit-identical to the in-session audit — every
    // stored-index serving path is bit-identical to its trainer
    "q_ann_recall_indexed" -> qAnnRecallSql,
    "q_sim_topk" -> qSimTopKSql,
    "q_sim_lsh_topk" -> qSimLshTopKSql,
    "q_sim_ivf_topk" -> qSimIvfTopKSql,
    "q_sim_pq_topk" -> qSimPqTopKSql,
    // the indexed path is bit-identical to the in-session PQ pipeline —
    // the persisted index stores the same exact-integer statistics
    "q_sim_pq_indexed" -> qSimPqTopKSql,
    "q_pq_recon_error" -> qPqReconErrorSql,
    "q_sim_ivf_indexed" -> qSimIvfTopKSql,
    "q_semdedup" -> qSemdedupSql,
    "q_semdedup_incremental" -> qSemdedupIncrementalSql,
    // the indexed path is bit-identical to the in-session gate — the
    // stored IVF index holds the same exact-integer statistics
    "q_semdedup_indexed" -> qSemdedupIncrementalSql,
    "q_hard_negatives" -> qHardNegativesSql,
    "q_rank_fusion" -> qRankFusionSql,
    "q_mmr_rerank" -> qMmrRerankSql,
    "q_rerank_cross" -> qRerankCrossSql,
    "q_rerank_scored" -> qRerankScoredSql,
  )
}
