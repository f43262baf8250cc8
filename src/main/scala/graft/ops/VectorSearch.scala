package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import TextOps.{dot, norm}

/** Reusable vector-similarity operators over any DataFrame with an id +
  * `array<float|double>` embedding column ([[Similarity]] / [[Dedup]]
  * queries are thin bindings over the `embeddings` table).
  */
object VectorSearch {

  /** id/embedding/nrm normalized view. */
  private def withNorm(df: DataFrame, id: Column, vec: Column): DataFrame =
    df.select(id.as("id"), vec.as("v"), norm(vec).as("nrm"))

  /** Spread a narrow corpus across the session's cores. A few-MB parquet
    * file scans as ONE input split, and everything downstream of the
    * trainers (k×VecDot assignment, probe ranking) is COMPUTE-bound per
    * row, so a one-split corpus runs the whole IVF family serialized on
    * one task. Only widens (never coalesces a corpus that
    * already has parallelism), and every consumer is order-invariant by
    * construction (exact-integer sums, keyed joins, id-ordered inits), so
    * the values are partitioning-independent — spec-pinned.
    */
  private def spread(df: DataFrame): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < p) df.repartition(p) else df
  }

  /** All pairs with cosine ≥ threshold — the naive nested-loop spelling
    * (`id_a < id_b` non-equi join → BroadcastNestedLoopJoin). EXACTNESS
    * BASELINE for specs; never the registered shape: at scale use
    * [[cosinePairsBlocked]] (same exact result, distributed evenly) or
    * [[lshCosinePairs]] (sub-quadratic, high thresholds).
    */
  def cosinePairs(df: DataFrame, id: Column, vec: Column, threshold: Double): DataFrame = {
    val n = withNorm(df, id, vec)
    n.toDF("id_a", "va", "na")
      .join(n.toDF("id_b", "vb", "nb"), col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(dot(col("va"), col("vb")) / (col("na") * col("nb")), 6).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Exact all-pairs cosine via upper-triangle BLOCK pairing — the
    * distributed spelling of [[cosinePairs]], bit-identical results. This is the
    * LOSSLESS SPEC BASELINE, not a registered query shape: even evenly distributed, an exact low-threshold pair scan is
    * Ω(n²) compares (103× at the 10× probe) — the registered pair source
    * is the cluster-bounded [[clusterCosinePairs]].
    *
    * Why not LSH here: banding recall is `1-(1-p^r)^b` with
    * `p = 1 - θ/π`, and this operator's dedup contract is a LOW threshold —
    * measured on the test corpus, qualifying pairs sit at cosine
    * 0.45–0.51 where p ≈ 0.65 and the 8×4 banding would MISS ~21% of true
    * pairs. A low-threshold exact pair scan is inherently Ω(n²) compares;
    * what a cluster can fix is the `id_a < id_b` nested-loop join, which
    * broadcasts the corpus and rescans it per task. Here each vector is
    * hashed to one of `blocks` groups; side A replicates each vector to
    * block-pair keys `(g, g..B-1)`, side B to `(0..g, g)`, and the
    * equi-join on the key pair gives every unordered pair EXACTLY once
    * (diagonal blocks deduped by id order), in `B(B+1)/2` evenly-sized
    * shuffle tasks with whole-stage-codegen'd [[TextOps.dot]] compares —
    * no broadcast, no rescan, no driver bottleneck. Size `blocks` so a
    * block (~n/B vectors) fits a task comfortably: shuffle volume is
    * ~n·B/2 vectors, task work (n/B)².
    */
  def cosinePairsBlocked(df: DataFrame, id: Column, vec: Column, threshold: Double,
      blocks: Int = 16): DataFrame = {
    val n = withNorm(df, id, vec)
      .withColumn("g", pmod(xxhash64(col("id")), lit(blocks)).cast("int"))
    val aSide = n.select(col("id").as("ia"), col("v").as("va"), col("nrm").as("na"),
      col("g").as("bi"), explode(sequence(col("g"), lit(blocks - 1))).as("bj"))
    val bSide = n.select(col("id").as("ib"), col("v").as("vb"), col("nrm").as("nb"),
      col("g").as("bj2"), explode(sequence(lit(0), col("g"))).as("bi2"))
    aSide.join(bSide, col("bi") === col("bi2") && col("bj") === col("bj2"))
      // off-diagonal block pairs hold each pair once (in hash orientation);
      // the diagonal holds both orientations — keep one by id order
      .filter(col("bi") =!= col("bj") || col("ia") < col("ib"))
      // dot/mult are symmetric and element-ordered, so the cosine is
      // bit-identical however the pair arrived; canonicalize ids only
      .select(
        least(col("ia"), col("ib")).as("id_a"),
        greatest(col("ia"), col("ib")).as("id_b"),
        round(dot(col("va"), col("vb")) / (col("na") * col("nb")), 6).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Every unordered within-key exact-cosine pair of `rel` — columns
    * `(k, id, v, nrm)` — emitted exactly once per key occurrence, via the
    * upper-triangle block pairing of [[cosinePairsBlocked]] keyed on the
    * full `(k, block-pair)` triple: one giant key spreads over B(B+1)/2
    * evenly-sized shuffle tasks instead of one straggler. Shared by the
    * SemDeDup pair stage and [[clusterCosinePairs]].
    */
  private def blockPairs(rel: DataFrame, blocks: Int): DataFrame = {
    val n = rel.withColumn("g", pmod(xxhash64(col("id")), lit(blocks)).cast("int"))
    val aSide = n.select(col("k"), col("id").as("ia"), col("v").as("va"),
      col("nrm").as("na"), col("g").as("bi"),
      explode(sequence(col("g"), lit(blocks - 1))).as("bj"))
    val bSide = n.select(col("k"), col("id").as("ib"), col("v").as("vb"),
      col("nrm").as("nb"), explode(sequence(lit(0), col("g"))).as("bi"),
      col("g").as("bj"))
    aSide.join(bSide, Seq("k", "bi", "bj"))
      .filter(col("bi") =!= col("bj") || col("ia") < col("ib"))
      .select(
        least(col("ia"), col("ib")).as("id_a"),
        greatest(col("ia"), col("ib")).as("id_b"),
        round(dot(col("va"), col("vb")) / (col("na") * col("nb")), 6).as("cos_sim"))
  }

  /** CLUSTER-BOUNDED near-dup pairs — the 100 TB spelling of the
    * low-threshold pair scan, and the registered shape behind `q_dedup_embedding` / `q_pipeline_crossmodal` (the exact
    * [[cosinePairsBlocked]] stays as the spec-only lossless baseline, the
    * same relationship [[cosinePairs]] has to it).
    *
    * Why not exact, and why not LSH: an exact low-threshold pair scan is
    * inherently Ω(n²) compares (measured 103× at the 10× probe — dead at
    * 100×), while hyperplane banding at cosine 0.45 either misses ~21% of
    * true pairs (8×4) or degenerates to near-all-pairs candidates (shorter
    * bands) — see the [[cosinePairsBlocked]] scaladoc. The SemDeDup move
    * (Abbas et al. 2023) bounds the quadratic instead: k-means-cluster the
    * corpus with the exact-integer Lloyd trainer (k ~ √n via
    * [[IvfConfig]]'s derived default, so the pair stage is Σ|bucket|² ≈
    * n·√n, not n²) and compare exactly WITHIN buckets only. Each vector is
    * assigned to its `probes` NEAREST centroids (not just the argmin — the
    * multi-probe trick recovers boundary pairs whose members straddle two
    * centroids, the dominant recall loss of single-assignment SemDeDup);
    * a pair sharing two probe buckets arrives twice bit-identically and
    * dedups exactly. Every surviving pair carries the exact rounded
    * cosine, so precision is exact; only recall is bounded (a pair whose
    * members share NO probe bucket is not tested — the SemDeDup contract).
    *
    * Deterministic end to end — centroids, assignment order (dist, j) and
    * the cosine are the same exact-integer discipline as [[ivfTopK]], so
    * the DuckDB oracle replays the identical candidate set and the result
    * is hash-gated, not rows-only.
    */
  def clusterCosinePairs(df: DataFrame, id: Column, vec: Column, threshold: Double,
      cfg: IvfConfig = IvfConfig(), probes: Int = 2, blocks: Int = 8,
      model: Option[(IvfConfig, Array[Centroid])] = None): DataFrame = {
    val (plan, caches) = clusterCosinePairsPlan(df, id, vec, threshold, cfg, probes, blocks, model)
    val out = plan.localCheckpoint()
    caches.foreach(_.unpersist())
    out
  }

  /** Un-checkpointed [[clusterCosinePairs]] plan + caches to release
    * (for plan-shape specs). `model` is an optional pre-trained session
    * model ([[graft.ops.Artifacts.ivfModel]]) — training is query-free and
    * deterministic, so passing it is bit-identical to training inline
    * (the [[ivfTopKWithModel]] discipline, applied to the pair operators
    * so they do not retrain the same full-corpus model per run).
    */
  private[ops] def clusterCosinePairsPlan(df: DataFrame, id: Column, vec: Column,
      threshold: Double, cfg: IvfConfig, probes: Int,
      blocks: Int, model: Option[(IvfConfig, Array[Centroid])] = None): (DataFrame, Seq[DataFrame]) = {
    val corpus = ivfCorpus(df, id, vec, cfg)
    val (rcfg, centroids) = model.getOrElse {
      val r = resolveCfg(corpus, cfg)
      (r, trainIvfCentroids(corpus, r))
    }
    // materialize the multi-probe assignment ONCE (the incremental-gate
    // lesson: a live k-branch distance expression inside the pair join
    // re-evaluates per join-output row)
    val probed = corpus
      .select(col("id"), col("v"), col("nrm"),
        explode(probeBucketsCol(centroids, rcfg.copy(nprobe = probes))).as("k"))
      .localCheckpoint()
    val out = blockPairs(probed, blocks)
      .filter(col("cos_sim") >= threshold)
      // a pair sharing several probe buckets arrives once per shared
      // bucket with a BIT-IDENTICAL cosine (same element-ordered dot) —
      // exact-dedup is a plain distinct
      .distinct()
      .orderBy(col("id_a"), col("id_b"))
    (out, Seq(corpus, probed))
  }

  /** Sub-quadratic near-dup pairs: LSH band-bucket candidate generation +
    * exact cosine verification — the billions-of-vectors dedup shape for
    * HIGH thresholds. Recall of a true pair at angle θ is
    * `1-(1-p^r)^b, p = 1-θ/π` (defaults r=4, b=8: ≥0.999998 at cosine
    * 0.99, 0.97 at 0.9, but only ~0.79 at 0.45 — use
    * [[cosinePairsBlocked]] when the threshold is low and exactness is
    * contractual). Candidates are generated by an equi-join on band
    * buckets and every candidate is verified with the exact rounded
    * cosine, so precision is always exact; only recall is probabilistic.
    *
    * Candidate generation rides the SAME hot-bucket cap as the text-side
    * banding ([[TextDedup.cappedBucketCandidates]]): a band
    * bucket over `bucketCap` members — and near-identical floods are
    * exactly this operator's target workload — emits a CHAIN (k−1 pairs)
    * instead of the k² clique, bounding a degenerate bucket to O(k). The
    * chain is ordered by the FULL 32-plane signature, not by id: an
    * oversized band bucket always carries interlopers (4-bit bands
    * collide random pairs at p ≈ 1/16), and an id-ordered chain would
    * route the duplicate flood through them, failing the exact verify at
    * every crossing; signature order keeps the flood contiguous, so its
    * chain links verify end-to-end and the component survives intact.
    */
  def lshCosinePairs(df: DataFrame, id: Column, vec: Column, threshold: Double,
      cfg: LshConfig = LshConfig(),
      bucketCap: Int = TextDedup.DefaultBucketCap): DataFrame = {
    val corpus = withNorm(df, id, vec)
    val banded = bandedSignatures(corpus, cfg)
      .select(col("id"), col("band"), col("bv"), col("sig"))
    val cands = TextDedup.cappedBucketCandidates(banded, Seq("band", "bv"), bucketCap,
        orderCols = Seq("sig"))
      .distinct()
    cands
      .join(corpus.toDF("id_a", "va", "na"), Seq("id_a"))
      .join(corpus.toDF("id_b", "vb", "nb"), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        round(dot(col("va"), col("vb")) / (col("na") * col("nb")), 6).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Exact cosine top-k for a query subset: queries broadcast against one
    * corpus scan; deterministic on (rounded cosine desc, id).
    */
  def cosineTopK(df: DataFrame, id: Column, vec: Column, queryIds: Seq[Long], k: Int): DataFrame = {
    val corpus = withNorm(df, id, vec)
    val queries = corpus.filter(col("id").isin(queryIds: _*)).toDF("qid", "qv", "qn")
    val w = Window.partitionBy(col("qid")).orderBy(col("cos_sim").desc, col("id"))
    broadcast(queries)
      .join(corpus, col("id") =!= col("qid"))
      .select(col("qid"), col("id"),
        round(dot(col("qv"), col("v")) / (col("qn") * col("nrm")), 6).as("cos_sim"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("rnk"), col("id"), col("cos_sim"))
      .orderBy(col("qid"), col("rnk"))
  }

  /** Hard-negative mining for contrastive training (the DPR/sentence-
    * transformers data-prep step): for each query vector, the top-k
    * HIGHEST-cosine vectors carrying a DIFFERENT label — similar enough
    * to confuse the model, labeled differently, which is exactly what a
    * contrastive loss needs as negatives (random negatives are too easy
    * to carry gradient signal).
    *
    * Exactness baseline: queries broadcast against one corpus scan (the
    * [[cosineTopK]] shape with the label-mismatch predicate fused into the
    * join). At 100 TB compose the ANN shortlist instead: [[pqTopK]] /
    * [[ivfTopK]] with k' ≫ k, then filter `label ≠` and keep k — the
    * mining loop never scans full vectors beyond the shortlist.
    */
  def hardNegatives(df: DataFrame, id: Column, vec: Column, label: Column,
      queryIds: Seq[Long], k: Int): DataFrame = {
    val corpus = df.select(id.as("id"), vec.as("v"), label.as("lbl"), norm(vec).as("nrm"))
    val queries = corpus.filter(col("id").isin(queryIds: _*)).toDF("qid", "qv", "qlbl", "qn")
    val w = Window.partitionBy(col("qid")).orderBy(col("cos_sim").desc, col("id"))
    broadcast(queries)
      .join(corpus, col("lbl") =!= col("qlbl"))
      .select(col("qid"), col("id"), col("lbl"),
        round(dot(col("qv"), col("v")) / (col("qn") * col("nrm")), 6).as("cos_sim"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("rnk").cast("long").as("rnk"), col("id"),
        col("lbl").cast("long").as("neg_label"), col("cos_sim"))
      .orderBy(col("qid"), col("rnk"))
  }

  /** `numCentroids = 0` (the default) means DERIVE the centroid count from
    * the corpus size as `max(floor(√n), 16)` at train time — the SemDeDup
    * scaling contract: with k ~ √n the within-cluster pair stage is bounded
    * by Σ|cluster|² ≈ n²/k = n^1.5 and per-cluster membership stays ~√n, so
    * neither the pair quadratic nor the exact-integer distance envelope
    * (Σr² ≤ dim·N² must fit a long, N ≈ 2^28 — see [[CentroidParts]])
    * degrades as the corpus grows. A fixed k would quietly turn the bound
    * into n²/k at 100×. Pass an explicit positive value to pin k (specs,
    * planted fixtures). The DuckDB oracles replay the same derivation as
    * `greatest(floor(sqrt(count(*))), 16)` — sqrt is IEEE-exact on an
    * integer count in both engines, so the derived k always agrees.
    */
  final case class IvfConfig(numCentroids: Int = 0, iters: Int = 3, nprobe: Int = 4,
      quantBits: Int = 14, dim: Int = 64)

  /** The derived centroid count for an n-vector corpus (see [[IvfConfig]]). */
  def derivedCentroids(n: Long): Int =
    math.max(math.sqrt(n.toDouble).toInt, 16)

  /** Resolve `numCentroids = 0` against the (persisted) corpus — one cached
    * count; training then reads the same cache.
    */
  private def resolveCfg(corpus: DataFrame, cfg: IvfConfig): IvfConfig =
    if (cfg.numCentroids > 0) cfg
    else cfg.copy(numCentroids = derivedCentroids(corpus.count()))

  /** A k-means centroid held EXACTLY as the integer component-sums of its
    * members plus the member count — the mean `S/N` is never materialized,
    * so no engine-specific floating-point rounding enters the iteration.
    */
  private[ops] final case class Centroid(s: Array[Long], n: Long)

  /** Floor decomposition of a centroid's component means — the
    * overflow-free form of every distance/score compare.
    *
    * `s_d / n = g_d + r_d / n` with integer `g_d = floor(s_d / n)` and
    * remainder `r_d = s_d − n·g_d ∈ [0, n)`, computed on BOTH engines as
    * `(s + n·SHIFT) div n − SHIFT` / `(s + n·SHIFT) mod n` with
    * `SHIFT = 2^(quantBits+2)` so the shifted numerator is non-negative
    * and truncating vs flooring division agree (Spark `DIV` truncates,
    * DuckDB `//` floors; they only coincide for non-negative operands).
    *
    * The derived exact-long sufficient statistics replace `ΣS²` (whose
    * long envelope bound cluster size to N ≈ 2^13 at quantBits = 14, below
    * sf10's ~31k-member cells): |g_d| ≤ 2^(quantBits+2) is N-FREE, so
    *   `sumG2 = Σg² ≤ dim·2^(2·quantBits+4)`          (N-free),
    *   `sumGR = Σg·r ≤ dim·2^(quantBits+2)·N`          (long-safe to N ≈ 2^40),
    *   `sumR2 = Σr² ≤ dim·N²`                          (long-safe to N ≈ 2^28.5,
    * ~380M members per cell — 4 orders of magnitude past the ~31k/cell a
    * 10⁹-vector √n-bucketed store sits at). All three accumulate in BigInt
    * on the driver and FAIL LOUDLY (targeted message, never a wrap) if a
    * cell ever exceeds the stated bound.
    */
  private[ops] final case class CentroidParts(n: Long, g: Array[Long], r: Array[Long],
      sumG2: Long, sumGR: Long, sumR2: Long)

  private[ops] def centroidParts(c: Centroid, quantBits: Int): CentroidParts = {
    val shift = 4L << quantBits
    val dim = c.s.length
    val g = new Array[Long](dim)
    val r = new Array[Long](dim)
    var g2, gr, r2 = BigInt(0)
    var i = 0
    while (i < dim) {
      val u = c.s(i) + c.n * shift
      require(u >= 0, s"centroid component mean ${c.s(i)}/${c.n} below -2^(quantBits+2): " +
        "raise the CentroidParts SHIFT (embedding components are assumed in [-4, 4])")
      val gi = u / c.n - shift
      val ri = u % c.n
      g(i) = gi; r(i) = ri
      g2 += BigInt(gi) * gi; gr += BigInt(gi) * ri; r2 += BigInt(ri) * ri
      i += 1
    }
    def fit(v: BigInt, what: String): Long = {
      require(v.isValidLong, s"centroid $what=$v exceeds the long envelope " +
        s"(n=${c.n}, dim=$dim, quantBits=$quantBits): a cell this large (N > ~2^28) " +
        "needs more/rebalanced IVF cells, not a wider integer")
      v.toLong
    }
    // Bound the single-dot path's Σx·s DIRECTLY.
    // The g/r remainder sums alone are not airtight for VecDotLong — a
    // degenerate oversized cell of near-identical members (exactly the
    // dedup regime) has r_d ≈ 0, so sumR2/sumGR stay tiny while the long
    // Σx·s accumulation wraps silently. The tight per-cell bound is
    // Σ_d |s_d| · xmax with xmax = 2^(quantBits+2) (the quantized-row
    // component ceiling), computed here in BigInt so the failure is a
    // loud targeted raise, never a wrap.
    val maxDot = c.s.foldLeft(BigInt(0))((a, sd) => a + BigInt(sd).abs) * shift
    require(maxDot.isValidLong, s"centroid dot envelope " +
      s"sum|s|*2^(quantBits+2)=$maxDot exceeds the long range " +
      s"(n=${c.n}, dim=$dim, quantBits=$quantBits): the single-dot distance " +
      "(VecDotLong) could wrap — split/rebalance this cell")
    CentroidParts(c.n, g, r, fit(g2, "sum_g2"), fit(gr, "sum_gr"), fit(r2, "sum_r2"))
  }

  /** Overflow-free scaled distance `Σ_d (x_d − s_d/n)²` of a quantized row
    * to a centroid mean, in PINNED-ORDER double arithmetic over
    * exactly-computed longs (every operand below is an exact integer):
    *   A = Σ(x−g)² = a2 − 2·Σx·g + Σg²   (N-free),
    *   B = Σ(x−g)·r = Σx·r − Σg·r        (≤ dim·2^(quantBits+3)·N),
    *   dist = (A − 2.0·(B / n)) + Σr² / (n·n)
    * with each double op (cast, one division per term, the two adds) an
    * IEEE-754 operation both engines replay bit-identically — the DuckDB
    * oracle computes the same longs via HUGEINT sums and the same final
    * expression (see Similarity.ivfDistSelectSql). Replaces the
    * `(N²·Σx² − 2N·ΣSx + ΣS²)/N²` form whose `2N·ΣSx` long product bound
    * cells to N ≈ 2^13, below sf10's ~31k-member cells.
    */
  private[ops] def partsDist(p: CentroidParts, x: Column, a2: Column): Column = {
    val (aP, bP) = partsAB(p, x, a2)
    val nD = p.n.toDouble
    (aP.cast("double") - lit(2.0) * (bP.cast("double") / lit(nD))) +
      lit(p.sumR2).cast("double") / lit(nD * nD)
  }

  /** The per-centroid `ΣS²/N² = (Σg² + 2·(Σg·r/N)) + Σr²/N²` scalar,
    * driver-computed from the exact-long decomposition sums in the SAME
    * pinned IEEE op order the oracle's crec/rec CTEs use.
    */
  private[ops] def centroidRec(p: CentroidParts): Double = {
    val nD = p.n.toDouble
    (p.sumG2.toDouble + 2.0 * (p.sumGR.toDouble / nD)) + p.sumR2.toDouble / (nD * nD)
  }

  /** The HOT-PATH distance form (one dot per centroid; the two-dot
    * [[partsDist]] costs ~+25% on the IVF-assignment family, so the
    * assignment/probe/serve paths use this instead):
    *   `dist = Σx² − 2·(Σx·S / n) + ΣS²/N²`
    * with `Σx·S` an exact LONG dot ([[graft.functions.VecDotLong]] —
    * operand-cast long products, bounded DIRECTLY by the Σ|s|·xmax guard
    * [[centroidParts]] raises loud, so even a degenerate near-identical
    * cell that slips the remainder sums cannot wrap the dot) and the rec
    * term a driver-precomputed
    * scalar over the g/r decomposition. Same pinned IEEE op sequence as
    * the oracle's `(Σx² − 2.0·(Σx·s / n)) + rec`; same overflow-free
    * envelope as [[partsDist]] (which remains the recon audit's per-term
    * form).
    */
  private def singleDotDist(c: Centroid, p: CentroidParts, x: Column, a2: Column): Column = {
    val dotS = graft.functions.VecDotLong(typedLit(c.s.map(_.toDouble).toSeq), x)
    val nD = p.n.toDouble
    (a2.cast("double") - lit(2.0) * (dotS.cast("double") / lit(nD))) + lit(centroidRec(p))
  }

  /** The two exact-long row×centroid terms of [[partsDist]]:
    * `A = Σ(x−g)²` (N-free) and `B = Σ(x−g)·r` (long-safe to N ≈ 2^40) —
    * exposed separately so [[pqReconError]] can aggregate them
    * order-independently across members.
    */
  private[ops] def partsAB(p: CentroidParts, x: Column, a2: Column): (Column, Column) = {
    val dotG = TextOps.dot(typedLit(p.g.map(_.toDouble).toSeq), x).cast("long")
    val dotR = TextOps.dot(typedLit(p.r.map(_.toDouble).toSeq), x).cast("long")
    (a2 - lit(2L) * dotG + lit(p.sumG2), dotR - lit(p.sumGR))
  }

  /** IVF-style ANN: coarse-quantize the corpus with k-means (Lloyd
    * iterations expressed as DataFrame jobs, deterministic init from the
    * smallest ids), then search only the `nprobe` nearest centroid buckets
    * per query with exact re-rank.
    *
    * Centroids are control-plane metadata (numCentroids × dim longs) — they
    * live on the driver exactly like LSH planes; per-vector work stays
    * fully distributed. This is the FAISS-IVF shape expressed relationally;
    * at 100 TB the assignment column becomes the partition/bucket key of
    * the stored table.
    *
    * The whole training loop is EXACT INTEGER arithmetic, making the
    * clustering bit-reproducible by any engine (the DuckDB oracle replays
    * it as chained CTEs): components quantize to `x_d = floor(v_d·2^quantBits)`,
    * a centroid is `(S, N)` (member component-sums + count), and the
    * squared distance to the mean `Σ(x − S/N)²` is compared in
    * PINNED-ORDER double arithmetic over exactly-computed longs via the
    * floor decomposition `S/N = g + r/N` — see [[CentroidParts]] and
    * [[partsDist]]. Every summed term is an exact integer (so sums are
    * order-independent in both engines) and the final per-centroid scalar
    * is the same IEEE-754 op sequence in Spark and DuckDB, so the compared
    * doubles (and argmin tie-breaks on centroid index) are deterministic.
    * Cell-size envelope: long-safe to N ≈ 2^28 members per cell (~380M;
    * the `Σr² ≤ dim·N²` term), guarded LOUDLY on the driver; there is no
    * `2N·ΣSx` product and so no `N ≈ 2^13` ANSI-overflow ceiling.
    */
  def ivfTopK(df: DataFrame, id: Column, vec: Column, queryIds: Seq[Long], k: Int,
      cfg: IvfConfig = IvfConfig()): DataFrame = {
    val corpus = ivfCorpus(df, id, vec, cfg)
    val rcfg = resolveCfg(corpus, cfg)
    val centroids = trainIvfCentroids(corpus, rcfg)
    val assigned = corpus.withColumn("bucket", ivfAssignment(rcfg)(centroids))
    val result = ivfServe(assigned, centroids, queryIds, k, rcfg)
    corpus.unpersist()
    result
  }

  /** Train-only IVF entry: the Lloyd loop of
    * [[ivfTopK]] with no serving — returns the resolved config plus the
    * exact-integer centroids, a driver-side object small enough
    * (numCentroids × dim longs) to memoize for a whole session
    * ([[Artifacts.ivfModel]]). Training is query-free, so one trained
    * model serves every audit variant (full / sampled) bit-identically.
    */
  private[ops] def trainIvfModel(df: DataFrame, id: Column, vec: Column,
      cfg: IvfConfig = IvfConfig()): (IvfConfig, Array[Centroid]) = {
    val corpus = ivfCorpus(df, id, vec, cfg)
    val rcfg = resolveCfg(corpus, cfg)
    val cents = trainIvfCentroids(corpus, rcfg)
    corpus.unpersist()
    (rcfg, cents)
  }

  /** Serve [[ivfTopK]] from a pre-trained in-session model — bit-identical
    * to `ivfTopK` run with the same model (assignment and probe are pure
    * functions of the centroids), minus the training passes. The cost
    * left is one corpus assignment scan + the per-query probe, so a
    * SAMPLED audit's marginal cost scales with serving, not training.
    */
  private[ops] def ivfTopKWithModel(df: DataFrame, id: Column, vec: Column,
      queryIds: Seq[Long], k: Int, model: (IvfConfig, Array[Centroid])): DataFrame = {
    val (rcfg, centroids) = model
    val corpus = ivfCorpus(df, id, vec, rcfg)
    val assigned = corpus.withColumn("bucket", ivfAssignment(rcfg)(centroids))
    val result = ivfServe(assigned, centroids, queryIds, k, rcfg)
    corpus.unpersist()
    result
  }

  /** The prepared (cached) IVF corpus. xq: integral-valued array<double> —
    * VecDot accumulates integer products whose partial sums stay < 2^53,
    * so the double math is exact. a2 = Σx² is persisted alongside: every
    * centroid branch reads it as a column instead of re-evaluating the
    * self-dot per centroid (16× per row — materializing inside the cache
    * keeps CollapseProject from inlining it back into the branches).
    */
  private def ivfCorpus(df: DataFrame, id: Column, vec: Column, cfg: IvfConfig): DataFrame = {
    val scale = (1L << cfg.quantBits).toDouble
    spread(withNorm(df, id, vec))
      .withColumn("xq", transform(col("v"), x => floor(x.cast("double") * lit(scale)).cast("double")))
      .withColumn("a2", graft.functions.VecDot(col("xq"), col("xq")).cast("long"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
  }

  /** Scaled distance per centroid via [[partsDist]] (overflow-free,
    * pinned-order — see [[CentroidParts]]). The g/r centroid vectors are
    * ONE array literal each (typedLit), not a CreateArray of `dim` lit()
    * nodes — janino compiles a constant reference instead of a 64-term
    * expression per centroid. Σx² comes from the persisted a2 column,
    * computed once per row.
    */
  private def ivfDists(cents: Array[Centroid], quantBits: Int): Array[Column] =
    cents.map(c => singleDotDist(c, centroidParts(c, quantBits), col("xq"), col("a2")))

  /** Argmin via array functions — a when()-chain reduce would duplicate
    * the accumulator subtree per step (exponential expression size);
    * array_position takes the FIRST minimum → ties break to the lowest j,
    * mirrored by ORDER BY dist, j in the oracle.
    */
  private def ivfAssignment(cfg: IvfConfig)(cents: Array[Centroid]): Column = {
    val dists = array(ivfDists(cents, cfg.quantBits).toIndexedSeq: _*)
    (array_position(dists, array_min(dists)) - 1).cast("int")
  }

  /** Lloyd training: deterministic init from the numCentroids smallest-id
    * vectors as singletons; each iteration is one corpus pass whose
    * component sums collect as centroid-sized metadata.
    */
  private def trainIvfCentroids(corpus: DataFrame, cfg: IvfConfig): Array[Centroid] = {
    require(cfg.numCentroids > 0, "resolveCfg must run before training")
    var centroids: Array[Centroid] = corpus.orderBy(col("id")).limit(cfg.numCentroids)
      .select(col("xq")).collect()
      .map(r => Centroid(r.getSeq[Double](0).map(_.toLong).toArray, 1L))
    for (_ <- 1 to cfg.iters) {
      // materialize the per-vector assignment BEFORE the dimension
      // explode: Generate inlines its child projection per OUTPUT row, so
      // a live k-branch distance expression under posexplode re-evaluates
      // dim× per vector — with derived k ~ √n that 64× amplification
      // pinned a single training task for minutes at the 10× probe
      val assigned = corpus
        .select(ivfAssignment(cfg)(centroids).as("c"), col("xq"))
        .localCheckpoint()
      val sums = assigned
        .select(col("c"), posexplode(col("xq")).as(Seq("pos", "x")))
        .groupBy(col("c"), col("pos"))
        .agg(sum(col("x").cast("long")).as("s"), count(lit(1)).as("n"))
        .collect()
      assigned.unpersist()
      val byCluster = sums.groupBy(_.getAs[Int]("c"))
      centroids = centroids.indices.map { j =>
        byCluster.get(j) match {
          case Some(rows) =>
            Centroid(rows.sortBy(_.getAs[Int]("pos")).map(_.getAs[Long]("s")).toArray,
              rows.head.getAs[Long]("n"))
          case None => centroids(j) // empty cluster keeps its centroid
        }
      }.toArray
    }
    centroids
  }

  /** The `nprobe` nearest centroid buckets of the current row's `xq`
    * (struct sort on (dist, j)) — shared by the IVF query probe and the
    * incremental semantic-dedup probe.
    */
  private def probeBucketsCol(cents: Array[Centroid], cfg: IvfConfig): Column = {
    val ds = ivfDists(cents, cfg.quantBits).zipWithIndex
      .map { case (d, j) => struct(d.as("d"), lit(j).as("j")) }
    slice(transform(array_sort(array(ds.toIndexedSeq: _*)), s => s("j")), 1, cfg.nprobe)
  }

  /** Probe + exact re-rank over the bucketed corpus: nprobe nearest
    * buckets per query vector (struct sort: dist, then j), candidates via
    * the bucket equi-join, rounded-cosine re-rank.
    */
  private def ivfServe(assigned: DataFrame, centroids: Array[Centroid],
      queryIds: Seq[Long], k: Int, cfg: IvfConfig): DataFrame = {
    def probeBuckets(cents: Array[Centroid]): Column = probeBucketsCol(cents, cfg)
    val queries = assigned
      .filter(col("id").isin(queryIds: _*))
      .select(col("id").as("qid"), col("v").as("qv"), col("nrm").as("qn"),
        explode(probeBuckets(centroids)).as("bucket"))

    val w = Window.partitionBy(col("qid")).orderBy(col("cos_sim").desc, col("id"))
    broadcast(queries)
      .join(assigned, Seq("bucket"))
      .filter(col("id") =!= col("qid"))
      .select(col("qid"), col("id"),
        round(dot(col("qv"), col("v")) / (col("qn") * col("nrm")), 6).as("cos_sim"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("rnk"), col("id"), col("cos_sim"))
      .orderBy(col("qid"), col("rnk"))
      .localCheckpoint() // eager: run before releasing the corpus cache
  }

  /** Incremental (cross-batch) SEMANTIC near-dup gate: each INCOMING
    * vector checked against an EXISTING corpus — the daily-ingest dual of
    * [[semDedup]] and the embedding-space sibling of
    * [[TextDedup.minhashLshIncremental]]. The corpus is k-means-bucketed
    * once (the [[ivfTopK]] trainer); each incoming vector probes its
    * `nprobe` NEAREST buckets (not just its argmin bucket — boundary
    * near-dups can land one centroid over) and verifies candidates with
    * the exact rounded cosine. Output one row per duplicated incoming id:
    * `(id, dup_of = min matching corpus id, best_cos, n_dups)`.
    *
    * At 100 TB the corpus side is PRECOMPUTED and stored — the SAME
    * artifact [[writeIvfIndex]] persists for ANN serving (centroids +
    * bucket assignment) doubles as the semantic dedup index; see
    * [[semDedupIncrementalFromIndex]]. Per-batch cost is
    * O(|batch| · nprobe-bucket fractions of the corpus), independent of
    * how the corpus GREW — never corpus×corpus.
    */
  def semDedupIncremental(corpus: DataFrame, incoming: DataFrame,
      id: Column, vec: Column, threshold: Double,
      cfg: IvfConfig = IvfConfig(),
      model: Option[(IvfConfig, Array[Centroid])] = None): DataFrame = {
    val corpusC = ivfCorpus(corpus, id, vec, cfg)
    val (rcfg, centroids) = model.getOrElse {
      val r = resolveCfg(corpusC, cfg)
      (r, trainIvfCentroids(corpusC, r))
    }
    // materialize the assignment ONCE (the in-memory analogue of the
    // bucket column writeIvfIndex persists): leaving the k-centroid
    // argmin as a live expression inside the probe join re-evaluates it
    // per join-output row — measured 108 s vs 35 s at the 10× probe scale
    val assignedC = corpusC
      .select(col("id"), col("v"), col("nrm"),
        ivfAssignment(rcfg)(centroids).as("bucket"))
      .localCheckpoint()
    val out = semProbe(assignedC, centroids, incoming, id, vec, threshold, rcfg)
    corpusC.unpersist()
    assignedC.unpersist()
    out
  }

  /** The shared probe of [[semDedupIncremental]] and
    * [[semDedupIncrementalFromIndex]]: band the incoming batch to its
    * nprobe nearest buckets, collide against the corpus bucket
    * assignment, verify with the exact rounded cosine.
    */
  private def semProbe(assignedC: DataFrame, centroids: Array[Centroid],
      incoming: DataFrame, id: Column, vec: Column, threshold: Double,
      cfg: IvfConfig): DataFrame = {
    val (plan, caches) = semProbePlan(assignedC, centroids, incoming, id, vec, threshold, cfg)
    val out = plan.localCheckpoint()
    caches.foreach(_.unpersist())
    out
  }

  /** Un-checkpointed probe plan + caches to release (for plan specs):
    * the probed incoming rows collide with the corpus bucket assignment,
    * verify at `threshold` with the exact rounded cosine, and aggregate
    * per incoming id.
    */
  private[ops] def semProbePlan(assignedC: DataFrame, centroids: Array[Centroid],
      incoming: DataFrame, id: Column, vec: Column, threshold: Double,
      cfg: IvfConfig): (DataFrame, Seq[DataFrame]) = {
    val inc = ivfCorpus(incoming, id, vec, cfg)
    val probed = inc
      .select(col("id").as("id_i"), col("v").as("vi"), col("nrm").as("ni"),
        explode(probeBucketsCol(centroids, cfg)).as("bucket"))
    // the ingest batch is small by definition — broadcast it so the
    // corpus side STREAMS through the bucket join instead of shuffling
    // its vectors (at 100 TB the corpus shuffle would dominate the probe;
    // measured 3.5× on the 10× probe corpus)
    val verified = broadcast(probed)
      .join(assignedC.select(col("id").as("id_c"), col("v").as("vc"),
        col("nrm").as("nc"), col("bucket")), Seq("bucket"))
      .select(col("id_i"), col("id_c"),
        round(dot(col("vi"), col("vc")) / (col("ni") * col("nc")), 6).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
      .groupBy(col("id_i"))
      .agg(min(col("id_c")).as("dup_of"), max(col("cos_sim")).as("best_cos"),
        count(lit(1)).as("n_dups"))
      .withColumnRenamed("id_i", "id")
      .orderBy(col("id"))
    (verified, Seq(inc))
  }

  /** Un-checkpointed stored-index gate plan + caches (for plan specs):
    * same construction as [[semDedupIncrementalFromIndex]].
    */
  private[ops] def semDedupIncrementalFromIndexPlan(corpus: DataFrame, incoming: DataFrame,
      id: Column, vec: Column, indexDir: String, threshold: Double,
      cfg: IvfConfig = IvfConfig()): (DataFrame, Seq[DataFrame]) = {
    val spark = corpus.sparkSession
    val centroids = loadCentroids(spark, indexDir)
    val corpusC = ivfCorpus(corpus, id, vec, cfg)
    val assignedC = corpusC.join(
      Tables.parquet(spark, s"$indexDir/buckets.parquet"), Seq("id"))
    val (plan, caches) = semProbePlan(assignedC, centroids, incoming, id, vec, threshold, cfg)
    (plan, caches :+ corpusC)
  }

  /** Serve the incremental semantic gate from the STORED IVF index (see
    * [[writeIvfIndex]]): centroids reload as a control-plane collect, the
    * stored bucket assignment joins back onto the corpus by id, and only
    * the incoming batch computes fresh assignments — bit-identical to the
    * in-session [[semDedupIncremental]] over the same corpus and config
    * (the index stores exact integers; a reload loses nothing).
    */
  def semDedupIncrementalFromIndex(corpus: DataFrame, incoming: DataFrame,
      id: Column, vec: Column, indexDir: String, threshold: Double,
      cfg: IvfConfig = IvfConfig()): DataFrame = {
    val (plan, caches) = semDedupIncrementalFromIndexPlan(
      corpus, incoming, id, vec, indexDir, threshold, cfg)
    val out = plan.localCheckpoint()
    caches.foreach(_.unpersist())
    out
  }

  /** Build and PERSIST the IVF index: train the centroids and write them
    * (exact-integer component sums + counts) plus the corpus bucket
    * assignment under `indexDir`. At scale the bucket column is the
    * partition key of the stored corpus table; here it is the join key a
    * reload serves through.
    */
  def writeIvfIndex(df: DataFrame, id: Column, vec: Column, indexDir: String,
      cfg: IvfConfig = IvfConfig()): Unit = {
    val corpus = ivfCorpus(df, id, vec, cfg)
    val rcfg = resolveCfg(corpus, cfg)
    val centroids = trainIvfCentroids(corpus, rcfg)
    val spark = df.sparkSession
    import spark.implicits._
    centroids.zipWithIndex.map { case (c, j) => (j, c.n, c.s.toSeq) }.toSeq
      .toDF("j", "n", "s")
      .coalesce(1).write.mode("overwrite").parquet(s"$indexDir/centroids.parquet")
    corpus.withColumn("bucket", ivfAssignment(rcfg)(centroids))
      .select(col("id"), col("bucket"))
      .write.mode("overwrite").parquet(s"$indexDir/buckets.parquet")
    corpus.unpersist()
  }

  /** Serve top-k from a PERSISTED IVF index (see [[writeIvfIndex]]):
    * centroids reload as a bounded control-plane collect, the stored
    * bucket assignment joins back onto the corpus by id (no re-assignment
    * pass), and probing + exact re-rank run the identical serving path —
    * bit-identical to the in-session [[ivfTopK]].
    */
  /** Reload the stored centroids — a bounded control-plane collect
    * (numCentroids × dim longs).
    */
  private def loadCentroids(spark: org.apache.spark.sql.SparkSession,
      indexDir: String): Array[Centroid] =
    Tables.parquet(spark, s"$indexDir/centroids.parquet").collect()
      .sortBy(_.getAs[Int]("j"))
      .map(r => Centroid(r.getSeq[Long](r.fieldIndex("s")).toArray, r.getAs[Long]("n")))

  def ivfTopKFromIndex(df: DataFrame, id: Column, vec: Column, indexDir: String,
      queryIds: Seq[Long], k: Int, cfg: IvfConfig = IvfConfig()): DataFrame = {
    val spark = df.sparkSession
    val centroids = loadCentroids(spark, indexDir)
    val corpus = ivfCorpus(df, id, vec, cfg)
    val assigned = corpus.join(
      Tables.parquet(spark, s"$indexDir/buckets.parquet"), Seq("id"))
    val result = ivfServe(assigned, centroids, queryIds, k, cfg)
    corpus.unpersist()
    result
  }

  /** APPEND-ONLY IVF index refresh — the ingest path of a production
    * vector store: new vectors are assigned to the STORED centroids
    * (frozen — no retraining) and their bucket rows appended to the
    * index; serving then sees corpus ∪ batch through the same
    * [[ivfTopKFromIndex]]. This is the standard freshness/quality trade
    * (FAISS `add` vs `train`): recall on the new vectors is whatever the
    * old centroids give them, and the [[graft.ops.Similarity.qAnnRecall]]
    * audits decide when drift justifies a retrain — the vector dual of
    * the BM25 `refreshSearchIndex` and the layout pack's re-cluster
    * trigger.
    *
    * Cost is O(batch): one scan of the batch against the centroid array
    * (a broadcast-sized literal), one append write. Nothing touches the
    * existing corpus or its stored buckets. Assignment uses the identical
    * (dist, j) rule as the trainer, so refresh-then-serve is bit-equal to
    * assigning the union with frozen centroids (spec-pinned), and the
    * DuckDB oracle replays it from the training chain.
    */
  def refreshIvfIndex(newBatch: DataFrame, id: Column, vec: Column, indexDir: String,
      cfg: IvfConfig = IvfConfig()): Unit = {
    val spark = newBatch.sparkSession
    val centroids = loadCentroids(spark, indexDir)
    val corpus = ivfCorpus(newBatch, id, vec, cfg)
    corpus.withColumn("bucket", ivfAssignment(cfg)(centroids))
      .select(col("id"), col("bucket"))
      .write.mode("append").parquet(s"$indexDir/buckets.parquet")
    corpus.unpersist()
  }

  /** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication"): cluster-scoped SEMANTIC
    * near-dup pruning — the embedding-space complement of the lexical
    * dedup family in [[TextDedup]] (two paraphrases share no shingles but
    * sit at cosine ≈ 1 in embedding space).
    *
    *  1. k-means-cluster the corpus (the same exact-integer Lloyd training
    *     as [[ivfTopK]] — centroids are control-plane metadata, the
    *     clustering is bit-reproducible by the DuckDB oracle);
    *  2. compute exact cosine pairs WITHIN each cluster only — the paper's
    *     core trick: clustering bounds the quadratic to Σ|cluster|²
    *     instead of n², and `numCentroids` grows with corpus size (√n
    *     keeps per-cluster work flat) so the pair stage stays tractable at
    *     100 TB. Within a cluster, pairs use the same upper-triangle BLOCK
    *     pairing as [[cosinePairsBlocked]] (key = (cluster, block-pair)),
    *     so one giant cluster spreads over B(B+1)/2 evenly-sized shuffle
    *     tasks instead of one straggler;
    *  3. survivor policy: for every pair at cosine ≥ `threshold`, DROP the
    *     member with the HIGHER cosine-to-centroid (the paper keeps low
    *     centroid-similarity exemplars to preserve diversity; ties drop
    *     the larger id). The rule is a single anti-join — no iteration —
    *     and within any threshold-connected group the member with the
    *     lexicographically smallest (cent_sim, id) never loses a pair, so
    *     at least one exemplar always survives; a member is dropped iff
    *     some ε-neighbor dominates it, so a chain a–b–c with b dominated
    *     keeps BOTH ends (a,c are not near-dups of each other — pairwise
    *     dominance, deliberately not whole-component collapse).
    *
    * Centroid similarity is pinned-order double arithmetic over
    * exactly-computed integers (the g + r/n decomposition of
    * [[CentroidParts]]), rounded to 6 — identical in any engine, with no
    * cluster-size ceiling below the loud N ≈ 2^28 driver guard. Recall caveat (inherent to SemDeDup): a near-dup pair
    * split across two clusters is not tested; the paper accepts this (dup
    * pairs have near-identical embeddings, so they co-assign except on
    * centroid boundaries).
    *
    * @return (id, cluster, cent_sim, keep) — one row per vector, keep ∈
    *   {0, 1}, ordered by id
    */
  def semDedup(df: DataFrame, id: Column, vec: Column, threshold: Double,
      cfg: IvfConfig = IvfConfig(), blocks: Int = 8,
      model: Option[(IvfConfig, Array[Centroid])] = None): DataFrame = {
    val (plan, caches) = semDedupPlan(df, id, vec, threshold, cfg, blocks, model)
    val out = plan.localCheckpoint()
    caches.foreach(_.unpersist())
    out
  }

  /** The un-checkpointed plan of [[semDedup]] plus the caches the caller
    * must release — exposed so plan-shape specs can explain the live
    * relation. `model`: optional pre-trained session model, bit-identical
    * to inline training (see [[clusterCosinePairsPlan]]).
    */
  private[ops] def semDedupPlan(df: DataFrame, id: Column, vec: Column, threshold: Double,
      cfg: IvfConfig, blocks: Int,
      model: Option[(IvfConfig, Array[Centroid])] = None): (DataFrame, Seq[DataFrame]) = {
    val corpus = ivfCorpus(df, id, vec, cfg)
    val (rcfg, centroids) = model.getOrElse {
      val r = resolveCfg(corpus, cfg)
      (r, trainIvfCentroids(corpus, r))
    }
    // per-centroid cosine-to-centroid: cos = (Σx·S / N) / (√Σx² · √(ΣS²/N²))
    // with Σx·S an exact LONG dot (VecDotLong — exact past double's 2^53,
    // covered by the same N ≈ 2^28.5 guard centroidParts raises) and
    // ΣS²/N² the pinned-order per-centroid scalar the ADC rec term uses —
    // every double op replayed identically by the DuckDB oracle's
    // crec/cdot CTEs, so the value is bit-equal cross-engine with
    // no cluster-size ceiling below the loud driver guard.
    val centSims = centroids.map { c =>
      val p = centroidParts(c, rcfg.quantBits)
      val dotS = graft.functions.VecDotLong(typedLit(c.s.map(_.toDouble).toSeq), col("xq"))
      val nD = p.n.toDouble
      round((dotS.cast("double") / lit(nD)) /
        (sqrt(col("a2").cast("double")) * lit(math.sqrt(centroidRec(p)))), 6)
    }
    // referenced by both pair sides, the dominance lookup and the output —
    // persist so the centroid-distance expressions evaluate once per row
    val assigned = corpus
      .withColumn("cluster", ivfAssignment(rcfg)(centroids))
      .withColumn("cent_sim", element_at(array(centSims.toIndexedSeq: _*), col("cluster") + 1))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // within-cluster exact cosine pairs, block-paired for even tasks:
    // the shuffle key is the full (cluster, block-pair) triple
    val pairs = blockPairs(
      assigned.select(col("cluster").as("k"), col("id"), col("v"), col("nrm")), blocks)
      .filter(col("cos_sim") >= threshold)
    val cs = assigned.select(col("id"), col("cent_sim"))
    val losers = pairs
      .join(cs.select(col("id").as("id_a"), col("cent_sim").as("ca")), Seq("id_a"))
      .join(cs.select(col("id").as("id_b"), col("cent_sim").as("cb")), Seq("id_b"))
      .select(when(col("ca") > col("cb") ||
          (col("ca") === col("cb") && col("id_a") > col("id_b")), col("id_a"))
        .otherwise(col("id_b")).as("id"))
      .distinct()
    val out = assigned
      .select(col("id"), col("cluster").cast("long").as("cluster"), col("cent_sim"))
      .join(losers.withColumn("dropped", lit(1L)), Seq("id"), "left")
      .select(col("id"), col("cluster"), col("cent_sim"),
        when(col("dropped").isNotNull, lit(0L)).otherwise(lit(1L)).as("keep"))
      .orderBy(col("id"))
    (out, Seq(assigned, corpus))
  }

  /** ±1 hyperplane sign for (plane j, dim d): low bit of the first hex
    * nibble of `md5("plane:j:d")`. Derived from a hash rather than a seeded
    * PRNG so that ANY engine with an md5 function reproduces the planes —
    * the DuckDB oracle recomputes them from the same formula.
    */
  def planeSign(j: Int, d: Int): Int = {
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(s"plane:$j:$d".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    if (((digest(0) >> 4) & 1) == 1) 1 else -1
  }

  final case class LshConfig(numPlanes: Int = 32, bands: Int = 8, dim: Int = 64, quantBits: Int = 20) {
    require(numPlanes % bands == 0)
    val bitsPerBand: Int = numPlanes / bands
    val quantScale: Double = (1L << quantBits).toDouble
    lazy val planes: Array[Array[Double]] =
      Array.tabulate(numPlanes, dim)((j, d) => planeSign(j, d).toDouble)
  }

  /** `(id, v, nrm, band, bv)` banded hyperplane signatures over a
    * normalized corpus — shared candidate machinery of [[lshTopK]] and
    * [[lshCosinePairs]] (quantization rationale on [[lshTopK]]).
    */
  private def bandedSignatures(corpus: DataFrame, cfg: LshConfig): DataFrame = {
    val quantized = transform(col("v"),
      x => floor(x.cast("double") * lit(cfg.quantScale)).cast("double"))
    val planeCols = cfg.planes.zipWithIndex.map { case (p, j) =>
      when(dot(typedLit(p.toSeq), col("xq")) >= 0, lit(1L << j)).otherwise(lit(0L))
    }
    val signed = corpus.withColumn("xq", quantized)
      .withColumn("sig", planeCols.reduce((a, b) => a.bitwiseOR(b)))
      .drop("xq")
    val bands = (0 until cfg.bands).map { b =>
      struct(lit(b).as("band"),
        shiftrightunsigned(col("sig"), b * cfg.bitsPerBand)
          .bitwiseAND(lit((1L << cfg.bitsPerBand) - 1)).as("bv"))
    }
    signed
      .select(col("id"), col("v"), col("nrm"), col("sig"), explode(array(bands: _*)).as("e"))
      .select(col("id"), col("v"), col("nrm"),
        col("e.band").as("band"), col("e.bv").as("bv"), col("sig"))
  }

  /** Random-hyperplane LSH top-k: signature projection → band bucket join
    * → exact re-rank within buckets. The billions-of-vectors shape.
    *
    * Sign bits are taken over QUANTIZED components `floor(v_d * 2^quantBits)`
    * rather than the raw floats: every projection is then a sum of 64 exact
    * integers (|term| < 2^quantBits, sum < 2^(quantBits+6), well inside
    * double/long exactness), so the signature — and therefore the candidate
    * set — is bit-identical in any engine, which is what lets the DuckDB
    * oracle hash-match this query instead of a rows-only check.
    */
  def lshTopK(df: DataFrame, id: Column, vec: Column, queryIds: Seq[Long], k: Int,
      cfg: LshConfig = LshConfig()): DataFrame = {
    val corpus = withNorm(df, id, vec)
    val banded = bandedSignatures(corpus, cfg)
      .select(col("id"), col("v"), col("nrm"), col("band"), col("bv"))
    val queries = banded.filter(col("id").isin(queryIds: _*)).toDF("qid", "qv", "qn", "band", "bv")
    val w = Window.partitionBy(col("qid")).orderBy(col("cos_sim").desc, col("id"))
    broadcast(queries)
      .join(banded, Seq("band", "bv"))
      .filter(col("id") =!= col("qid"))
      .select(col("qid"), col("qv"), col("qn"), col("id"), col("v"), col("nrm"))
      .distinct()
      .select(col("qid"), col("id"),
        round(dot(col("qv"), col("v")) / (col("qn") * col("nrm")), 6).as("cos_sim"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("rnk"), col("id"), col("cos_sim"))
      .orderBy(col("qid"), col("rnk"))
  }

  /** Build and PERSIST the LSH index: the banded hyperplane signatures
    * `(id, band, bv)` written as one parquet table under `indexDir` — the
    * signature computation (quantized projections against the md5-derived
    * planes) runs ONCE at build time; serving never touches it again. The
    * planes themselves need no storage: they are pure functions of
    * [[planeSign]], reproducible anywhere.
    */
  def writeLshIndex(df: DataFrame, id: Column, vec: Column, indexDir: String,
      cfg: LshConfig = LshConfig()): Unit =
    bandedSignatures(withNorm(df, id, vec), cfg)
      .select(col("id"), col("band"), col("bv"))
      .write.mode("overwrite").parquet(s"$indexDir/sigs.parquet")

  /** Append-only LSH index refresh — the ingest path: the batch's banded
    * signatures appended to the stored table at O(batch) cost. Unlike the
    * IVF dual ([[refreshIvfIndex]]) there is NO freshness/quality trade:
    * LSH has no trained state (planes are md5-derived), so an index built
    * by any sequence of refreshes is bit-identical to a one-shot build
    * over the union — serving from it equals the in-session [[lshTopK]]
    * exactly, and the refresh query shares the plain search's oracle.
    */
  def refreshLshIndex(newBatch: DataFrame, id: Column, vec: Column, indexDir: String,
      cfg: LshConfig = LshConfig()): Unit =
    bandedSignatures(withNorm(newBatch, id, vec), cfg)
      .select(col("id"), col("band"), col("bv"))
      .write.mode("append").parquet(s"$indexDir/sigs.parquet")

  /** Serve top-k from a PERSISTED LSH index (see [[writeLshIndex]]): query
    * signatures are looked up IN the stored table (queries are corpus
    * members, exactly as [[lshTopK]] treats them), candidates come from the
    * band-bucket equi-join against the stored signatures, and only the
    * candidate rows and query rows touch the full-vector table for the
    * exact re-rank. Bit-identical to the in-session [[lshTopK]]: the
    * signatures are exact integers, so a reload loses nothing.
    */
  def lshTopKFromIndex(df: DataFrame, id: Column, vec: Column, indexDir: String,
      queryIds: Seq[Long], k: Int, cfg: LshConfig = LshConfig()): DataFrame =
    lshTopKFromIndexPlan(df, id, vec, indexDir, queryIds, k, cfg).localCheckpoint()

  /** [[lshTopKFromIndex]] minus the final materialization — exposed for
    * the plan guard on the stored-index serving read profile (sigs scanned
    * from the index, no signature recomputation in the serving plan).
    */
  private[ops] def lshTopKFromIndexPlan(df: DataFrame, id: Column, vec: Column,
      indexDir: String, queryIds: Seq[Long], k: Int,
      cfg: LshConfig = LshConfig()): DataFrame = {
    val spark = df.sparkSession
    val sigs = Tables.parquet(spark, s"$indexDir/sigs.parquet")
    val qSigs = sigs.filter(col("id").isin(queryIds: _*))
      .select(col("id").as("qid"), col("band"), col("bv"))
    val cands = broadcast(qSigs)
      .join(sigs, Seq("band", "bv"))
      .filter(col("id") =!= col("qid"))
      .select(col("qid"), col("id"))
      .distinct()
    val full = withNorm(df, id, vec)
    val qFull = full.filter(col("id").isin(queryIds: _*)).toDF("qid", "qv", "qn")
    val w = Window.partitionBy(col("qid")).orderBy(col("cos_sim").desc, col("id"))
    broadcast(cands)
      .join(full, Seq("id"))
      .join(broadcast(qFull), Seq("qid"))
      .select(col("qid"), col("id"),
        round(dot(col("qv"), col("v")) / (col("qn") * col("nrm")), 6).as("cos_sim"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("rnk"), col("id"), col("cos_sim"))
      .orderBy(col("qid"), col("rnk"))
  }

  final case class PqConfig(subspaces: Int = 8, codebookSize: Int = 16, iters: Int = 2,
      quantBits: Int = 14, dim: Int = 64) {
    require(dim % subspaces == 0)
    val subDim: Int = dim / subspaces
  }

  /** Product-quantization ANN (asymmetric distance computation): train an
    * independent exact-integer k-means codebook per SUBSPACE of the vector,
    * compress every corpus vector to `subspaces` small codes, and rank the
    * WHOLE corpus per query by the reconstructed cosine — one table-lookup
    * sum per row instead of a 64-dim dot product.
    *
    * This is the memory-bound ANN shape (FAISS-PQ): at 100 TB the corpus
    * column shrinks from `dim × 4` bytes to `subspaces` bytes per vector
    * (here 256 B → 4 B, 64×), so the scan that ranks candidates reads ~1.5%
    * of the original bytes; codebooks are control-plane literals compiled
    * into the scoring expression (no join, no shuffle — ranking is a
    * narrow projection + the same bounded top-k window the other ANN paths
    * use). Compose with IVF bucketing to also cut the row count.
    *
    * Exactness discipline (same as [[ivfTopK]], which documents the
    * envelope): components quantize to integers, every codebook is `(S, N)`
    * sums+counts, and the score
    *   `cos ≈ (Σ_j I_j/N_j) / (sqrt(Σq²) · sqrt(Σ_j SS_j/N_j²))`
    * is built from the overflow-free `g + r/n` mean decomposition
    * ([[CentroidParts]]): `I_j/N = Σqx·g + Σqx·r/N`, `SS_j/N²` the
    * pinned-order per-cell scalar — every summed operand an exact integer,
    * every double op replayed identically by the DuckDB oracle, so even
    * this APPROXIMATE index is hash-gated, not rows-only, with no
    * cell-size ceiling below the loud N ≈ 2^28 driver guard.
    *
    * `shortlist > k` enables the standard refine stage: rank the whole
    * corpus by ADC on the compressed codes, then re-rank only the
    * `shortlist` best per query with the exact cosine over the full
    * vectors. At scale this is the memory/IO win: the full-vector table is
    * touched for `queries × shortlist` rows instead of the whole corpus.
    */
  def pqTopK(df: DataFrame, id: Column, vec: Column, queryIds: Seq[Long], k: Int,
      cfg: PqConfig = PqConfig(), shortlist: Int = 0): DataFrame = {
    val corpus = pqCorpus(df, id, vec, cfg)
    val codebooks = trainPqCodebooks(corpus, cfg)
    val result = pqServeFromCorpus(df, id, vec, corpus, codebooks, queryIds, k, cfg, shortlist)
    corpus.unpersist()
    result
  }

  /** Train-only PQ entry: the per-subspace Lloyd
    * loop of [[pqTopK]] with no encode/serve — returns the exact-integer
    * codebooks, driver-side metadata (subspaces × codebookSize × subDim
    * longs) memoized per session by [[Artifacts.pqModel]].
    */
  private[ops] def trainPqModel(df: DataFrame, id: Column, vec: Column,
      cfg: PqConfig = PqConfig()): Array[Array[Centroid]] = {
    val corpus = pqCorpus(df, id, vec, cfg)
    val cb = trainPqCodebooks(corpus, cfg)
    corpus.unpersist()
    cb
  }

  /** Serve [[pqTopK]] from pre-trained codebooks — bit-identical to
    * `pqTopK` with the same codebooks (encode and ADC are pure functions
    * of them); the remaining cost is the encode scan + ADC ranking.
    */
  private[ops] def pqTopKWithModel(df: DataFrame, id: Column, vec: Column,
      queryIds: Seq[Long], k: Int, codebooks: Array[Array[Centroid]],
      cfg: PqConfig = PqConfig(), shortlist: Int = 0): DataFrame = {
    val corpus = pqCorpus(df, id, vec, cfg)
    val result = pqServeFromCorpus(df, id, vec, corpus, codebooks, queryIds, k, cfg, shortlist)
    corpus.unpersist()
    result
  }

  private def pqServeFromCorpus(df: DataFrame, id: Column, vec: Column,
      corpus: DataFrame, codebooks: Array[Array[Centroid]], queryIds: Seq[Long],
      k: Int, cfg: PqConfig, shortlist: Int): DataFrame = {
    val encoded = pqEncode(corpus, codebooks, cfg)
    val queries = corpus.filter(col("id").isin(queryIds: _*))
      .select(col("id").as("qid"), col("xq").as("qxq"))
    pqServe(df, id, vec, queries, codebooks, encoded, queryIds, k, cfg, shortlist)
  }

  private def pqSub(cfg: PqConfig)(c: Column, j: Int): Column =
    slice(c, j * cfg.subDim + 1, cfg.subDim)

  /** The prepared (cached) training corpus. The per-subspace subvectors
    * x_j AND their norms Σx_j² are computed ONCE into the persisted
    * relation: every centroid branch of every assignment references them
    * as plain column reads. Left as inline expressions, each of the
    * codebookSize branches would re-slice the vector and re-evaluate the
    * Σx² dot (16× per subspace per row, which dominated the training
    * jobs' profile). Materializing INSIDE the cache is what
    * makes this stick: in a chained projection Catalyst's CollapseProject
    * would inline the subtree right back into each branch. Cache cost is
    * 2× the vector bytes — a training-scan trade any PQ build makes.
    */
  private def pqCorpus(df: DataFrame, id: Column, vec: Column, cfg: PqConfig): DataFrame = {
    val scale = (1L << cfg.quantBits).toDouble
    val subCols = (0 until cfg.subspaces).map(j => pqSub(cfg)(col("xq"), j).as(s"x$j"))
    val a2Cols = (0 until cfg.subspaces).map(j =>
      TextOps.dot(pqSub(cfg)(col("xq"), j), pqSub(cfg)(col("xq"), j)).cast("long").as(s"a2_$j"))
    spread(df.select(id.as("id"), vec.as("v")))
      .withColumn("xq", transform(col("v"), x => floor(x.cast("double") * lit(scale)).cast("double")))
      .select(Seq(col("id"), col("v"), col("xq")) ++ subCols ++ a2Cols: _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
  }

  /** Scaled distance of subspace j's subvector to centroid (S, N) via the
    * overflow-free [[partsDist]] (see [[CentroidParts]] — PQ cells hold
    * ~corpus/codebookSize members, so the old `ΣS²`/`2N·ΣSx` long
    * envelope bound PRECISELY at the 10⁹-vector target scale). Σx_j²
    * comes from the persisted a2_j column, computed once per row.
    */
  private def pqAssignment(cfg: PqConfig)(j: Int, cents: Array[Centroid]): Column = {
    val dists = array(cents.map(c =>
      singleDotDist(c, centroidParts(c, cfg.quantBits), col(s"x$j"), col(s"a2_$j")))
      .toIndexedSeq: _*)
    (array_position(dists, array_min(dists)) - 1).cast("int")
  }

  /** PQ QUANTIZATION-ERROR audit over trained codebooks — the
    * index-quality table a serving owner reads before trusting (or
    * re-sizing) a PQ deployment: per (subspace, cell) the member count,
    * the cell's N, and the EXACT integer error pieces of the overflow-free
    * decomposition (see [[CentroidParts]]):
    *   `err_a_sum = Σ_members Σ_d(x−g)²`  (each member term N-free),
    *   `err_b_sum = Σ_members Σ_d(x−g)·r`,
    *   `cell_r2  = Σ_d r²` (per-cell constant).
    * Mean squared quantization error per cell is
    *   `(err_a_sum − 2·err_b_sum/N + n_vecs·cell_r2/N²) / (n_vecs · 2^(2·quantBits))`
    * — left in pieces so the row hash-gates cross-engine. The member sums
    * accumulate EXACTLY as DECIMAL(38,0)/HUGEINT (order-independent, no
    * long ceiling at a 10⁹-row corpus) and surface as DOUBLE via ONE
    * round-to-nearest cast of the same exact integer on both engines
    * (Spark never outputs decimal — the driver coerces DuckDB decimals to
    * float). A `2N·ΣSx` long product would overflow at sf10's ~31k-member
    * cells; the decomposition has no such ceiling (cells safe to N ≈ 2^28, driver-guarded loud).
    *
    * Shape at 100 TB: one scan of the cached quantized corpus, a
    * subspaces-sized explode, one map-side-combinable aggregate to
    * (subspaces × codebookSize) rows. Codebooks are control-plane
    * literals — no join anywhere.
    */
  private[ops] def pqReconError(df: DataFrame, id: Column, vec: Column,
      codebooks: Array[Array[Centroid]], cfg: PqConfig = PqConfig()): DataFrame = {
    val corpus = pqCorpus(df, id, vec, cfg)
    // Stage 1 names each subspace's argmin cell ONCE (`cell$j`); stage 2
    // references it as a plain attribute. The multiple non-cheap uses of
    // the code keep CollapseProject from inlining the argmin subtree back
    // into every struct field — the inlined form multiplied the k-cell
    // distance tree per field and blew the default driver heap during
    // planning/codegen (measured: 8g OOM, restructured form fits easily).
    val partsByJ = (0 until cfg.subspaces).map(j =>
      codebooks(j).map(c => centroidParts(c, cfg.quantBits)))
    val staged = corpus.select(
      (0 until cfg.subspaces).map(j => pqAssignment(cfg)(j, codebooks(j)).as(s"cell$j")) ++
        (0 until cfg.subspaces).flatMap(j => Seq(col(s"x$j"), col(s"a2_$j"))): _*)
    val perSub = (0 until cfg.subspaces).map { j =>
      val parts = partsByJ(j)
      val one = col(s"cell$j") + 1
      val gMat = typedLit(parts.map(_.g.map(_.toDouble).toSeq).toSeq)
      val rMat = typedLit(parts.map(_.r.map(_.toDouble).toSeq).toSeq)
      val g2A = typedLit(parts.map(_.sumG2).toSeq)
      val grA = typedLit(parts.map(_.sumGR).toSeq)
      val r2A = typedLit(parts.map(_.sumR2).toSeq)
      val nA = typedLit(parts.map(_.n).toSeq)
      val dg = TextOps.dot(col(s"x$j"), element_at(gMat, one)).cast("long")
      val dr = TextOps.dot(col(s"x$j"), element_at(rMat, one)).cast("long")
      struct(lit(j.toLong).as("subspace"), col(s"cell$j").cast("long").as("cell"),
        (col(s"a2_$j") - lit(2L) * dg + element_at(g2A, one)).as("err_a"),
        (dr - element_at(grA, one)).as("err_b"),
        element_at(r2A, one).as("cell_r2"),
        element_at(nA, one).as("cell_n"))
    }
    val out = staged
      .select(explode(array(perSub: _*)).as("e"))
      .select(col("e.subspace").as("subspace"), col("e.cell").as("cell"),
        col("e.err_a").as("err_a"), col("e.err_b").as("err_b"),
        col("e.cell_r2").as("cell_r2"), col("e.cell_n").as("cell_n"))
      .groupBy(col("subspace"), col("cell"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(col("err_a").cast("decimal(38,0)")).cast("double").as("err_a_sum"),
        sum(col("err_b").cast("decimal(38,0)")).cast("double").as("err_b_sum"),
        max(col("cell_r2")).as("cell_r2"),
        max(col("cell_n")).as("cell_n"))
      .orderBy(col("subspace"), col("cell"))
    TextDedup.materializeAndRelease(out, corpus)
  }

  /** Train all subspace codebooks together — ONE corpus pass per Lloyd
    * iteration (not one per subspace): each row computes its code in
    * every subspace, the component sums group by (subspace, code, dim).
    * At scale this is iters+1 scans total over the (cached) quantized
    * corpus; the collects move subspaces×k×subDim longs — metadata.
    */
  private def trainPqCodebooks(corpus: DataFrame, cfg: PqConfig): Array[Array[Centroid]] = {
    var codebooks: Array[Array[Centroid]] = {
      val init = corpus.orderBy(col("id")).limit(cfg.codebookSize)
        .select(col("xq")).collect()
        .map(_.getSeq[Double](0).map(_.toLong).toArray)
      Array.tabulate(cfg.subspaces) { j =>
        init.map(xs => Centroid(xs.slice(j * cfg.subDim, (j + 1) * cfg.subDim), 1L))
      }
    }
    for (_ <- 1 to cfg.iters) {
      val codeArr = array((0 until cfg.subspaces).map(j =>
        pqAssignment(cfg)(j, codebooks(j))).toIndexedSeq: _*)
      // same Generate-amplification guard as trainIvfCentroids: compute
      // the per-vector code array once, not per exploded dimension row
      val coded = corpus.select(codeArr.as("codes"), col("xq")).localCheckpoint()
      val sums = coded
        .select(col("codes"), posexplode(col("xq")).as(Seq("d", "x")))
        .select((col("d") / cfg.subDim).cast("int").as("j"),
          element_at(col("codes"), (col("d") / cfg.subDim).cast("int") + 1).as("c"),
          (col("d") % cfg.subDim).as("pos"), col("x"))
        .groupBy(col("j"), col("c"), col("pos"))
        .agg(sum(col("x").cast("long")).as("s"), count(lit(1)).as("n"))
        .collect()
      coded.unpersist()
      val byKey = sums.groupBy(r => (r.getAs[Int]("j"), r.getAs[Int]("c")))
      codebooks = Array.tabulate(cfg.subspaces) { j =>
        codebooks(j).indices.map { c =>
          byKey.get((j, c)) match {
            case Some(rows) =>
              Centroid(rows.sortBy(_.getAs[Int]("pos")).map(_.getAs[Long]("s")).toArray,
                rows.head.getAs[Long]("n"))
            case None => codebooks(j)(c)
          }
        }.toArray
      }
    }
    codebooks
  }

  /** Encode: the compressed corpus is (id, code_0..code_{m-1}) — at scale
    * THIS is the stored table; full vectors are only needed for queries.
    */
  private def pqEncode(corpus: DataFrame, codebooks: Array[Array[Centroid]],
      cfg: PqConfig): DataFrame = {
    val codeCols = (0 until cfg.subspaces).map(j =>
      pqAssignment(cfg)(j, codebooks(j)).as(s"code$j"))
    corpus.select(col("id") +: codeCols: _*)
      .localCheckpoint() // materialize codes; frees the trained plan
  }

  /** ADC rank + optional exact refine, given trained codebooks and the
    * encoded corpus. Per subspace, I_j = Σ qx·S via a codebook lookup on
    * the row's code. Each codebook is a SINGLE nested-array literal
    * (typedLit) — one constant reference in codegen, not
    * codebookSize×subDim lit() nodes (a CreateArray forest of those takes
    * ~7 s of janino compile at sf0.1).
    */
  private def pqServe(df: DataFrame, id: Column, vec: Column, queries: DataFrame,
      codebooks: Array[Array[Centroid]], encoded: DataFrame, queryIds: Seq[Long],
      k: Int, cfg: PqConfig, shortlist: Int): DataFrame =
    pqServePlan(df, id, vec, queries, codebooks, encoded, queryIds, k, cfg, shortlist)
      .localCheckpoint()

  /** [[pqServe]] minus the final materialization — exposed so the plan
    * guard can assert the serving read profile (compressed codes scanned;
    * full vectors touched only for In-pushed query rows and the shortlist
    * join) before localCheckpoint flattens it to an RDD scan.
    */
  private[ops] def pqServePlan(df: DataFrame, id: Column, vec: Column, queries: DataFrame,
      codebooks: Array[Array[Centroid]], encoded: DataFrame, queryIds: Seq[Long],
      k: Int, cfg: PqConfig, shortlist: Int): DataFrame = {
    // Overflow-free ADC terms: I_j/N = Σqx·S / N with the dot an exact
    // LONG accumulation (VecDotLong — the old double-accumulated Σqx·S
    // lost exactness past N ≈ 2^19 members and its ΣS² driver sum wrapped
    // silently at N ≈ 2^14.5, both bound below the 10⁹-vector PQ cell
    // size of ~corpus/codebookSize), and ΣS²/N² the pinned-order
    // per-cell scalar from the g/r decomposition. Every double op is
    // replayed identically by the DuckDB oracle's contrib/rec CTEs.
    val partsByJ = (0 until cfg.subspaces).map(j =>
      codebooks(j).map(c => centroidParts(c, cfg.quantBits)))
    def contrib(j: Int): Column = {
      val sLit = typedLit(codebooks(j).map(_.s.map(_.toDouble).toSeq).toSeq)
      val nLit = typedLit(codebooks(j).map(_.n.toDouble).toSeq)
      val dotS = graft.functions.VecDotLong(
        pqSub(cfg)(col("qxq"), j), element_at(sLit, col(s"code$j") + 1))
      dotS.cast("double") / element_at(nLit, col(s"code$j") + 1)
    }
    def reconNorm2(j: Int): Column = {
      val recLit = typedLit(partsByJ(j).map(centroidRec).toSeq)
      element_at(recLit, col(s"code$j") + 1)
    }
    val score = round(
      (0 until cfg.subspaces).map(contrib).reduce(_ + _) /
        (sqrt(TextOps.dot(col("qxq"), col("qxq"))) *
          sqrt((0 until cfg.subspaces).map(reconNorm2).reduce(_ + _))), 6)

    val w = Window.partitionBy(col("qid")).orderBy(col("pq_score").desc, col("id"))
    val adcRanked = broadcast(queries)
      .join(encoded, col("id") =!= col("qid"))
      .select(col("qid"), col("id"), score.as("pq_score"))
      .withColumn("rnk", row_number().over(w))

    (if (shortlist <= k) {
      adcRanked.filter(col("rnk") <= k)
        .select(col("qid"), col("rnk"), col("id"), col("pq_score"))
        .orderBy(col("qid"), col("rnk"))
    } else {
      // refine stage: exact cosine over the ADC shortlist only — the
      // standard PQ serving shape (scan compressed codes, touch the full
      // vectors for `shortlist` rows per query). Deterministic end-to-end:
      // the shortlist is ADC-ordered (exact ints), the re-rank is the same
      // rounded cosine every other ANN path uses.
      val full = withNorm(df, id, vec)
      val qFull = full.filter(col("id").isin(queryIds: _*)).toDF("qid", "qv", "qn")
      val w2 = Window.partitionBy(col("qid")).orderBy(col("cos_sim").desc, col("id"))
      adcRanked.filter(col("rnk") <= shortlist)
        .select(col("qid"), col("id"))
        .join(full, Seq("id"))
        .join(broadcast(qFull), Seq("qid"))
        .select(col("qid"), col("id"),
          round(dot(col("qv"), col("v")) / (col("qn") * col("nrm")), 6).as("cos_sim"))
        .withColumn("rnk", row_number().over(w2))
        .filter(col("rnk") <= k)
        .select(col("qid"), col("rnk"), col("id"), col("cos_sim"))
        .orderBy(col("qid"), col("rnk"))
    })
  }

  /** Build and PERSIST the PQ index: train the codebooks, encode the
    * corpus, and write both as parquet tables under `indexDir` —
    * `codebooks.parquet` (subspace, code, count, component sums; exact
    * longs, so a reloaded index serves BIT-IDENTICAL scores) and
    * `codes.parquet` (id + one small code per subspace, the 64×-compressed
    * corpus). This is the index lifecycle a serving system needs: train
    * once on the big cluster, serve many times — including from a
    * different session — without touching the full vectors again except
    * for the query rows and the refine shortlist.
    */
  def writePqIndex(df: DataFrame, id: Column, vec: Column, indexDir: String,
      cfg: PqConfig = PqConfig()): Unit = {
    val corpus = pqCorpus(df, id, vec, cfg)
    val codebooks = trainPqCodebooks(corpus, cfg)
    val encoded = pqEncode(corpus, codebooks, cfg)
    corpus.unpersist()
    val spark = df.sparkSession
    import spark.implicits._
    codebooks.zipWithIndex.flatMap { case (cb, j) =>
      cb.zipWithIndex.map { case (c, ci) => (j, ci, c.n, c.s.toSeq) }
    }.toSeq.toDF("j", "c", "n", "s")
      .coalesce(1).write.mode("overwrite").parquet(s"$indexDir/codebooks.parquet")
    encoded.write.mode("overwrite").parquet(s"$indexDir/codes.parquet")
  }

  /** Serve top-k from a PERSISTED PQ index (see [[writePqIndex]]): the
    * codebooks reload as a bounded control-plane collect
    * (subspaces×codebookSize rows), the compressed codes stream from
    * parquet, and only the query rows (and the refine shortlist) touch
    * the full-vector table. Scores are bit-identical to the in-session
    * [[pqTopK]] because the index stores the exact-integer sufficient
    * statistics, not floats.
    */
  def pqTopKFromIndex(df: DataFrame, id: Column, vec: Column, indexDir: String,
      queryIds: Seq[Long], k: Int, cfg: PqConfig = PqConfig(),
      shortlist: Int = 0): DataFrame =
    pqTopKFromIndexPlan(df, id, vec, indexDir, queryIds, k, cfg, shortlist)
      .localCheckpoint()

  /** [[pqTopKFromIndex]] minus the final materialization — exposed for
    * the plan guard on the stored-index serving read profile.
    */
  private def loadPqCodebooks(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, cfg: PqConfig): Array[Array[Centroid]] = {
    val cbRows = Tables.parquet(spark, s"$indexDir/codebooks.parquet").collect()
    val byJ = cbRows.groupBy(_.getAs[Int]("j"))
    Array.tabulate(cfg.subspaces) { j =>
      byJ(j).sortBy(_.getAs[Int]("c"))
        .map(r => Centroid(r.getSeq[Long](r.fieldIndex("s")).toArray, r.getAs[Long]("n")))
    }
  }

  /** Append-only PQ index refresh — the ingest batch ENCODED with the
    * stored (frozen) codebooks and its codes appended, O(batch) cost:
    * the same fresh-encode-with-final-codebooks rule the builder applies,
    * so build + any refresh sequence equals encoding the union once
    * (split-invariance spec-pinned; the [[refreshIvfIndex]] freshness
    * trade applies identically — recall on new vectors is what the old
    * codebooks give them, the recall audits schedule the retrain).
    */
  def refreshPqIndex(newBatch: DataFrame, id: Column, vec: Column, indexDir: String,
      cfg: PqConfig = PqConfig()): Unit = {
    val spark = newBatch.sparkSession
    val codebooks = loadPqCodebooks(spark, indexDir, cfg)
    val corpus = pqCorpus(newBatch, id, vec, cfg)
    pqEncode(corpus, codebooks, cfg)
      .write.mode("append").parquet(s"$indexDir/codes.parquet")
    corpus.unpersist()
  }

  private[ops] def pqTopKFromIndexPlan(df: DataFrame, id: Column, vec: Column,
      indexDir: String, queryIds: Seq[Long], k: Int, cfg: PqConfig = PqConfig(),
      shortlist: Int = 0): DataFrame = {
    val spark = df.sparkSession
    val scale = (1L << cfg.quantBits).toDouble
    val codebooks = loadPqCodebooks(spark, indexDir, cfg)
    val encoded = Tables.parquet(spark, s"$indexDir/codes.parquet")
    val queries = df.select(id.as("qid"), vec.as("v"))
      .filter(col("qid").isin(queryIds: _*))
      .select(col("qid"),
        transform(col("v"), x => floor(x.cast("double") * lit(scale)).cast("double")).as("qxq"))
    pqServePlan(df, id, vec, queries, codebooks, encoded, queryIds, k, cfg, shortlist)
  }
}
