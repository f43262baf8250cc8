package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import TextOps._

/** Reusable, table-agnostic text-deduplication operators: a user points
  * them at ANY DataFrame with an id + text column (the `documents`-table
  * queries in [[Dedup]] are thin bindings of these).
  *
  * Output pair frames are always (id_a, id_b, measure) with id_a < id_b,
  * ordered — ready for a connected-components / keep-min-survivor pass.
  */
object TextDedup {

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** The [[canonicalize]] strategy decision, factored out pure so specs
    * can pin it without building an edge relation: edge count within the
    * driver cap → exact union-find on the driver ("union-find"); past it
    * → distributed alternating large-star/small-star ("large-small-star").
    */
  def componentsStrategy(nEdges: Long, driverMaxEdges: Long): String =
    if (nEdges <= driverMaxEdges) "union-find" else "large-small-star"

  final case class MinHashConfig(
      shingleK: Int = 3,
      numHashes: Int = 64,
      numBands: Int = 16,
      prime: Long = 1000000007L,
      seed: Long = 20260812L) {
    require(numHashes % numBands == 0, "numHashes must divide into bands")
    val rowsPerBand: Int = numHashes / numBands

    /** Deterministic affine coefficients over the base hash mod `prime`. */
    lazy val coefs: Array[(Long, Long)] = {
      val rnd = new scala.util.Random(seed)
      Array.fill(numHashes)(
        (1L + math.floorMod(rnd.nextLong(), prime - 1), math.floorMod(rnd.nextLong(), prime)))
    }
  }

  /** (id, shingle) relation: distinct word-k-shingles per document,
    * persisted because dedup pipelines reference it several times (sizes +
    * both join sides). At 100 TB materialize to a table instead.
    *
    * Callers own the cache lifecycle: release via [[materializeAndRelease]]
    * (or `unpersist()`) once the consuming plan has run — a session running
    * many queries must not accumulate dead cached relations.
    */
  def shingles(docs: DataFrame, id: Column, text: Column, k: Int): DataFrame =
    docs
      .select(id.as("id"), tokens(text).as("t"))
      .filter(size(col("t")) >= k)
      .select(col("id"), explode(shingleSet(col("t"), k)).as("s"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  /** Run `result` eagerly (localCheckpoint materializes its partitions and
    * cuts the lineage) and then release the intermediate cached relations it
    * was built from. Keeps multi-reference pipelines fast while bounding
    * cache residency to a single operator call.
    */
  private[ops] def materializeAndRelease(result: DataFrame, cached: DataFrame*): DataFrame = {
    val out = result.localCheckpoint()
    cached.foreach(_.unpersist())
    out
  }

  /** Exact dedup: deterministic survivor (min id) + fingerprint per
    * distinct text. One hash aggregation.
    */
  def exact(docs: DataFrame, id: Column, text: Column): DataFrame =
    docs
      .groupBy(text.as("text"))
      .agg(min(id).as("id"), count(lit(1)).as("n_copies"))
      .select(col("id"), md5(col("text")).as("fp"), col("n_copies"))
      .orderBy(col("id"))

  /** (id_a, id_b, common) candidates + per-id set sizes → thresholded
    * Jaccard pairs. Exact integer division — bit-stable across engines.
    */
  private[ops] def jaccardFromCommons(
      commons: DataFrame, sizes: DataFrame, threshold: Double): DataFrame =
    commons
      .join(sizes.toDF("id_a", "na"), Seq("id_a"))
      .join(sizes.toDF("id_b", "nb"), Seq("id_b"))
      .select(
        col("id_a"), col("id_b"),
        (col("common").cast(DoubleType) /
          (col("na") + col("nb") - col("common")).cast(DoubleType)).as("jaccard"))
      .filter(col("jaccard") >= threshold)
      .orderBy(col("id_a"), col("id_b"))

  /** Exact n-gram Jaccard pairs via the inverted shingle index, with a
    * HOT-POSTING CAP: postings are split at `postingCap` document
    * frequency into a RARE side (the overwhelming majority) and a HOT
    * side (cross-corpus boilerplate — a shared footer, a license header).
    * Intersection counts are assembled exactly WITHOUT ever joining a hot
    * posting against itself:
    *
    *   1. rare ⨝ rare posting self-join — the classic Σ df² shape, now
    *      bounded by postingCap · |postings|;
    *   2. each rare-discovered pair adds its exact hot-shingle overlap by
    *      probing the hot postings of BOTH endpoints (pair-count ×
    *      hot-shingles-per-doc rows, never df² of a hot shingle);
    *   3. each hot posting emits a sorted consecutive-id CHAIN; chain
    *      pairs not already discovered get a full exact verification
    *      (postingCap-free: only |hot postings| such pairs exist). The
    *      chain keeps a boilerplate flood CONNECTED for the downstream
    *      components pass.
    *
    * So a shingle shared by f documents costs O(f) instead of O(f²) —
    * the difference between this running and not running on a 100 TB
    * crawl with a common footer. Every emitted Jaccard value is exact;
    * the only approximation is recall on NON-ADJACENT pairs whose shared
    * shingles are ALL hotter than the cap (documents built almost
    * entirely of corpus-wide boilerplate). At J ≥ t a pair shares
    * ≥ t/(1+t)·(|A|+|B|) shingles, so an honest near-dup pair virtually
    * always carries a rare shingle and is found by branch 1. With the
    * default cap (2^12) nothing in the test corpora is hot (max df 25 at
    * sf0.1) and the relation is bit-identical to the uncapped one.
    */
  def jaccardPairs(
      docs: DataFrame, id: Column, text: Column,
      k: Int = 3, threshold: Double = 0.8,
      postingCap: Int = DefaultBucketCap): DataFrame = {
    val cc = cappedCommons(docs, id, text, k, postingCap)
    materializeAndRelease(
      jaccardFromCommons(cc.commons, cc.sizes, threshold), cc.cached: _*)
  }

  /** The exact unordered-pair overlap relation `(id_a, id_b, common)` with
    * per-id set sizes, built with the rare/hot posting split described on
    * [[jaccardPairs]] — shared by the Jaccard and containment pair
    * operators so both inherit the same linear-in-boilerplate cost bound.
    * Caller must release `cached` once the consuming plan has run
    * ([[materializeAndRelease]]).
    */
  private[ops] final case class CappedCommons(
      commons: DataFrame, sizes: DataFrame, cached: Seq[DataFrame])

  private[ops] def cappedCommons(
      docs: DataFrame, id: Column, text: Column,
      k: Int, postingCap: Int): CappedCommons = {
    val sh = shingles(docs, id, text, k)
    val sizes = sh.groupBy(col("id")).agg(count(lit(1)).as("n")).toDF("id", "n")
    // df via groupBy + join (map-side combinable, and the join's s-hash
    // partitioning is exactly what the rare self-join below reuses)
    val df = sh.groupBy(col("s")).agg(count(lit(1)).as("df"))
    val sized = sh.join(df, Seq("s"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val rare = sized.filter(col("df") <= postingCap).select(col("id"), col("s"))
    val hot = sized.filter(col("df") > postingCap).select(col("id"), col("s"))
    val commonsRare = rare.toDF("id_a", "s")
      .join(rare.toDF("id_b", "s"), Seq("s"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("c_rare"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val hotAdj = commonsRare.select(col("id_a"), col("id_b"))
      .join(hot.toDF("id_a", "s"), Seq("id_a"))
      .join(hot.toDF("id_b", "s"), Seq("id_b", "s"))
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("c_hot"))
    val commonsMain = commonsRare
      .join(hotAdj, Seq("id_a", "id_b"), "left")
      .select(col("id_a"), col("id_b"),
        (col("c_rare") + coalesce(col("c_hot"), lit(0L))).as("common"))
    val w = Window.partitionBy(col("s")).orderBy(col("id"))
    val chainPairs = hot
      .select(col("s"), lag(col("id"), 1).over(w).as("id_a"), col("id").as("id_b"))
      .filter(col("id_a").isNotNull)
      .select(col("id_a"), col("id_b")).distinct()
      .join(commonsRare.select(col("id_a"), col("id_b")), Seq("id_a", "id_b"), "left_anti")
    val chainCommons = chainPairs
      .join(sh.toDF("id_a", "s"), Seq("id_a"))
      .join(sh.toDF("id_b", "s"), Seq("id_b", "s"))
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("common"))
    val commons = commonsMain.unionByName(chainCommons)
    CappedCommons(commons, sizes, Seq(sh, sized, commonsRare))
  }

  /** Asymmetric CONTAINMENT pairs: `C(src→dst) = |src ∩ dst| / |src|` —
    * the fraction of `src`'s distinct k-shingles that also appear in
    * `dst`. Symmetric Jaccard misses the quote/subset family entirely (a
    * 100-shingle doc embedded verbatim in a 10,000-shingle doc has
    * J ≈ 0.01 but containment 1.0); containment is the gate a training
    * pipeline runs to drop documents that are substantially quoted inside
    * longer ones. Both directions of every overlapping pair are tested and
    * rows `(src, dst, containment ≥ threshold)` emitted, so a mutual
    * near-dup yields two rows and a strict subset yields one.
    *
    * Scale: rides [[cappedCommons]] — one inverted-index self-join bounded
    * by the hot-posting cap, then a single pair-sized projection that
    * explodes each unordered pair into its two directed tests (no second
    * scan, no recompute). Same recall caveat as [[jaccardPairs]]: a pair
    * whose shared shingles are ALL hotter than the cap is found only if
    * chain-adjacent; a src passing an honest 0.9 containment gate
    * virtually always shares a rare shingle with its container.
    */
  def containmentPairs(
      docs: DataFrame, id: Column, text: Column,
      k: Int = 3, threshold: Double = 0.9,
      postingCap: Int = DefaultBucketCap): DataFrame = {
    val cc = cappedCommons(docs, id, text, k, postingCap)
    materializeAndRelease(
      containmentFromCommons(cc.commons, cc.sizes, threshold), cc.cached: _*)
  }

  /** The directed containment projection of a commons relation — shared
    * by [[containmentPairs]] and the stored-candidates path
    * ([[graft.ops.Artifacts.ensureDedupCommons]]) so both compute the
    * identical doubles.
    */
  private[ops] def containmentFromCommons(
      commons: DataFrame, sizes: DataFrame, threshold: Double): DataFrame =
    commons
      .join(sizes.toDF("id_a", "na"), Seq("id_a"))
      .join(sizes.toDF("id_b", "nb"), Seq("id_b"))
      .select(explode(array(
        struct(col("id_a").as("src"), col("id_b").as("dst"),
          (col("common").cast(DoubleType) / col("na").cast(DoubleType)).as("containment")),
        struct(col("id_b").as("src"), col("id_a").as("dst"),
          (col("common").cast(DoubleType) / col("nb").cast(DoubleType)).as("containment"))))
        .as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"), col("e.containment").as("containment"))
      .filter(col("containment") >= threshold)
      .orderBy(col("src"), col("dst"))

  /** MinHash + LSH near-dup pairs with exact-Jaccard verification — the
    * 100 TB text-dedup pipeline. Identical final semantics to
    * [[jaccardPairs]] at the same threshold, minus any pair the banding
    * misses (P(miss | J≥0.8) ≈ 2e-4 with the default 16×4 config).
    */
  /** (id, band, bv) LSH banding of the minhash signatures of a persisted
    * (id, shingle) relation — `bv` hashes the band's signature rows, so
    * two ids sharing any (band, bv) are banding candidates. This is the
    * relation an incremental pipeline PRECOMPUTES and stores for the
    * corpus side (keyed/bucketed by (band, bv)); see
    * [[minhashLshIncremental]].
    */
  private[ops] def bandedSignatures(sh: DataFrame, cfg: MinHashConfig): DataFrame = {
    val hashed = sh.select(col("id"), pmod(xxhash64(col("s")), lit(cfg.prime)).as("base"))
    val sig = hashed.groupBy(col("id"))
      .agg(graft.functions.MinHashAgg(
        col("base"), cfg.coefs.map(_._1), cfg.coefs.map(_._2), cfg.prime).as("sig"))
    val bandStructs = (0 until cfg.numBands).map { bd =>
      struct(
        lit(bd).as("band"),
        xxhash64((0 until cfg.rowsPerBand).map(r =>
          element_at(col("sig"), bd * cfg.rowsPerBand + r + 1)): _*).as("bv"))
    }
    sig
      // sg: hash of the FULL signature — the chain order of
      // [[cappedBucketCandidates]] (identical docs share sg, so a
      // duplicate flood stays contiguous inside an oversized bucket)
      .select(col("id"), xxhash64(col("sig")).as("sg"),
        explode(array(bandStructs: _*)).as("e"))
      .select(col("id"), col("e.band").as("band"), col("e.bv").as("bv"), col("sg"))
  }

  /** Default collision-bucket cap for [[minhashLshPairs]] / [[simhashPairs]]:
    * above this many members a bucket's candidates go linear (chain) instead
    * of quadratic (all-pairs). 2^12 is far above any honest near-dup bucket
    * (it would mean 4k+ near-identical documents colliding) while bounding
    * the k² blowup of a degenerate one (botched crawl, boilerplate flood) to
    * `cap·k` total work.
    */
  val DefaultBucketCap = 1 << 12

  /** All-pairs candidates within buckets of ≤ `cap` members, plus a sorted
    * CHAIN within each oversized bucket. The chain keeps the bucket
    * CONNECTED — which is what the downstream connected-components
    * survivor pass consumes — with k−1 pairs instead of k(k−1)/2, and every
    * emitted pair still goes through exact verification.
    *
    * The chain orders by `orderCols` THEN id — pass the member's FULL
    * signature (minhash sig hash, simhash, hyperplane sig) so identical
    * and near-identical members sort ADJACENT. This matters because an
    * oversized bucket is never pure: band collisions admit interlopers
    * (at 4-bit hyperplane bands a random pair collides with p ≈ 1/16),
    * and an id-ordered chain routes a duplicate run THROUGH interlopers —
    * every crossing link fails the exact verify and the run disconnects
    * from members outside its id range. Signature order keeps each
    * duplicate run contiguous, so its chain links verify end-to-end
    * regardless of what else fell into the bucket. Remaining recall
    * trade-off (documented in SCALE.md): two near-dup SUB-CLUSTERS that
    * are not near-dups of each other stay separate components — which is
    * the correct answer, not a loss.
    *
    * `keyCols` are the bucket key; `payload` columns ride along (e.g. the
    * simhash signature needed for Hamming verification). Chain pairs are
    * re-oriented so `id_a < id_b` (signature order is not id order),
    * payloads swapped in step.
    */
  private[ops] def cappedBucketCandidates(
      banded: DataFrame, keyCols: Seq[String], cap: Int,
      payload: Seq[String] = Nil, orderCols: Seq[String] = Nil): DataFrame = {
    val key = keyCols.map(col)
    val sized = banded.withColumn("bsz",
      count(lit(1)).over(Window.partitionBy(key: _*)))
    val small = sized.filter(col("bsz") <= cap).drop("bsz")
    val aCols = Seq(col("id").as("id_a")) ++ payload.map(c => col(c).as(s"${c}_a"))
    val bCols = Seq(col("id").as("id_b")) ++ payload.map(c => col(c).as(s"${c}_b"))
    val allPairs = small.select(key ++ aCols: _*)
      .join(small.select(key ++ bCols: _*), keyCols)
      .filter(col("id_a") < col("id_b"))
    val w = Window.partitionBy(key: _*)
      .orderBy(orderCols.map(col) :+ col("id"): _*)
    val linked = sized.filter(col("bsz") > cap)
      .select(key ++
        (Seq(lag(col("id"), 1).over(w).as("id_a")) ++
          payload.map(c => lag(col(c), 1).over(w).as(s"${c}_a")) ++
          bCols): _*)
      .filter(col("id_a").isNotNull)
    // signature order is not id order: re-orient each link to id_a < id_b
    val flip = col("id_a") > col("id_b")
    val chained = linked.select(
      (Seq(
        when(flip, col("id_b")).otherwise(col("id_a")).as("id_a"),
        when(flip, col("id_a")).otherwise(col("id_b")).as("id_b")) ++
        payload.flatMap(c => Seq(
          when(flip, col(s"${c}_b")).otherwise(col(s"${c}_a")).as(s"${c}_a"),
          when(flip, col(s"${c}_a")).otherwise(col(s"${c}_b")).as(s"${c}_b")))): _*)
    val out = Seq(col("id_a"), col("id_b")) ++
      payload.flatMap(c => Seq(col(s"${c}_a"), col(s"${c}_b")))
    allPairs.select(out: _*).union(chained.select(out: _*))
  }

  def minhashLshPairs(
      docs: DataFrame, id: Column, text: Column,
      cfg: MinHashConfig = MinHashConfig(), threshold: Double = 0.8,
      bucketCap: Int = DefaultBucketCap): DataFrame = {
    val sh = shingles(docs, id, text, cfg.shingleK)
    val banded = bandedSignatures(sh, cfg)

    val candidates =
      cappedBucketCandidates(banded, Seq("band", "bv"), bucketCap,
        orderCols = Seq("sg"))
        .distinct()

    val commons = candidates
      .join(sh.toDF("id_a", "s"), Seq("id_a"))
      .join(sh.toDF("id_b", "s"), Seq("id_b", "s"))
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("common"))
    val sizes = sh.groupBy(col("id")).agg(count(lit(1)).as("n")).toDF("id", "n")
    materializeAndRelease(jaccardFromCommons(commons, sizes, threshold), sh)
  }

  /** Incremental (cross-batch) near-dup detection: each INCOMING document
    * checked against an EXISTING corpus — the daily-ingest shape — via the
    * same banding as [[minhashLshPairs]], but candidates come ONLY from
    * incoming×corpus band collisions (never corpus×corpus: the corpus is
    * already deduped, re-pairing it would redo the whole corpus's work
    * every ingest). Exact-Jaccard verification on the candidates; output
    * one row per duplicated incoming id:
    * `(id, dup_of = min matching corpus id, best_jaccard, n_dups)`.
    *
    * At 100 TB the corpus side of both joins is PRECOMPUTED and stored —
    * [[bandedSignatures]] bucketed by (band, bv) and the shingle relation
    * bucketed by id — so an ingest batch computes signatures for ITS OWN
    * documents only and probes the stored index: per-batch cost is
    * O(|batch| × bands + candidate verifications), independent of corpus
    * size. Within-batch self-duplicates are a separate
    * [[minhashLshPairs]] call on the batch alone.
    */
  def minhashLshIncremental(
      corpus: DataFrame, incoming: DataFrame, id: Column, text: Column,
      cfg: MinHashConfig = MinHashConfig(), threshold: Double = 0.8,
      bucketCap: Int = DefaultBucketCap): DataFrame = {
    val shC = shingles(corpus, id, text, cfg.shingleK)
    val sizesC = shC.groupBy(col("id")).agg(count(lit(1)).as("n"))
    val out = incrementalProbe(
      cappedCorpusBanded(shC, cfg, bucketCap), shC, sizesC,
      incoming, id, text, cfg, threshold)
    shC.unpersist()
    out
  }

  /** Bucket-capped corpus banding — the corpus side of the bipartite
    * probe. Hot-bucket bound: a degenerate corpus bucket (k_c
    * near-identical stored docs) would pair EVERY colliding incoming doc
    * with all k_c members. Keep the bucketCap SMALLEST corpus ids per
    * bucket — deterministic, retains the bucket minimum, so `dup_of`
    * (min matching corpus id) is unchanged; only `n_dups`/`best_jaccard`
    * can differ for incoming docs whose duplicates exceed the cap in one
    * bucket, which at the default 2^12 means 4k+ stored copies.
    */
  private[ops] def cappedCorpusBanded(
      shC: DataFrame, cfg: MinHashConfig, bucketCap: Int): DataFrame =
    bandedSignatures(shC, cfg)
      .select(col("id"), col("band"), col("bv"))
      .withColumn("rn", row_number()
        .over(Window.partitionBy(col("band"), col("bv")).orderBy(col("id"))))
      .filter(col("rn") <= bucketCap)
      .drop("rn")

  /** The shared probe of [[minhashLshIncremental]] and
    * [[minhashLshIncrementalFromIndex]]: band the INCOMING batch only,
    * collide it against the (capped) corpus banding, verify candidates
    * with exact Jaccard against the full corpus shingle relation. The
    * corpus-side inputs are exactly what [[writeLshIndex]] persists, so
    * the stored-index path is bit-identical to the in-session one.
    */
  private def incrementalProbe(
      cappedC: DataFrame, shC: DataFrame, sizesC: DataFrame,
      incoming: DataFrame, id: Column, text: Column,
      cfg: MinHashConfig, threshold: Double): DataFrame = {
    val shI = shingles(incoming, id, text, cfg.shingleK)
    val candidates = bandedSignatures(shI, cfg)
      .select(col("id").as("id_i"), col("band"), col("bv"))
      .join(cappedC.select(col("id").as("id_c"), col("band"), col("bv")),
        Seq("band", "bv"))
      .select(col("id_i"), col("id_c"))
      .distinct()
    // verification touches only candidate corpus docs: semi-join the
    // (corpus-sized) shingle relation down to the batch-bounded candidate
    // id set BEFORE the exact-overlap join — at 100 TB this is the
    // difference between shuffling the whole stored shingle table per
    // ingest batch and reading just the probed postings
    val shCNeeded = shC.select(col("id").as("id_c"), col("s"))
      .join(broadcast(candidates.select(col("id_c")).distinct()), Seq("id_c"), "left_semi")
    val commons = candidates
      .join(shI.select(col("id").as("id_i"), col("s")), Seq("id_i"))
      .join(shCNeeded, Seq("id_c", "s"))
      .groupBy(col("id_i"), col("id_c")).agg(count(lit(1)).as("common"))
    val verified = commons
      .join(shI.groupBy(col("id")).agg(count(lit(1)).as("ni")).toDF("id_i", "ni"), Seq("id_i"))
      .join(sizesC.select(col("id").as("id_c"), col("n").as("nc")), Seq("id_c"))
      .select(col("id_i"), col("id_c"),
        (col("common").cast(DoubleType) /
          (col("ni") + col("nc") - col("common")).cast(DoubleType)).as("jaccard"))
      .filter(col("jaccard") >= threshold)
    val out = verified
      .groupBy(col("id_i"))
      .agg(min(col("id_c")).as("dup_of"), max(col("jaccard")).as("best_jaccard"),
        count(lit(1)).as("n_dups"))
      .withColumnRenamed("id_i", "id")
      .orderBy(col("id"))
    materializeAndRelease(out, shI)
  }

  /** Persist the LSH dedup index — the dedup-side dual of the PQ/IVF ANN
    * index lifecycle ([[VectorSearch.writePqIndex]]): train once on the
    * big cluster, probe many. Three relations under `indexDir`:
    *
    *   - `banded.parquet`  — the bucket-capped (id, band, bv) corpus
    *     banding, laid out by (band, bv) (directory-partitioned by band;
    *     rows clustered by bucket) so an ingest probe's collision join
    *     reads band-pruned, bucket-clustered postings;
    *   - `shingles.parquet` — the full (id, s) corpus shingle relation
    *     the exact-Jaccard verification joins against;
    *   - `sizes.parquet`    — (id, n) shingle-set sizes.
    *
    * Everything stored is integers/strings (no floats), so a reload loses
    * nothing and [[minhashLshIncrementalFromIndex]] is bit-identical to
    * the in-session [[minhashLshIncremental]] at the same config. An
    * append-only corpus maintains the index incrementally: new docs only
    * ADD rows to all three relations.
    */
  def writeLshIndex(
      corpus: DataFrame, id: Column, text: Column, indexDir: String,
      cfg: MinHashConfig = MinHashConfig(),
      bucketCap: Int = DefaultBucketCap): Unit = {
    val shC = shingles(corpus, id, text, cfg.shingleK)
    cappedCorpusBanded(shC, cfg, bucketCap)
      .repartition(col("band"))
      .sortWithinPartitions(col("bv"), col("id"))
      .write.mode("overwrite").partitionBy("band")
      .parquet(s"$indexDir/banded.parquet")
    shC.write.mode("overwrite").parquet(s"$indexDir/shingles.parquet")
    shC.groupBy(col("id")).agg(count(lit(1)).as("n"))
      .write.mode("overwrite").parquet(s"$indexDir/sizes.parquet")
    shC.unpersist()
  }

  /** Serve an ingest batch from the STORED dedup index (see
    * [[writeLshIndex]]): signatures and shingles are computed for the
    * incoming documents ONLY and probed against the persisted corpus
    * relations — per-batch cost is O(|batch| × bands + candidate
    * verifications), independent of corpus size, which is the whole point
    * of persisting the index. Output contract and results are identical
    * to [[minhashLshIncremental]] over the same corpus and config.
    */
  def minhashLshIncrementalFromIndex(
      incoming: DataFrame, id: Column, text: Column, indexDir: String,
      cfg: MinHashConfig = MinHashConfig(), threshold: Double = 0.8): DataFrame = {
    val spark = incoming.sparkSession
    incrementalProbe(
      Tables.parquet(spark, s"$indexDir/banded.parquet"),
      Tables.parquet(spark, s"$indexDir/shingles.parquet"),
      Tables.parquet(spark, s"$indexDir/sizes.parquet"),
      incoming, id, text, cfg, threshold)
  }

  /** Survivor selection over near-dup pairs: connected components — every
    * id maps to the smallest id in its duplicate cluster
    * (`canonical == id` ⇒ keep, else drop).
    *
    * Strategy is SIZE-BASED, the same decision shape as broadcast-vs-shuffle
    * join selection: near-dup edge lists are orders of magnitude smaller
    * than the corpus (they exist only where documents overlap), so when the
    * edge count fits `driverMaxEdges` the components are solved with exact
    * union-find on the driver — one collect the size of the edge list, zero
    * iterative shuffles — and the labels broadcast back to the universe.
    * Above the threshold it runs the distributed alternating
    * large-star/small-star rounds ([[largeSmallStarComponents]]) — the
    * published two-phase MapReduce formulation whose round count grows
    * with log of the largest component, NOT its diameter, with a
    * localCheckpoint between rounds to cut iterative lineage.
    *
    * @param pairs (id_a, id_b) near-dup edges
    * @param ids   universe of ids (singletons map to themselves)
    * @param maxIters round cap for the distributed path
    * @param driverMaxEdges edge-count ceiling for the union-find fast path
    *   (set 0 to force the distributed path; default ~4M edges ≈ 64 MB of
    *   driver heap, the same order as a broadcast-join build side)
    */
  /** Quality-aware survivor per non-singleton component: given the
    * `(id, canonical)` labels of [[canonicalize]] and a per-id exact
    * metric `(id, m)`, keep the member with the LARGEST metric (ties to
    * the smallest id). One component-partitioned window over the label
    * relation — components are chain-capped by the hot-posting guard, so
    * no window partition is pathological.
    */
  def qualitySurvivors(labels: DataFrame, metric: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("canonical")).orderBy(col("m").desc, col("id"))
    labels.select(col("id"), col("canonical"))
      .join(metric.select(col("id"), col("m")), "id")
      .withColumn("rn", row_number().over(w))
      .withColumn("n_members", count(lit(1)).over(Window.partitionBy(col("canonical"))))
      .filter(col("rn") === 1 && col("n_members") > 1)
      .select(col("canonical"), col("id").as("survivor"), col("n_members"))
      .orderBy(col("canonical"))
  }

  def canonicalize(pairs: DataFrame, ids: DataFrame, maxIters: Int = 15,
      driverMaxEdges: Long = 1L << 22): DataFrame = {
    val pairsLong = pairs.select(col("id_a").cast("long"), col("id_b").cast("long"))
    // decide driver-vs-distributed in ONE pass over the (often expensive)
    // pairs plan: collect at most cap+1 edges; overflow → distributed path
    val cap = math.min(driverMaxEdges, (Int.MaxValue - 2).toLong).toInt
    val edgeRows = pairsLong.limit(cap + 1).collect()
    log.info(s"canonicalize: ${edgeRows.length} edge(s) sniffed against driver cap $cap — " +
      s"taking the ${componentsStrategy(edgeRows.length.toLong, cap.toLong)} path")
    if (edgeRows.length <= cap) {
      val canon = unionFindMinLabels(edgeRows.iterator.map(r => (r.getLong(0), r.getLong(1))))
      val spark = pairs.sparkSession
      import spark.implicits._
      val labels = broadcast(canon.toSeq.toDF("id", "canonical"))
      return ids.select(col("id"))
        .join(labels, Seq("id"), "left")
        .select(col("id"), coalesce(col("canonical"), col("id")).as("canonical"))
        .orderBy(col("id"))
    }
    val (labels, last) = largeSmallStarComponents(pairsLong, maxIters)
    // singletons map to themselves; the converged cluster labels are tiny
    // relative to the universe, so this join broadcasts under AQE
    val full = ids.select(col("id"))
      .join(labels, Seq("id"), "left")
      .select(col("id"), coalesce(col("canonical"), col("id")).as("canonical"))
    materializeAndRelease(full.orderBy(col("id")), last)
  }

  /** Distributed connected components by alternating large-star /
    * small-star rounds — the published two-phase MapReduce formulation.
    * Each round is two join+min-aggregate passes over the EDGE set only
    * (never the corpus universe), and the edge set monotonically collapses
    * toward a forest of stars centered at each component's minimum id, in
    * a number of rounds that grows with log of the component size — unlike
    * min-label propagation, whose sweep count is the component DIAMETER
    * (a 100 TB near-dup graph with one long chain runs forever under
    * propagation, log-rounds here).
    *
    * Every round `localCheckpoint`s its edge set: iterative DataFrame
    * lineage otherwise compounds (plan doubles per round) and re-executes
    * on the convergence comparison. The previous round's blocks are
    * released as soon as the next is materialized.
    *
    * @return (labels (id, canonical) for every edge-touched node, the
    *   final checkpointed frame for the caller to unpersist) — wrapped so
    *   callers control cache lifecycle
    * @throws IllegalStateException past `maxRounds` (labels would be
    *   silently wrong otherwise)
    */
  private[ops] def largeSmallStarComponents(
      pairs: DataFrame, maxRounds: Int): (DataFrame, DataFrame) = {
    val (stars, _) = largeSmallStarRounds(pairs, maxRounds)
    // at convergence every non-minimum node carries exactly one edge to
    // its component minimum; centers label themselves
    val labels = stars.select(col("a").as("id"), col("b").as("canonical"))
      .union(stars.select(col("b").as("id"), col("b").as("canonical")).distinct())
      .groupBy(col("id")).agg(min(col("canonical")).as("canonical"))
    (labels, stars)
  }

  /** The round loop of [[largeSmallStarComponents]], exposed for tests to
    * assert the round count. Returns (converged star edges `(a, b)` with
    * `a > b`, rounds taken).
    */
  private[ops] def largeSmallStarRounds(
      pairs: DataFrame, maxRounds: Int): (DataFrame, Int) = {
    var cur = pairs
      .filter(col("id_a") =!= col("id_b"))
      .select(
        greatest(col("id_a"), col("id_b")).as("a"),
        least(col("id_a"), col("id_b")).as("b"))
      .distinct()
      .localCheckpoint()
    var rounds = 0
    var converged = false
    while (!converged && rounds < maxRounds) {
      // large-star: every node u links its LARGER neighbors to the minimum
      // of its neighborhood (incl. itself) — min(m) <= u < v keeps a > b
      val sym = cur.select(col("a").as("u"), col("b").as("v"))
        .union(cur.select(col("b").as("u"), col("a").as("v")))
      // flat join, NOT collect_list adjacency: star centers have massive
      // degree and a per-group array would pin whole neighborhoods in one
      // aggregation buffer
      val lMins = sym.groupBy(col("u")).agg(least(min(col("v")), col("u")).as("m"))
      val large = sym.join(lMins, Seq("u"))
        .filter(col("v") > col("u"))
        .select(col("v").as("a"), col("m").as("b"))
        .distinct()
      // small-star: every node links its SMALLER neighbors and itself to
      // the minimum among them
      val sMins = large.groupBy(col("a")).agg(min(col("b")).as("m"))
      val next = large.join(sMins, Seq("a"))
        .filter(col("b") =!= col("m"))
        .select(col("b").as("a"), col("m").as("b"))
        .union(sMins.select(col("a"), col("m").as("b")))
        .distinct()
        .localCheckpoint()
      val moved = next.except(cur).union(cur.except(next)).limit(1).count() > 0
      cur.unpersist()
      cur = next
      converged = !moved
      rounds += 1
    }
    if (!converged) {
      cur.unpersist()
      throw new IllegalStateException(
        s"large-star/small-star did not converge in $maxRounds rounds; " +
          "raise maxIters (labels would be silently wrong otherwise)")
    }
    (cur, rounds)
  }

  /** Exact min-label connected components over an edge iterator: union-find
    * with path halving + union by smaller label root. Returns id →
    * component-minimum for every edge-touched node (callers map singletons
    * to themselves).
    */
  private[ops] def unionFindMinLabels(edges: Iterator[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x0: Long): Long = {
      var x = x0
      var p = parent.getOrElse(x, x)
      while (p != x) {
        val gp = parent.getOrElse(p, p)
        parent.update(x, gp) // path halving
        x = gp
        p = parent.getOrElse(x, x)
      }
      x
    }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a)
      parent.getOrElseUpdate(b, b)
      val ra = find(a)
      val rb = find(b)
      if (ra != rb) {
        // smaller label wins the root → root IS the component minimum
        if (ra < rb) parent.update(rb, ra) else parent.update(ra, rb)
      }
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  /** Number of signature bits for [[simhashPairs]] — 60 so the per-token
    * base hash is exactly 15 hex chars of md5 (cross-engine computable)
    * and the signature stays clear of the sign bit.
    */
  val SimhashBits = 60

  /** Block bit-offsets for [[simhashPairs]] candidate generation: 7 blocks
    * (widths 9,9,9,9,8,8,8) over 60 bits. By pigeonhole, two signatures
    * within Hamming distance 6 agree on at least one of the 7 blocks, so
    * block-collision candidate generation is COMPLETE for maxHamming ≤ 6 —
    * the result equals the all-pairs brute force (which is how the DuckDB
    * oracle verifies it).
    */
  private val SimhashBlockOffsets = Array(0, 9, 18, 27, 36, 44, 52)
  private val SimhashBlockEnds = Array(9, 18, 27, 36, 44, 52, 60)

  /** SimHash near-dup pairs: 60-bit signature, 7-block collision candidate
    * generation (complete for Hamming ≤ 6, see [[SimhashBlockOffsets]]),
    * exact Hamming verification.
    *
    * The per-token hash is the first 15 hex chars of md5 — deterministic
    * and engine-portable, so the whole operator is oracle-checkable. The
    * signature is built by [[graft.functions.SimHashAgg]] (one
    * array-buffered aggregate; 60 separate `sum` columns would trip
    * Spark's codegen field limit and de-codegen the stage).
    *
    * Scale: candidates are `Σ_blocks Σ_buckets |bucket|²` — block width
    * should grow with corpus size (≈ log2 n bits) to keep buckets small;
    * `bucketCap` bounds the degenerate hot bucket to a linear chain (see
    * [[cappedBucketCandidates]]).
    */
  def simhashPairs(
      docs: DataFrame, id: Column, text: Column, maxHamming: Int = 6,
      bucketCap: Int = DefaultBucketCap): DataFrame = {
    require(maxHamming <= SimhashBlockOffsets.length - 1,
      s"block candidate generation is complete only for maxHamming <= ${SimhashBlockOffsets.length - 1}")
    val toks = docs
      .select(id.as("id"), explode(tokens(text)).as("tok"))
      .groupBy(col("id"), col("tok")).agg(count(lit(1)).as("cnt"))
      .withColumn("base",
        conv(substring(md5(col("tok")), 1, 15), 16, 10).cast("long"))
    val sigs = toks.groupBy(col("id"))
      .agg(graft.functions.SimHashAgg(col("base"), col("cnt"), SimhashBits).as("sim"))

    val blocks = SimhashBlockOffsets.indices.map { k =>
      val width = SimhashBlockEnds(k) - SimhashBlockOffsets(k)
      struct(lit(k).as("blk"),
        shiftrightunsigned(col("sim"), SimhashBlockOffsets(k))
          .bitwiseAND(lit((1L << width) - 1)).as("bv"))
    }
    val banded = sigs
      .select(col("id"), col("sim"), explode(array(blocks: _*)).as("e"))
      .select(col("id"), col("sim"), col("e.blk").as("blk"), col("e.bv").as("bv"))

    cappedBucketCandidates(banded, Seq("blk", "bv"), bucketCap, payload = Seq("sim"),
      orderCols = Seq("sim"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("sim_a").bitwiseXOR(col("sim_b"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Maximal duplicated token SPANS — the exact-substring complement to the
    * whole-document pair operators (the dedup move of Lee et al.,
    * "Deduplicating Training Data Makes Language Models Better": training
    * corpora carry verbatim repeated PASSAGES inside otherwise-distinct
    * documents, which document-level Jaccard never flags). A token
    * position is "duplicated" when the length-`l` window starting there
    * occurs ≥ 2 times in the corpus — across documents OR within one (a
    * self-plagiarizing document is duplication too); runs of duplicated
    * positions then merge into maximal spans `[span_start,
    * span_start + span_len)` in token coordinates, ready for a
    * cut-the-span rewrite pass.
    *
    * This is deliberately NOT a suffix-array build (the single-node
    * construction in the paper): the fixed-width rolling window turns the
    * problem into one corpus-sized inverted-index pass — every duplicated
    * substring of length ≥ l is covered by duplicated windows, and the
    * island merge recovers its maximal extent. What a window pass cannot
    * see is duplication SHORTER than l: choose l as the shortest span
    * worth cutting (the paper uses 50 BPE tokens; 8 words here, sized to
    * the test corpus' sentence-scale near-dups).
    *
    * Scale (the reason this shape wins at 100 TB): the window relation is
    * one row per token — linear; the occurrence count is a map-side-
    * combined aggregate; flagging is a LINEAR semi-join of occurrences
    * against the `count ≥ 2` gram set (never a gram-keyed pair join, so a
    * boilerplate window shared by a million documents costs a million
    * rows, not 10^12); the island merge is a per-document window function
    * bounded by document length. Exact integers end-to-end.
    */
  def duplicatedSpans(docs: DataFrame, id: Column, text: Column, l: Int = 8): DataFrame = {
    val win = windowOccurrences(docs, id, text, l)
    val dup = win.groupBy(col("g")).agg(count(lit(1)).as("occ"))
      .filter(col("occ") >= 2).select(col("g"))
    maximalSpans(win.join(dup, Seq("g")), l)
  }

  /** (id, pos, g) — every length-`l` token window of every document, one
    * row per start position. The corpus-sized relation both span
    * operators flag against.
    */
  private[graft] def windowOccurrences(
      docs: DataFrame, id: Column, text: Column, l: Int): DataFrame =
    docs
      .select(id.as("id"), tokens(text).as("t"))
      .filter(size(col("t")) >= l)
      .select(col("id"), posexplode(transform(
        sequence(lit(0), size(col("t")) - l),
        i => array_join(slice(col("t"), i + 1, lit(l)), " "))))
      .select(col("id"), col("pos"), col("col").as("g"))

  /** Distinct window grams of a corpus — the relation an overlap/
    * contamination pipeline PRECOMPUTES for the trusted (train) side and
    * stores; probes join against it by gram.
    */
  def windowGrams(docs: DataFrame, id: Column, text: Column, l: Int = 8): DataFrame =
    windowOccurrences(docs, id, text, l).select(col("g")).distinct()

  /** Merge flagged (id, pos) window starts into maximal `[span_start,
    * span_start + span_len)` spans — consecutive starts are one island
    * (per-document window function, bounded by document length).
    */
  private def maximalSpans(flagged: DataFrame, l: Int): DataFrame = {
    val w = Window.partitionBy(col("id")).orderBy(col("pos"))
    flagged
      .select(col("id"), col("pos"))
      .withColumn("grp", col("pos") - row_number().over(w))
      .groupBy(col("id"), col("grp"))
      .agg(min(col("pos")).cast("long").as("span_start"),
        (max(col("pos")) - min(col("pos")) + l).cast("long").as("span_len"))
      .select(col("id"), col("span_start"), col("span_len"))
      .orderBy(col("id"), col("span_start"))
  }

  /** Maximal spans of `probe` documents that occur VERBATIM in a trusted
    * corpus (its [[windowGrams]] relation) — the span-granularity
    * train/test overlap audit of Lee et al.: document-level
    * decontamination misses a test answer quoted inside an otherwise
    * novel page; the window probe finds exactly the quoted extent. Each
    * probe doc's verdict depends only on itself and the stored gram set,
    * so the same call serves batch audits and per-micro-batch streaming
    * gates identically.
    *
    * Scale: linear semi-join of probe windows against the (bucketable,
    * pre-computed) gram relation — never a pair join; island merge is
    * per-document.
    */
  def overlapSpans(
      probe: DataFrame, id: Column, text: Column,
      corpusGrams: DataFrame, l: Int = 8): DataFrame =
    maximalSpans(
      windowOccurrences(probe, id, text, l)
        .join(corpusGrams.select(col("g")).distinct(), Seq("g"), "left_semi"), l)
}
