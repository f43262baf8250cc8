package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import Tables._

/** Relational graph analytics: PageRank as iterated join+aggregate — the
  * companion to [[TextDedup.canonicalize]]'s connected components.
  *
  * The whole power iteration runs in INTEGER arithmetic (ranks in
  * millionths of a unit, damping as `(85·x) DIV 100`, per-edge
  * contributions as `rank DIV outdeg`): every partial sum is an exact
  * long, so the result is bit-identical at any parallelism and the DuckDB
  * oracle replays the iterations as chained CTEs — the same discipline
  * that makes the IVF/PQ indexes hash-gated. Truncation loss (the
  * remainder of each DIV) stays in the damping constant's favor and is
  * identical in both engines.
  *
  * Scale: each iteration is one join of the edge list with the rank
  * vector (shuffle on src) plus one aggregation (shuffle on dst) — the
  * standard distributed PageRank shape. The edge list is iteration-
  * invariant: persist it once, and pre-partition edges and ranks on the
  * same key so the join exchange is reused each round. Results are
  * localCheckpointed per iteration to keep the plan from growing
  * exponentially.
  */
object Graph {

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Integer PageRank over a directed edge list `(src, dst)`, WITH
    * dangling-mass redistribution: each round the rank mass sitting on
    * sink nodes (no out-edges) is summed and re-enters uniformly —
    * `share = danglingSum DIV |V|` — instead of evaporating. Without the
    * term, iterated ranks on graphs with sinks decay toward the base and
    * under-rank everything upstream of a sink. On symmetric graphs (every
    * node has out-edges) the term is exactly zero and the recurrence
    * reduces to the classic one.
    *
    * `outdeg` is iteration-invariant, so it is fused into the edge relation
    * ONCE up front — each round is a single `edges ⨝ ranks` join (not
    * `edges ⨝ ranks ⨝ outdeg`) plus the one unavoidable shuffle of the
    * aggregation on dst. Both iteration-invariant relations are
    * hash-partitioned on their join key before checkpointing so the
    * per-round joins find both sides already distributed on the key and
    * add no exchange of their own. The dangling set and |V| are likewise
    * iteration-invariant (node-dimension-sized, computed once); the
    * per-round dangling sum stays in-plan as a broadcast 1-row relation —
    * every term an exact long, so the result is bit-identical at any
    * parallelism and the oracle replays it as chained CTEs.
    */
  def pageRankInt(edges: DataFrame, iters: Int, scale: Long = 1000000L): DataFrame = {
    val e = edges.select(col("src"), col("dst"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val outdeg = e.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    // eager localCheckpoint: materializes the fused relation, truncates
    // lineage, and preserves its hash partitioning for every later join —
    // the e ⨝ outdeg join already distributes on src (no explicit
    // repartition needed), and distinct leaves vertices distributed on v
    val eo = e.join(outdeg, "src").localCheckpoint()
    val vertices = e.select(col("src").as("v"))
      .union(e.select(col("dst").as("v"))).distinct()
      .localCheckpoint()
    // sinks: vertices with no out-edges (absent from outdeg's key set)
    val dangling = vertices
      .join(outdeg.select(col("src")), vertices("v") === col("src"), "left_anti")
      .localCheckpoint()
    // |V| is a control-plane scalar (one long) baked into the per-round
    // integer division below — not data-plane collection
    val nV = vertices.count()
    // Control-plane probe (one limit-1 job on the node-sized checkpoint):
    // on a graph with no sinks the dangling share is STRUCTURALLY zero
    // every round, so the branch — and the per-round checkpoint its
    // second rank reference forces — is skipped and the classic
    // single-reference recurrence runs unchanged. The oracle always
    // replays the full term (it evaluates to zero on such graphs).
    val hasDangling = !dangling.isEmpty
    e.unpersist()
    val base = (15L * scale) / 100L

    var ranks = vertices.withColumn("rank", lit(scale))
    for (i <- 1 to iters) {
      val contribs = eo
        .join(ranks, eo("src") === ranks("v"))
        .select(col("dst"), expr("rank DIV outdeg").as("c"))
        .groupBy(col("dst"))
        .agg(sum(col("c")).as("in_mass"))
      val withMass = vertices
        .join(contribs, vertices("v") === contribs("dst"), "left")
      ranks =
        if (hasDangling) {
          // per-round dangling mass as a broadcast 1-row relation: exact
          // long sum, one integer division — truncation mirrored in the
          // oracle
          val share = ranks.join(dangling, Seq("v"), "left_semi")
            .agg(expr(s"coalesce(sum(rank), CAST(0 AS BIGINT)) DIV $nV").as("dshare"))
          withMass.crossJoin(broadcast(share))
            .select(col("v"),
              (lit(base) + expr("(85 * (coalesce(in_mass, 0L) + dshare)) DIV 100")).as("rank"))
        } else withMass
          .select(col("v"),
            (lit(base) + expr("(85 * coalesce(in_mass, 0L)) DIV 100")).as("rank"))
      // the dangling branch references ranks TWICE next round
      // (contribution join + dangling sum): checkpoint each round so both
      // branches re-read a node-sized materialization instead of doubling
      // the join chain per round. The single-reference sink-free path
      // only cuts lineage before a 4-round chain compounds.
      val cut = if (hasDangling) i < iters else i % 4 == 0 && i < iters
      if (cut) ranks = ranks.localCheckpoint()
    }
    ranks
  }

  /** Default per-order basket cap for the co-order edge builders: the
    * pair fan-out is quadratic in basket size, so one pathological
    * 10⁶-item basket would emit 5·10¹¹ pairs on open-ended data. Capping
    * each order to its `maxBasket` smallest part ids (deterministic —
    * the set is sorted first) bounds per-order work at C(cap, 2) — the
    * same hot-bucket discipline as the LSH bucket cap. TPC-H baskets
    * hold ≤ 7 distinct parts, so the default never binds on this data
    * and every oracle mirrors the cap term-for-term.
    */
  val defaultMaxBasket = 256

  /** Oracle mirror of the basket cap: distinct (order, part) rows ranked
    * by part id within each order, kept while `rn <= cap` — exactly the
    * sorted-set prefix [[orientedCoOrderEdges]] keeps.
    */
  private def liCappedSql(cap: Int): String =
    s"""li AS (
       |  SELECT ok, l_partkey FROM (
       |    SELECT ok, l_partkey,
       |      row_number() OVER (PARTITION BY ok ORDER BY l_partkey) AS rn
       |    FROM (SELECT DISTINCT l_orderkey AS ok, l_partkey FROM lineitem) d
       |  ) r WHERE rn <= $cap
       |)""".stripMargin

  /** Canonically oriented (`src < dst`) co-order part edges. Built by
    * collecting each order's part set and exploding its upper-triangle
    * pairs MAP-SIDE — one shuffle of the lineitem rows (groupBy order)
    * plus one distinct over the oriented pairs. The equivalent self-join
    * shuffles both join sides AND runs distinct over twice as many
    * directed rows: measured 2.1 s vs 3.5 s warm at sf0.1. Each order's
    * sorted part set is capped at its `maxBasket` smallest ids before the
    * pair explode (see [[defaultMaxBasket]]) so one huge basket can't go
    * quadratic; GraphSpec plants a 1000-item order and pins the C(cap, 2)
    * bound.
    */
  def orientedCoOrderEdges(spark: SparkSession, dir: String,
      maxBasket: Int = defaultMaxBasket): DataFrame =
    table(spark, dir, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey"))
      .groupBy(col("ok"))
      .agg(slice(sort_array(collect_set(col("l_partkey"))), 1, maxBasket).as("ps"))
      .select(explode(flatten(transform(col("ps"), (x, i) =>
        transform(slice(col("ps"), i + 2, size(col("ps"))),
          y => struct(x.as("src"), y.as("dst")))))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .distinct()

  /** Co-order part graph: directed edge for every ordered pair of distinct
    * parts appearing in the same order (weightless; both directions
    * present by construction — the oriented relation plus its swap, a
    * map-side union with no second distinct).
    */
  def coOrderEdges(spark: SparkSession, dir: String,
      maxBasket: Int = defaultMaxBasket): DataFrame = {
    val o = orientedCoOrderEdges(spark, dir, maxBasket)
    o.union(o.select(col("dst").as("src"), col("src").as("dst")))
  }

  /** [[orientedCoOrderEdges]] at the default basket cap, stored once per
    * (corpus, session) as the `co-order-edges` artifact: the graph queries
    * re-read a 2-column long parquet instead of re-running the basket
    * explode (StoredArtifactParitySpec pins stored == inline).
    */
  private[ops] def coOrderOriented(spark: SparkSession, dir: String): DataFrame =
    Artifacts.stored(spark, "co-order-edges", dir)(orientedCoOrderEdges(spark, dir))

  /** [[coOrderEdges]] served from [[coOrderOriented]] — the registered
    * queries' path.
    */
  private def coOrderEdgesStored(spark: SparkSession, dir: String): DataFrame = {
    val o = coOrderOriented(spark, dir)
    o.union(o.select(col("dst").as("src"), col("src").as("dst")))
  }

  /** Top-20 parts by 3-iteration integer PageRank over the co-order
    * graph — "most central catalog items".
    */
  def qPageRank(spark: SparkSession, dir: String): DataFrame =
    pageRankInt(coOrderEdgesStored(spark, dir), iters = 3)
      .select(col("v").as("part"), col("rank"))
      .orderBy(col("rank").desc, col("part"))
      .limit(20)

  val qPageRankSql: String = {
    // each round mirrors pageRankInt exactly: the dangling share is the
    // previous round's rank sum over sinks, integer-divided by |V| (zero
    // on this symmetric graph — the term is replayed, not assumed away)
    def iteration(i: Int): String =
      s"""r$i AS (
         |  SELECT v.v,
         |    150000 + (85 * (coalesce(s.in_mass, 0) + d.share)) // 100 AS rank
         |  FROM verts v
         |  CROSS JOIN (
         |    SELECT coalesce(sum(r.rank), 0) // (SELECT count(*) FROM verts) AS share
         |    FROM r${i - 1} r LEFT JOIN outdeg o ON o.src = r.v
         |    WHERE o.src IS NULL) d
         |  LEFT JOIN (
         |    SELECT e.dst, sum(r.rank // o.outdeg) AS in_mass
         |    FROM edges e
         |    JOIN r${i - 1} r ON r.v = e.src
         |    JOIN outdeg o ON o.src = e.src
         |    GROUP BY e.dst) s ON s.dst = v.v
         |)""".stripMargin
    s"""WITH ${liCappedSql(defaultMaxBasket)},
       |edges AS (
       |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
       |  FROM li a JOIN li b ON a.ok = b.ok AND a.l_partkey <> b.l_partkey
       |), outdeg AS (
       |  SELECT src, count(*) AS outdeg FROM edges GROUP BY src
       |), verts AS (
       |  SELECT src AS v FROM edges UNION SELECT dst FROM edges
       |), r0 AS (
       |  SELECT v, CAST(1000000 AS BIGINT) AS rank FROM verts
       |), ${(1 to 3).map(iteration).mkString(", ")}
       |SELECT v AS part, CAST(rank AS BIGINT) AS rank FROM r3
       |ORDER BY rank DESC, part LIMIT 20""".stripMargin
  }

  /** Re-orients a canonically (`src < dst`) oriented undirected edge list
    * by the (degree, id) total order — compact-forward: every edge points
    * from its lower-(degree, id) endpoint to the higher one. Per-node
    * triangle counts are ORIENTATION-INVARIANT (each triangle is
    * enumerated exactly once under any acyclic total-order orientation),
    * but the wedge stream [[triangleCounts]] materializes is
    * Σ indeg·outdeg over the middle corner: under id-orientation one hub
    * whose id falls mid-range among its neighbors contributes ~deg²/4
    * wedges, while degree-orientation centers every wedge at its
    * lowest-degree corner, bounding the stream by O(m^1.5) on ANY graph —
    * the bound that survives power-law degree distributions at 100 TB.
    * GraphSpec pins the wedge-count drop on a hub fixture and the count
    * invariance between orientations.
    *
    * The degree relation is node-dimension-sized (two longs per node,
    * strictly smaller than the edge list) so both attach joins broadcast
    * it — the same sizing argument as [[triangleCounts]]'s edge
    * broadcast; on graphs whose NODE dimension outgrows executor memory,
    * drop the hint and the attach joins degrade to edge-linear shuffles
    * (never wedge-sized).
    */
  def degreeOrient(oriented: DataFrame): DataFrame = {
    // two consumers (degree aggregate + re-orient join): cache so the
    // input plan runs once; released by the harness unpersist-all
    val e = oriented.select(col("src"), col("dst"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val deg = e.select(explode(array(col("src"), col("dst"))).as("v"))
      .groupBy(col("v")).agg(count(lit(1)).as("deg"))
    val fwd = col("sdeg") < col("ddeg") ||
      (col("sdeg") === col("ddeg") && col("src") < col("dst"))
    e.join(broadcast(deg.toDF("src", "sdeg")), "src")
      .join(broadcast(deg.toDF("dst", "ddeg")), "dst")
      .select(when(fwd, col("src")).otherwise(col("dst")).as("src"),
        when(fwd, col("dst")).otherwise(col("src")).as("dst"))
  }

  /** Per-node triangle counts over an UNDIRECTED edge list given in ANY
    * acyclic total-order orientation (canonical `u < v`, or
    * [[degreeOrient]]'s (degree, id) order for power-law graphs):
    * enumerate wedges `(a,b),(b,c)` by joining the oriented list with
    * itself, close each wedge against the oriented list on `(a,c)`, then
    * credit every triangle to all three corners.
    *
    * Scale: the wedge stream is Σ indeg·outdeg over the middle corner —
    * pass [[degreeOrient]]ed edges to keep that O(m^1.5) on skewed
    * graphs. Both wedge join and closing join are plain equi-joins
    * (shuffle on b, then on (a, c)) under the broadcast cap; nothing is
    * ever collected to the driver.
    */
  /** Edge-count ceiling for broadcasting the edge list in
    * [[triangleCounts]] (2 longs/edge ≈ a few hundred MB at the cap —
    * comfortably under executor memory; the wedge stream it saves from
    * the exchange is ~Σdeg² rows, orders of magnitude larger).
    */
  val broadcastEdgeCap = 20L * 1000 * 1000

  /** The [[triangleCounts]] probe-side decision, factored out pure so
    * specs can pin it: within the cap the edge list broadcasts to both
    * joins ("broadcast"); past it the joins shuffle ("shuffle").
    */
  def triangleStrategy(nEdges: Long, broadcastCap: Long): String =
    if (nEdges <= broadcastCap) "broadcast" else "shuffle"

  def triangleCounts(oriented: DataFrame, broadcastCap: Long = broadcastEdgeCap): DataFrame = {
    val e = oriented.select(col("src"), col("dst"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Control-plane sizing decision (also materializes the cache): when
    // the edge list fits, broadcast it to BOTH joins — the ~Σdeg²-row
    // wedge stream then flows map-side from generation through the
    // closing probe into the partial aggregate with NO exchange (the only
    // shuffle left is one row per node). Past the cap this silently
    // becomes plain shuffle joins — correct at any scale, just not free.
    val nEdges = e.count()
    val strategy = triangleStrategy(nEdges, broadcastCap)
    // Past the cap the joins fall back to SHUFFLED HASH, not sort-merge:
    // the closing join's stream side is the ~Σdeg²-row wedge relation, and
    // an SMJ would SORT it — measured at the r12 sf10 probe (119.6M edges,
    // 4.1B wedges) as a spill that exceeded local disk outright. A hash
    // build on the edge side (the provably smaller relation) lets the
    // wedge stream flow through both the exchange and the probe unsorted —
    // one compressed shuffle write is the only disk the stream ever takes.
    val probe = if (strategy == "broadcast") broadcast(e) else e.hint("shuffle_hash")
    if (strategy == "shuffle")
      log.info(s"triangleCounts: $nEdges edges > broadcast cap $broadcastCap — " +
        "falling back to shuffled-hash joins for the wedge and closing joins")
    val tri = e.toDF("a", "b")
      .join(probe.toDF("b", "c"), "b")
      .join(probe.toDF("a", "c"), Seq("a", "c"), "left_semi")
    // Returned LIVE (no checkpoint): the caller gets an inspectable,
    // composable plan — PlanShapeSpec certifies the broadcast strategy on
    // it — and pays the computation once at its own sink instead of
    // eagerly at construction. The edge cache is released by the harness
    // unpersist-all after materialization (Bench/Verify between queries;
    // CacheHygieneSpec pins the contract via Caches.releaseAll).
    tri
      .select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy(col("node"))
      .agg(count(lit(1)).as("n_triangles"))
  }

  /** Top-20 parts by triangle participation in the co-order graph —
    * "parts whose co-purchase neighborhoods are most tightly knit".
    */
  def qTriangles(spark: SparkSession, dir: String): DataFrame =
    triangleCounts(degreeOrient(coOrderOriented(spark, dir)))
      .select(col("node").as("part"), col("n_triangles"))
      .orderBy(col("n_triangles").desc, col("part"))
      .limit(20)

  val qTrianglesSql: String =
    s"""WITH ${liCappedSql(defaultMaxBasket)},
      |e0 AS (
      |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      |  FROM li a JOIN li b ON a.ok = b.ok AND a.l_partkey < b.l_partkey
      |), deg AS (
      |  SELECT v, count(*) AS deg FROM (
      |    SELECT src AS v FROM e0 UNION ALL SELECT dst AS v FROM e0) u
      |  GROUP BY 1
      |), e AS (
      |  SELECT CASE WHEN ds.deg < dd.deg OR (ds.deg = dd.deg AND e0.src < e0.dst)
      |              THEN e0.src ELSE e0.dst END AS src,
      |         CASE WHEN ds.deg < dd.deg OR (ds.deg = dd.deg AND e0.src < e0.dst)
      |              THEN e0.dst ELSE e0.src END AS dst
      |  FROM e0 JOIN deg ds ON ds.v = e0.src JOIN deg dd ON dd.v = e0.dst
      |), tri AS (
      |  SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
      |  FROM e e1 JOIN e e2 ON e2.src = e1.dst
      |  JOIN e e3 ON e3.src = e1.src AND e3.dst = e2.dst
      |), corners AS (
      |  SELECT a AS node FROM tri
      |  UNION ALL SELECT b FROM tri
      |  UNION ALL SELECT c FROM tri
      |)
      |SELECT node AS part, count(*) AS n_triangles
      |FROM corners
      |GROUP BY 1
      |ORDER BY n_triangles DESC, part LIMIT 20""".stripMargin

  /** Association-rule mining (market basket) over co-order pairs: the
    * top-20 part→part rules by pair support, with confidence
    * `P(dst|src)` and lift `P(src,dst)/(P(src)·P(dst))`.
    *
    * Determinism: supports are exact longs; confidence and lift are each
    * ONE division of exact-long products (`n_pair·N` and `n_src·n_dst`
    * both far below 2^53), rounded to 6 dp — the [[RelationalExt]]
    * growth-rate discipline, so both engines round the same double.
    *
    * Scale: the pair aggregate is the one big shuffle (map-side partial
    * on (src,dst)); per-item supports are item-dimension-sized and the
    * order count is a 1-row broadcast. A k-item basket emits k² pairs, so
    * each order's sorted part set is capped at `maxBasket` before the
    * explode (see [[defaultMaxBasket]]; item supports and the order count
    * stay uncapped) — the same hot-bucket discipline as the LSH cap,
    * mirrored in the oracle.
    */
  /** Basket cap for the TRIPLE explode — far tighter than the pair cap:
    * a basket contributes C(m,3) triples, so 8 bounds the per-order
    * fan-out at 56 (the pair cap of 256 would allow 2.8M).
    */
  val TripleMaxBasket = 8
  val TripleMinSupport = 2

  /** APRIORI LEVEL-3: frequent part TRIPLES by co-order support — the
    * next frequent-itemset level above [[qBasketRules]]' pairs. The
    * level-wise Apriori prune: items below [[TripleMinSupport]] global
    * support are dropped BEFORE baskets build (an infrequent item cannot
    * be in a frequent triple), then each order's sorted, capped part set
    * explodes its ordered triples map-side (one shuffle, the pair-code
    * shape one level up) and the count filter keeps support ≥ minSup.
    *
    * Scale: the level-1 prune is what makes Apriori run at 100 TB — the
    * basket relation shrinks to frequent items before any fan-out, and
    * the per-order triple fan-out is C(cap, 3) = 56, constant. A skewed
    * hot triple is just a groupBy key — map-side combined.
    */
  def qBasketTriples(spark: SparkSession, dir: String): DataFrame = {
    val li = table(spark, dir, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("p"))
      .distinct()
    val freq = li.groupBy(col("p")).agg(count(lit(1)).as("n_p"))
      .filter(col("n_p") >= TripleMinSupport).select(col("p"))
    val baskets = li.join(freq, "p")
      .groupBy(col("ok"))
      .agg(slice(sort_array(collect_set(col("p"))), 1, TripleMaxBasket).as("ps"))
    baskets
      .select(explode(flatten(flatten(transform(col("ps"), (x, i) =>
        transform(slice(col("ps"), i + 2, size(col("ps"))), (y, j) =>
          transform(slice(col("ps"), i + j + lit(3), size(col("ps"))),
            z => struct(x.as("a"), y.as("b"), z.as("c")))))))).as("t"))
      .groupBy(col("t.a").as("p_a"), col("t.b").as("p_b"), col("t.c").as("p_c"))
      .agg(count(lit(1)).as("n_orders"))
      .filter(col("n_orders") >= TripleMinSupport)
      .orderBy(col("n_orders").desc, col("p_a"), col("p_b"), col("p_c"))
  }

  val qBasketTriplesSql: String =
    s"""WITH li AS (
       |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem
       |), freq AS (
       |  SELECT p FROM li GROUP BY 1 HAVING count(*) >= $TripleMinSupport
       |), b AS (
       |  SELECT ok, list_sort(list(p))[1:$TripleMaxBasket] AS ps
       |  FROM li JOIN freq USING (p) GROUP BY ok
       |), t AS (
       |  SELECT ok, unnest(ps) AS x FROM b
       |)
       |SELECT a.x AS p_a, b2.x AS p_b, c.x AS p_c,
       |  CAST(count(*) AS BIGINT) AS n_orders
       |FROM t a
       |JOIN t b2 ON a.ok = b2.ok AND a.x < b2.x
       |JOIN t c ON b2.ok = c.ok AND b2.x < c.x
       |GROUP BY 1, 2, 3 HAVING count(*) >= $TripleMinSupport
       |ORDER BY n_orders DESC, p_a, p_b, p_c""".stripMargin

  def qBasketRules(spark: SparkSession, dir: String,
      maxBasket: Int = defaultMaxBasket): DataFrame = {
    val li = table(spark, dir, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("p"))
      .distinct()
    val nOrders = li.agg(countDistinct(col("ok")).as("n"))
    val itemN = li.groupBy(col("p")).agg(count(lit(1)).as("n_p"))
    // pair supports are symmetric: count the upper-triangle pairs (map-
    // side explode of each order's capped part set, one shuffle) and mirror
    val half = li.groupBy(col("ok"))
      .agg(slice(sort_array(collect_set(col("p"))), 1, maxBasket).as("ps"))
      .select(explode(flatten(transform(col("ps"), (x, i) =>
        transform(slice(col("ps"), i + 2, size(col("ps"))),
          y => struct(x.as("src"), y.as("dst")))))).as("e"))
      .groupBy(col("e.src").as("src"), col("e.dst").as("dst"))
      .agg(count(lit(1)).as("n_pair"))
    val pairN = half.union(
      half.select(col("dst").as("src"), col("src").as("dst"), col("n_pair")))
    // The rule ordering depends on pair support alone, so take the top-20
    // FIRST (TakeOrderedAndProject — no full sort) and join the support
    // relations against 20 rows instead of every pair.
    pairN
      .orderBy(col("n_pair").desc, col("src"), col("dst"))
      .limit(20)
      .join(itemN.toDF("src", "n_src"), "src")
      .join(itemN.toDF("dst", "n_dst"), "dst")
      .crossJoin(broadcast(nOrders))
      .select(col("src"), col("dst"), col("n_pair"),
        round(col("n_pair").cast("double") / col("n_src").cast("double"), 6)
          .as("confidence"),
        round((col("n_pair") * col("n")).cast("double")
          / (col("n_src") * col("n_dst")).cast("double"), 6).as("lift"))
      .orderBy(col("n_pair").desc, col("src"), col("dst"))
  }

  val qBasketRulesSql: String =
    s"""WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem),
      |lic AS (
      |  SELECT ok, p FROM (
      |    SELECT ok, p, row_number() OVER (PARTITION BY ok ORDER BY p) AS rn
      |    FROM li) r WHERE rn <= $defaultMaxBasket
      |),
      |n_orders AS (SELECT count(DISTINCT ok) AS n FROM li),
      |item_n AS (SELECT p, count(*) AS n_p FROM li GROUP BY 1),
      |pair_n AS (
      |  SELECT a.p AS src, b.p AS dst, count(*) AS n_pair
      |  FROM lic a JOIN lic b ON a.ok = b.ok AND a.p <> b.p
      |  GROUP BY 1, 2
      |)
      |SELECT src, dst, n_pair,
      |  round(CAST(n_pair AS DOUBLE) / CAST(s.n_p AS DOUBLE), 6) AS confidence,
      |  round(CAST(n_pair * n.n AS DOUBLE) / CAST(s.n_p * d.n_p AS DOUBLE), 6) AS lift
      |FROM pair_n
      |JOIN item_n s ON s.p = src
      |JOIN item_n d ON d.p = dst
      |CROSS JOIN n_orders n
      |ORDER BY n_pair DESC, src, dst LIMIT 20""".stripMargin

  /** k-core peeling profile: iteratively remove nodes of degree < k and
    * report `(round, n_nodes, n_edges)` after each peel — the standard
    * graph-densification diagnostic (how much of the graph survives at
    * coreness k). `k` is derived from the input itself (¾ of the average
    * degree, exact integer arithmetic) so the query is scale-free.
    *
    * Each round is one degree aggregate plus two semi-joins against the
    * (shrinking) alive set, localCheckpointed so the plan doesn't stack
    * across rounds — the same iterative-relational shape as
    * [[pageRankInt]], but with a monotonically SHRINKING edge relation
    * (peeling only deletes). The per-round scalars collected to the
    * driver are control-plane (2 longs/round), not data-plane.
    */
  def kCoreProfile(edges: DataFrame, rounds: Int): DataFrame = {
    val spark = edges.sparkSession
    var e = edges.select(col("src"), col("dst")).localCheckpoint()
    // ONE degree aggregate per round serves both the peel filter and the
    // profile stats (the node-count/edge-sum of a degree relation ARE the
    // round's stats) — no separate stats pass over the edge list.
    def degrees(df: DataFrame): DataFrame =
      df.groupBy(col("src")).agg(count(lit(1)).as("deg"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def stats(deg: DataFrame): (Long, Long) = {
      val r = deg.agg(count(lit(1)).as("v"),
        coalesce(sum(col("deg")), lit(0L)).as("n")).head()
      (r.getLong(0), r.getLong(1))
    }
    var deg = degrees(e)
    val (v0, n0) = stats(deg)
    val k = (n0 / v0) * 3 / 4
    val profile = scala.collection.mutable.ArrayBuffer((0, v0, n0))
    for (r <- 1 to rounds) {
      val alive = deg.filter(col("deg") >= k).select(col("src"))
      e = e.join(alive.toDF("src"), Seq("src"), "left_semi")
        .join(alive.toDF("dst"), Seq("dst"), "left_semi")
        .select(col("src"), col("dst"))
        .localCheckpoint()
      deg.unpersist(blocking = false)
      deg = degrees(e)
      val (v, n) = stats(deg)
      profile += ((r, v, n))
    }
    deg.unpersist(blocking = false)
    import spark.implicits._
    profile.toSeq.toDF("round", "n_nodes", "n_edges")
      .select(col("round"), col("n_nodes"), col("n_edges"))
      .orderBy(col("round"))
  }

  /** 3-round peeling profile of the co-order part graph. */
  def qKCore(spark: SparkSession, dir: String): DataFrame =
    kCoreProfile(coOrderEdgesStored(spark, dir), rounds = 3)

  val qKCoreSql: String = {
    def round(i: Int): String =
      s"""d$i AS (SELECT src, count(*) AS deg FROM e${i - 1} GROUP BY 1),
         |a$i AS (SELECT src FROM d$i, kv WHERE deg >= k),
         |e$i AS (SELECT e.src, e.dst FROM e${i - 1} e
         |  JOIN a$i s ON s.src = e.src JOIN a$i t ON t.src = e.dst)""".stripMargin
    s"""WITH ${liCappedSql(defaultMaxBasket)},
       |e0 AS (
       |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
       |  FROM li a JOIN li b ON a.ok = b.ok AND a.l_partkey <> b.l_partkey
       |), kv AS (
       |  SELECT (count(*) // count(DISTINCT src)) * 3 // 4 AS k FROM e0
       |), ${(1 to 3).map(round).mkString(", ")}
       |SELECT 0 AS round, count(DISTINCT src) AS n_nodes, count(*) AS n_edges FROM e0
       |UNION ALL SELECT 1, count(DISTINCT src), count(*) FROM e1
       |UNION ALL SELECT 2, count(DISTINCT src), count(*) FROM e2
       |UNION ALL SELECT 3, count(DISTINCT src), count(*) FROM e3
       |ORDER BY round""".stripMargin
  }

  /** Synchronous label propagation: every node starts labeled with its
    * own id; each round it adopts the most frequent label among its
    * in-neighbors, ties broken by smallest label — fully deterministic
    * (asynchronous LPA is run-order-dependent; the sync + total-order
    * tie-break variant is reproducible at any parallelism, the same
    * discipline as [[pageRankInt]]).
    *
    * Each round is one join (labels into edges — the edge side is cached
    * PRE-PARTITIONED on src, so only the node-sized label relation
    * exchanges per round), one count aggregate on (dst,label), and one
    * per-node argmax as a second HASH aggregate: `max(struct(c, -label))`
    * picks the highest count then the smallest label — same result as
    * the row_number window it replaces, without the window's
    * per-partition SORT over the edge-sized (v,label,c) relation. That
    * sort was the r11 scale defect (q_label_prop sf1 14.55×, the suite's
    * worst ratio): at 10× data over a fixed partition count the sort
    * runs spill passes that grow super-linearly, while a hash argmax
    * stays one linear probe — and it partially combines map-side, which
    * the sort never did. Labels localCheckpoint per round. Round count
    * is fixed — LPA oscillates on bipartite structures, so bounded
    * rounds is the standard production choice.
    */
  def labelPropagation(edges: DataFrame, rounds: Int): DataFrame = {
    val e = edges.select(col("src"), col("dst"))
      .repartition(col("src"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var labels = e.select(col("src").as("v")).distinct()
      .withColumn("label", col("v")).localCheckpoint()
    for (_ <- 1 to rounds) {
      labels = e.join(labels, e("src") === labels("v"))
        .groupBy(e("dst").as("v"), col("label"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("v"))
        .agg(max(struct(col("c"), (-col("label")).as("neg_label"))).as("m"))
        .select(col("v"), (-col("m.neg_label")).as("label"))
        .localCheckpoint()
    }
    // the final labels are already materialized by the eager checkpoint
    // above, so the edge cache can be dropped before returning
    e.unpersist(blocking = false)
    labels
  }

  /** Top-20 co-order communities by size after 2 LPA rounds. */
  def qLabelProp(spark: SparkSession, dir: String): DataFrame =
    labelPropagation(coOrderEdgesStored(spark, dir), rounds = 2)
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_members"))
      .orderBy(col("n_members").desc, col("label"))
      .limit(20)

  val qLabelPropSql: String = {
    def round(i: Int): String =
      s"""n$i AS (
         |  SELECT e.dst AS v, r.label, count(*) AS c
         |  FROM e JOIN r${i - 1} r ON r.v = e.src GROUP BY 1, 2
         |), r$i AS (
         |  SELECT v, label FROM (
         |    SELECT v, label,
         |      row_number() OVER (PARTITION BY v ORDER BY c DESC, label) AS rn
         |    FROM n$i) WHERE rn = 1
         |)""".stripMargin
    s"""WITH ${liCappedSql(defaultMaxBasket)},
       |e AS (
       |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
       |  FROM li a JOIN li b ON a.ok = b.ok AND a.l_partkey <> b.l_partkey
       |), r0 AS (SELECT DISTINCT src AS v, src AS label FROM e),
       |${(1 to 2).map(round).mkString(", ")}
       |SELECT label, count(*) AS n_members FROM r2
       |GROUP BY 1 ORDER BY n_members DESC, label LIMIT 20""".stripMargin
  }

  /** Personalized (seeded-restart) integer PageRank: the teleport mass
    * returns to ONE seed vertex each round instead of spreading uniformly
    * — `rank_{t+1}(v) = [v = seed]·(15·scale DIV 100) + (85·in_mass) DIV
    * 100` — so the stationary mass concentrates around the seed's
    * neighborhood ("parts related to part X", the recommendation dual of
    * [[pageRankInt]]'s global centrality). Same integer discipline: every
    * term an exact long, bit-identical at any parallelism, oracle replays
    * the rounds as chained CTEs.
    *
    * The seed (min vertex id, same convention as [[bfsDistances]]) rides
    * the checkpointed vertex relation as a broadcast-attached column, so
    * the per-round restart term is a map-side `when` — no extra join per
    * round. Sink mass is dropped (the co-order graph is symmetric, so the
    * term is structurally zero here; on sink-heavy graphs compose with
    * [[pageRankInt]]'s dangling machinery).
    */
  def personalizedPageRankInt(edges: DataFrame, iters: Int,
      scale: Long = 1000000L): DataFrame = {
    val e = edges.select(col("src"), col("dst"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val outdeg = e.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    val eo = e.join(outdeg, "src").localCheckpoint()
    val seed = e.agg(min(col("src")).as("sv"))
    val vertices = e.select(col("src").as("v"))
      .union(e.select(col("dst").as("v"))).distinct()
      .crossJoin(broadcast(seed)).localCheckpoint()
    e.unpersist(blocking = false)
    val base = (15L * scale) / 100L
    var ranks = vertices.select(col("v"), col("sv"),
      when(col("v") === col("sv"), lit(scale)).otherwise(lit(0L)).as("rank"))
    for (i <- 1 to iters) {
      val contribs = eo
        .join(ranks.select(col("v"), col("rank")), eo("src") === col("v"))
        .select(col("dst"), expr("rank DIV outdeg").as("c"))
        .groupBy(col("dst"))
        .agg(sum(col("c")).as("in_mass"))
      ranks = vertices
        .join(contribs, vertices("v") === contribs("dst"), "left")
        .select(vertices("v"), vertices("sv"),
          (when(vertices("v") === vertices("sv"), lit(base)).otherwise(lit(0L)) +
            expr("(85 * coalesce(in_mass, CAST(0 AS BIGINT))) DIV 100")).as("rank"))
      if (i % 4 == 0 && i < iters) ranks = ranks.localCheckpoint()
    }
    ranks.select(col("v"), col("rank"))
  }

  /** Top-20 parts by 3-round personalized PageRank from the smallest part
    * id — "catalog items most related to the seed part".
    */
  def qPersonalizedPr(spark: SparkSession, dir: String): DataFrame =
    personalizedPageRankInt(coOrderEdgesStored(spark, dir), iters = 3)
      .select(col("v").as("part"), col("rank"))
      .filter(col("rank") > 0)
      .orderBy(col("rank").desc, col("part"))
      .limit(20)

  val qPersonalizedPrSql: String = {
    def iteration(i: Int): String =
      s"""r$i AS (
         |  SELECT v.v,
         |    (CASE WHEN v.v = sd.sv THEN 150000 ELSE 0 END)
         |      + (85 * coalesce(s.in_mass, 0)) // 100 AS rank
         |  FROM verts v
         |  CROSS JOIN sd
         |  LEFT JOIN (
         |    SELECT e.dst, sum(r.rank // o.outdeg) AS in_mass
         |    FROM edges e
         |    JOIN r${i - 1} r ON r.v = e.src
         |    JOIN outdeg o ON o.src = e.src
         |    GROUP BY e.dst) s ON s.dst = v.v
         |)""".stripMargin
    s"""WITH ${liCappedSql(defaultMaxBasket)},
       |edges AS (
       |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
       |  FROM li a JOIN li b ON a.ok = b.ok AND a.l_partkey <> b.l_partkey
       |), outdeg AS (
       |  SELECT src, count(*) AS outdeg FROM edges GROUP BY src
       |), verts AS (
       |  SELECT src AS v FROM edges UNION SELECT dst FROM edges
       |), sd AS (SELECT min(src) AS sv FROM edges),
       |r0 AS (
       |  SELECT v, CASE WHEN v = sd.sv THEN CAST(1000000 AS BIGINT)
       |    ELSE CAST(0 AS BIGINT) END AS rank
       |  FROM verts CROSS JOIN sd
       |), ${(1 to 3).map(iteration).mkString(", ")}
       |SELECT v AS part, CAST(rank AS BIGINT) AS rank FROM r3
       |WHERE rank > 0
       |ORDER BY rank DESC, part LIMIT 20""".stripMargin
  }

  /** Frontier BFS from a seed node: per-round shortest hop distances up to
    * `rounds` hops. Classic Pregel-style expansion expressed relationally —
    * each round joins the edge list with ONLY the newly-discovered frontier
    * (not the whole distance relation), so per-round work is proportional
    * to the frontier's out-edges; the anti-join against the accumulated
    * distance relation is what keeps re-expansion out. Frontiers are
    * localCheckpointed (node-dimension-sized) and the distance relation is
    * a union of those materialized leaves — lineage depth stays at
    * `rounds`, never compounds.
    *
    * Determinism: hop distances are graph properties (no FP, no
    * tie-breaks); the oracle replays the same recurrence as chained
    * min-relaxation CTEs — after round k both formulations hold exactly
    * the nodes at shortest distance ≤ k.
    *
    * Scale: the standard distributed BFS — one equi-join (shuffle on src)
    * plus one distinct and one anti-join per round, all on frontier-sized
    * relations. On a 100 TB graph the edge relation is the only big side
    * and it is iteration-invariant: persist once, joined `rounds` times.
    */
  /** One BFS expansion round: frontier out-neighbors minus already-settled
    * nodes, at distance `k`. Exposed for the plan guard — the per-round
    * join must stay a frontier-sized EQUI join on src (the edge relation
    * is the persisted big side; the frontier is the small probe), with an
    * anti-join to stop re-expansion. A regression to a non-equi join here
    * multiplies by |E| per round at 100 TB.
    */
  private[ops] def bfsRound(
      e: DataFrame, frontier: DataFrame, dist: DataFrame, k: Long): DataFrame =
    e.join(frontier.select(col("v").as("src")), Seq("src"))
      .select(col("dst").as("v")).distinct()
      .join(dist, Seq("v"), "left_anti")
      .withColumn("d", lit(k))

  def bfsDistances(edges: DataFrame, rounds: Int): DataFrame = {
    val e = edges.select(col("src"), col("dst"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // seed = min vertex id, kept in-plan as a 1-row relation (control-plane
    // scalar; never collected)
    var frontier = e.agg(min(col("src")).as("v"))
      .withColumn("d", lit(0L)).localCheckpoint()
    var dist = frontier
    var k = 1
    var active = true
    while (k <= rounds && active) {
      frontier = bfsRound(e, frontier, dist, k.toLong).localCheckpoint()
      // early exit once the frontier empties (k exceeded the component's
      // eccentricity): a control-plane probe on the just-materialized
      // node-sized checkpoint — every later round would join the full
      // edge list against nothing. The oracle replays all rounds; empty
      // frontiers add no rows, so the results are identical.
      if (frontier.isEmpty) active = false
      else dist = dist.union(frontier)
      k += 1
    }
    e.unpersist(blocking = false)
    dist
  }

  /** MULTI-SOURCE frontier BFS: the [[bfsDistances]] expansion with the
    * frontier keyed by (seed, node) — all seeds advance in the SAME
    * per-round jobs, so k seeds cost one edge-join per round over the
    * union of their frontiers instead of k sequential BFS runs (the edge
    * relation is persisted once and reused across rounds AND seeds).
    */
  def multiBfsDistances(edges: DataFrame, seeds: Seq[Long], rounds: Int): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val e = edges.select(col("src"), col("dst"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var frontier = seeds.toDF("s")
      .select(col("s"), col("s").as("v"), lit(0L).as("d")).localCheckpoint()
    var dist = frontier
    var k = 1
    var active = true
    while (k <= rounds && active) {
      frontier = e.join(frontier.select(col("s"), col("v").as("src")), Seq("src"))
        .select(col("s"), col("dst").as("v")).distinct()
        .join(dist, Seq("s", "v"), "left_anti")
        .withColumn("d", lit(k.toLong))
        .localCheckpoint()
      if (frontier.isEmpty) active = false
      else dist = dist.union(frontier)
      k += 1
    }
    e.unpersist(blocking = false)
    dist
  }

  /** Seeds for [[qHarmonicCentrality]] — the four smallest part keys
    * (TPC-H part keys are 1-based at every scale factor).
    */
  val HarmonicSeeds: Seq[Long] = Seq(1L, 2L, 3L, 4L)
  val HarmonicRounds = 3

  /** k-HOP HARMONIC CENTRALITY of the seed parts over the co-order
    * graph: `H(s) = Σ_{0<d(s,v)≤k} 1/d(s,v)` in exact integer
    * micro-units (`10⁶ DIV d` — an order-free integer sum), the
    * distance-truncated variant large-graph libraries actually compute
    * (exact closeness needs all-pairs; k-hop harmonic needs one
    * multi-source BFS). Seeds sharing frontier jobs is the whole point:
    * centrality-of-a-cohort costs one BFS, not |cohort| of them.
    */
  def qHarmonicCentrality(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val reached = multiBfsDistances(
      coOrderEdgesStored(spark, dir), HarmonicSeeds, HarmonicRounds)
      .filter(col("d") > 0)
      .groupBy(col("s"))
      .agg(count(lit(1)).as("cnt"), sum(expr("1000000 DIV d")).as("h"))
    HarmonicSeeds.toDF("seed")
      .join(reached.withColumnRenamed("s", "seed"), Seq("seed"), "left")
      .select(col("seed"), coalesce(col("cnt"), lit(0L)).as("n_reached"),
        coalesce(col("h"), lit(0L)).as("harmonic_u"))
      .orderBy(col("seed"))
  }

  val qHarmonicCentralitySql: String = {
    def relax(i: Int): String =
      s"""d$i AS MATERIALIZED (
         |  SELECT s, v, min(d) AS d FROM (
         |    SELECT s, v, d FROM d${i - 1}
         |    UNION ALL
         |    SELECT r.s, e.dst AS v, r.d + 1 AS d
         |    FROM e JOIN d${i - 1} r ON r.v = e.src
         |  ) u GROUP BY 1, 2
         |)""".stripMargin
    s"""WITH ${liCappedSql(defaultMaxBasket)},
       |e AS (
       |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
       |  FROM li a JOIN li b ON a.ok = b.ok AND a.l_partkey <> b.l_partkey
       |), seeds AS (
       |  SELECT unnest([${HarmonicSeeds.mkString(", ")}]) AS s
       |), d0 AS (
       |  SELECT s, s AS v, CAST(0 AS BIGINT) AS d FROM seeds
       |), ${(1 to HarmonicRounds).map(relax).mkString(", ")}
       |SELECT seeds.s AS seed,
       |  CAST(coalesce(x.cnt, 0) AS BIGINT) AS n_reached,
       |  CAST(coalesce(x.h, 0) AS BIGINT) AS harmonic_u
       |FROM seeds LEFT JOIN (
       |  SELECT s, count(*) AS cnt, sum(1000000 // d) AS h
       |  FROM d$HarmonicRounds WHERE d > 0 GROUP BY 1) x ON x.s = seeds.s
       |ORDER BY seed""".stripMargin
  }

  /** Hop-distance profile of the co-order graph from its smallest part id:
    * nodes reached per BFS level within 4 hops — the reachability
    * diagnostic dual to [[kCoreProfile]]'s densification profile.
    */
  def qBfsDistance(spark: SparkSession, dir: String): DataFrame =
    bfsDistances(coOrderEdgesStored(spark, dir), rounds = 4)
      .groupBy(col("d").as("hop"))
      .agg(count(lit(1)).as("n_nodes"),
        min(col("v")).as("min_part"), max(col("v")).as("max_part"))
      .orderBy(col("hop"))

  val qBfsDistanceSql: String = {
    // min-relaxation replay: d_k(v) = min over paths of length <= k — the
    // same set BFS discovers by round k (each CTE is referenced twice, so
    // DuckDB materializes it once per round; node-dimension-sized)
    def relax(i: Int): String =
      s"""d$i AS MATERIALIZED (
         |  SELECT v, min(d) AS d FROM (
         |    SELECT v, d FROM d${i - 1}
         |    UNION ALL
         |    SELECT e.dst AS v, r.d + 1 AS d
         |    FROM e JOIN d${i - 1} r ON r.v = e.src
         |  ) u GROUP BY v
         |)""".stripMargin
    s"""WITH ${liCappedSql(defaultMaxBasket)},
       |e AS (
       |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
       |  FROM li a JOIN li b ON a.ok = b.ok AND a.l_partkey <> b.l_partkey
       |), d0 AS (
       |  SELECT min(src) AS v, CAST(0 AS BIGINT) AS d FROM e
       |), ${(1 to 4).map(relax).mkString(", ")}
       |SELECT d AS hop, count(*) AS n_nodes,
       |  min(v) AS min_part, max(v) AS max_part
       |FROM d4 GROUP BY 1 ORDER BY hop""".stripMargin
  }

  /** Frontier-based distributed Bellman–Ford: weighted single-source
    * shortest paths in `rounds` relaxation rounds (exact for paths of up
    * to `rounds` edges). Each round relaxes ONLY the out-edges of vertices
    * whose distance improved last round — a vertex settled in round j
    * already pushed its final distance at round j+1, so re-relaxing it is
    * pure waste; the frontier restriction is a work-saving with an
    * identical result to the textbook all-edges round (which the oracle
    * replays). Distances are exact longs (integer weights), so the result
    * is bit-identical at any parallelism.
    *
    * Scale: the delta-stepping-style frontier keeps per-round work
    * proportional to the improved vertices' out-edges, not |E|; the edge
    * list is iteration-invariant (persist once, join `rounds` times), and
    * the distance/frontier relations are node-dimension-sized and
    * localCheckpointed so lineage depth stays at `rounds`.
    */
  /** One Bellman–Ford relaxation round pre-materialization: the frontier's
    * out-edges relaxed (equi join on src, min-combine per target) and
    * full-outer-merged with the accumulated distances. Exposed for the
    * plan guard — both joins must stay EQUI joins (src, then v) with the
    * persisted edge relation as the only big side.
    */
  private[ops] def ssspRound(
      e: DataFrame, frontier: DataFrame, dist: DataFrame): DataFrame = {
    val cand = e.join(frontier.select(col("v").as("src"), col("d").as("fd")), Seq("src"))
      .groupBy(col("dst").as("v"))
      .agg(min(col("fd") + col("w")).as("cd"))
    dist.join(cand, Seq("v"), "full_outer")
  }

  def ssspDistances(edges: DataFrame, rounds: Int): DataFrame = {
    val far = Long.MaxValue
    val e = edges.select(col("src"), col("dst"), col("w"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var dist = e.agg(min(col("src")).as("v"))
      .withColumn("d", lit(0L)).localCheckpoint()
    var frontier = dist
    var k = 1
    var active = true
    while (k <= rounds && active) {
      val joined = ssspRound(e, frontier, dist).localCheckpoint()
      frontier = joined
        .filter(col("cd") < coalesce(col("d"), lit(far)))
        .select(col("v"), col("cd").as("d"))
      // control-plane probe on the just-materialized node-sized relation:
      // once no vertex improves, every further round is a no-op
      if (frontier.isEmpty) active = false
      dist = joined.select(col("v"),
        least(coalesce(col("d"), lit(far)), coalesce(col("cd"), lit(far))).as("d"))
      k += 1
    }
    e.unpersist(blocking = false)
    dist
  }

  /** Weighted order↔part bipartite graph from lineitem: order node
    * `2·l_orderkey`, part node `2·l_partkey+1`, undirected edges weighted
    * by the cheapest line quantity between the pair — "how far is this
    * part from that order through shared purchase quantities".
    */
  def orderPartEdges(spark: SparkSession, dir: String): DataFrame = {
    val li = table(spark, dir, "lineitem")
      .select((col("l_orderkey") * 2).as("a"), (col("l_partkey") * 2 + 1).as("b"),
        col("l_quantity").cast("long").as("w"))
    li.select(col("a").as("src"), col("b").as("dst"), col("w"))
      .union(li.select(col("b").as("src"), col("a").as("dst"), col("w")))
      .groupBy(col("src"), col("dst")).agg(min(col("w")).as("w"))
  }

  /** 20 nearest nodes to the seed (smallest order node) by 4-round
    * weighted shortest path over the order↔part graph — the weighted dual
    * of [[qBfsDistance]]'s hop profile.
    */
  def qSssp(spark: SparkSession, dir: String): DataFrame =
    ssspDistances(orderPartEdges(spark, dir), rounds = 4)
      .orderBy(col("d"), col("v"))
      .limit(20)

  val qSsspSql: String = {
    // all-edges min-relaxation replay: after round k both formulations
    // hold exactly min-cost-over-<=k-edge-paths for every vertex
    def relax(i: Int): String =
      s"""d$i AS MATERIALIZED (
         |  SELECT v, min(d) AS d FROM (
         |    SELECT v, d FROM d${i - 1}
         |    UNION ALL
         |    SELECT e.dst AS v, r.d + e.w AS d
         |    FROM e JOIN d${i - 1} r ON r.v = e.src
         |  ) u GROUP BY v
         |)""".stripMargin
    s"""WITH e AS (
       |  SELECT src, dst, min(w) AS w FROM (
       |    SELECT l_orderkey * 2 AS src, l_partkey * 2 + 1 AS dst,
       |      CAST(l_quantity AS BIGINT) AS w FROM lineitem
       |    UNION ALL
       |    SELECT l_partkey * 2 + 1, l_orderkey * 2,
       |      CAST(l_quantity AS BIGINT) FROM lineitem
       |  ) u GROUP BY 1, 2
       |), d0 AS (
       |  SELECT min(src) AS v, CAST(0 AS BIGINT) AS d FROM e
       |), ${(1 to 4).map(relax).mkString(", ")}
       |SELECT v, d FROM d4 ORDER BY d, v LIMIT 20""".stripMargin
  }

  /** Integer HITS over a directed bipartite edge list `(hub, auth)`:
    * authority = sum of pointing hubs' scores, hub = sum of pointed
    * authorities' scores, each re-normalized per round so the MAX score is
    * exactly `scale` — `x' = (x · scale) DIV max(x)`, one exact integer
    * multiply-divide instead of the classic L2 norm (which would leave
    * the engine's sqrt rounding in the iteration). Every value is an
    * exact long, so the result is bit-identical at any parallelism and
    * the oracle replays the rounds as chained CTEs with scalar-subquery
    * maxima.
    *
    * Scale: each half-round is one edge⨝score join (shuffle on the join
    * key) plus one aggregation — the same shape as a PageRank round; the
    * per-round max is a broadcast 1-row relation. The edge relation is
    * iteration-invariant: localCheckpointed once, hash-distributed by the
    * `hub` join key (the `auth`-keyed join accepts one exchange per round
    * rather than duplicating the edges both ways). Overflow envelope:
    * `raw · scale` must fit a long, so max in-degree ≤ ~9·10⁶ at the
    * default millionth scale — re-scale down for denser graphs.
    *
    * Input layout: `edges` must already be hash-partitioned by `hub` at
    * the session's shuffle partition count (`repartition(col("hub"))`, as
    * [[qHits]] does below its dedup); that is what makes every
    * hub-keyed join exchange-free, since this method does not
    * repartition. Any other layout still gives the same scores, but pays
    * an extra exchange of the edge relation every round. Each
    * `(hub, auth)` pair counts once per occurrence, so pass distinct
    * pairs for a simple graph.
    */
  def hitsInt(edges: DataFrame, iters: Int, scale: Long = 1000000L): DataFrame = {
    // the hub-keyed layout is established by the CALLER's repartition
    // below its dedup (see qHits — one shared exchange, guide §2.4);
    // re-partitioning here would add a second full exchange of the edges
    val e = edges.select(col("hub"), col("auth")).localCheckpoint()
    var hubs = e.select(col("hub")).distinct()
      .withColumn("h", lit(scale)).localCheckpoint()
    var auths: DataFrame = null
    for (i <- 1 to iters) {
      // Checkpoint the RAW sums, not the normalized scores: `rawA` feeds
      // both the broadcast max and the normalized projection, and an
      // unmaterialized rawA executed its edge⨝score join + aggregate TWICE
      // per half-round (once under each consumer — guide §7.2 duplicated
      // subtrees). The normalize step itself is a node-sized projection
      // over the checkpointed leaf, cheap to leave live.
      // hub scores are CO-PARTITIONED with the edges (both hash(hub) —
      // the caller's exchange and the groupBy(hub) below), so a
      // shuffled-hash join runs with zero exchanges; the default
      // broadcast choice would instead collect the node-sized score
      // relation to the driver every round (guide §3.1 — pick the
      // strategy deliberately; broadcast also caps at the 8 GB/512M-row
      // relation limit on billion-node graphs)
      val rawA = e.join(hubs.hint("shuffle_hash"), "hub")
        .groupBy(col("auth")).agg(sum(col("h")).as("ra"))
        .localCheckpoint()
      auths = rawA.crossJoin(broadcast(rawA.agg(max(col("ra")).as("ma"))))
        .select(col("auth"), expr(s"(ra * $scale) DIV ma").as("a"))
      // the hub half of the LAST round feeds nothing (only `auths` is
      // returned) — don't compute what is thrown away (guide §1.2)
      if (i < iters) {
        val rawH = e.join(auths, "auth").groupBy(col("hub")).agg(sum(col("a")).as("rh"))
          .localCheckpoint()
        hubs = rawH.crossJoin(broadcast(rawH.agg(max(col("rh")).as("mh"))))
          .select(col("hub"), expr(s"(rh * $scale) DIV mh").as("h"))
      }
    }
    auths
  }

  /** Top-20 authoritative parts by 3-round integer HITS over the
    * order→part bipartite graph (orders are hubs "citing" the parts they
    * contain) — the link-analysis dual of [[qPageRank]]'s co-order
    * centrality, exercising a genuinely DIRECTED iteration (hub and
    * authority scores differ; the co-order graph's symmetry would
    * collapse them).
    */
  /** Degree ASSORTATIVITY of the co-order part graph — do high-degree
    * parts co-occur with other high-degree parts (r > 0, social-network
    * shape) or with low-degree ones (r < 0, hub-and-spoke catalog shape)?
    * Newman's r is the Pearson correlation of endpoint degrees over the
    * edge set; on a SYMMETRIZED edge relation the x- and y-marginals
    * coincide, so the usual sqrt-normalized form collapses to a ratio of
    * two exact integers
    *
    *   r = (n·Σxy − (Σx)²) / (n·Σx² − (Σx)²)
    *
    * — no sqrt, one double division, bit-identical across engines. The
    * quadratic Σ-moments (Σx², Σxy) are DECIMAL(38,0) end-to-end (safe
    * while m·maxdeg² < 10^38 — 3+ orders past 10^10-edge crawl graphs
    * with 10^5-degree hubs; the old long form wrapped exactly there),
    * the linear marginal stays a long (safe to 2m·maxdeg < 2^63), and
    * the cross-products stay decimal; only n_edges, Σx and the final
    * double ratio are output.
    *
    * Scale: degrees are one map-side-combined aggregate of the edge list;
    * attaching them is two linear equi-joins of edges against the
    * node-sized degree relation (both shuffles key on a node id — AQE
    * broadcasts the degree side while it fits); the moments collapse in
    * one scalar aggregate. Nothing is quadratic in degree or edge count.
    */
  def qAssortativity(spark: SparkSession, dir: String): DataFrame =
    assortativity(coOrderOriented(spark, dir))

  /** [[qAssortativity]]'s moment pass over any canonically oriented
    * (`src < dst`, distinct) undirected edge list.
    */
  def assortativity(oriented: DataFrame): DataFrame = {
    val o = oriented.select(col("src"), col("dst"))
    val e = o.union(o.select(col("dst").as("src"), col("src").as("dst")))
    val deg = e.groupBy(col("src").as("v")).agg(count(lit(1)).as("deg"))
    def d(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = Tables.big(c)
    // Round-16 envelope escape (VERDICT r15 item 1b): the quadratic
    // moments Σx², Σxy are PER-TERM decimal products summed in
    // DECIMAL(38,0) — the old long accumulation wrapped at 10^9 edges
    // with 10^5-degree hubs, squarely inside the crawl-graph shape. The
    // decimal form is safe while m·maxdeg² < 10^38 (10^10 edges with
    // hubs to ~7·10^8 degree — 3+ orders past any crawl hub); the
    // quadratic moments never return to long (output drops them; the
    // ratio is one pinned-order double division). The linear marginal
    // Σx = Σ_v deg² stays a long sum: safe while 2m·maxdeg < 2^63
    // (maxdeg ≤ 4.6·10^8 at 10^10 edges), ANSI-loud beyond.
    val num = d(col("n_edges")) * col("sxy") -
      d(col("sum_deg")) * col("sum_deg")
    val den = d(col("n_edges")) * col("sxx") -
      d(col("sum_deg")) * col("sum_deg")
    e.join(deg.toDF("src", "dx"), Seq("src"))
      .join(deg.toDF("dst", "dy"), Seq("dst"))
      .agg(
        count(lit(1)).as("n_edges"),
        sum(col("dx")).as("sum_deg"),
        sum(d(col("dx")) * col("dx")).as("sxx"),
        sum(d(col("dx")) * col("dy")).as("sxy"))
      .select(col("n_edges"), col("sum_deg"),
        when(den === d(lit(0)), lit(null).cast("double"))
          .otherwise(round(num.cast("double") / den.cast("double"), 6))
          .as("assortativity"))
  }

  val qAssortativitySql: String =
    s"""WITH ${liCappedSql(defaultMaxBasket)},
       |e0 AS (
       |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
       |  FROM li a JOIN li b ON a.ok = b.ok AND a.l_partkey < b.l_partkey
       |), e AS (
       |  SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0
       |), deg AS (
       |  SELECT src AS v, count(*) AS deg FROM e GROUP BY 1
       |), m AS (
       |  SELECT count(*) AS n, sum(ds.deg) AS sx,
       |    sum(CAST(ds.deg AS HUGEINT) * ds.deg) AS sxx,
       |    sum(CAST(ds.deg AS HUGEINT) * dd.deg) AS sxy
       |  FROM e JOIN deg ds ON ds.v = e.src JOIN deg dd ON dd.v = e.dst
       |)
       |SELECT CAST(n AS BIGINT) AS n_edges, CAST(sx AS BIGINT) AS sum_deg,
       |  CASE WHEN n * sxx - sx * sx = 0 THEN NULL
       |       ELSE round(CAST(n * sxy - sx * sx AS DOUBLE)
       |                  / CAST(n * sxx - sx * sx AS DOUBLE), 6)
       |  END AS assortativity
       |FROM m""".stripMargin

  /** Degree DISTRIBUTION profile of the co-order graph — power-of-two
    * degree buckets (the log-log histogram a scale-free/power-law check
    * reads) with node counts and shares in exact basis points. The bucket
    * ladder is an authored integer CASE chain (log-free: `floor(log2 d)`
    * via range compares), so both engines bucket identically with zero
    * float involvement.
    *
    * Scale: degrees are one map-side-combined aggregate of the edge list;
    * the histogram is a second bucket-keyed aggregate over the node-sized
    * degree relation; the total rides a broadcast 1-row relation.
    */
  val DegreeBuckets = 20

  def qDegreeHist(spark: SparkSession, dir: String): DataFrame =
    degreeHist(coOrderOriented(spark, dir))

  /** [[qDegreeHist]]'s bucket pass over any canonically oriented
    * (`src < dst`, distinct) undirected edge list.
    */
  def degreeHist(oriented: DataFrame): DataFrame = {
    val o = oriented.select(col("src"), col("dst"))
    val e = o.union(o.select(col("dst").as("src"), col("src").as("dst")))
    val deg = e.groupBy(col("src").as("v")).agg(count(lit(1)).as("deg"))
    val bucket = (0 until DegreeBuckets)
      .foldRight(lit(DegreeBuckets): org.apache.spark.sql.Column) {
        case (b, rest) => when(col("deg") < lit(1L << (b + 1)), lit(b)).otherwise(rest)
      }
    val hist = deg.select(bucket.as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("n_nodes"))
    val total = hist.agg(sum(col("n_nodes")).as("total"))
    hist.crossJoin(broadcast(total))
      .select(col("bucket"),
        expr("CAST(shiftleft(1L, CAST(bucket AS INT)) AS BIGINT)").as("deg_lo"),
        col("n_nodes"),
        expr("n_nodes * 10000 DIV total").as("share_bp"))
      .orderBy(col("bucket"))
  }

  val qDegreeHistSql: String = {
    val ladder = (0 until DegreeBuckets)
      .map(b => s"WHEN deg < ${1L << (b + 1)} THEN $b")
      .mkString(" ")
    s"""WITH ${liCappedSql(defaultMaxBasket)},
       |e0 AS (
       |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
       |  FROM li a JOIN li b ON a.ok = b.ok AND a.l_partkey < b.l_partkey
       |), deg AS (
       |  SELECT v, count(*) AS deg FROM (
       |    SELECT src AS v FROM e0 UNION ALL SELECT dst AS v FROM e0) u
       |  GROUP BY 1
       |), hist AS (
       |  SELECT CASE $ladder ELSE $DegreeBuckets END AS bucket,
       |    count(*) AS n_nodes
       |  FROM deg GROUP BY 1
       |)
       |SELECT CAST(bucket AS INT) AS bucket,
       |  CAST(2 ** bucket AS BIGINT) AS deg_lo, n_nodes,
       |  CAST(n_nodes * 10000 // (SELECT sum(n_nodes) FROM hist) AS BIGINT) AS share_bp
       |FROM hist ORDER BY bucket""".stripMargin
  }

  def qHits(spark: SparkSession, dir: String): DataFrame =
    hitsInt(
      table(spark, dir, "lineitem")
        .select(col("l_orderkey").as("hub"), col("l_partkey").as("auth"))
        // repartition BELOW the dedup: hashpartitioning(hub) satisfies the
        // distinct's clustered distribution on (hub, auth), so the edge
        // build and the iteration's hub-keyed layout share ONE exchange
        // (guide §2.4) instead of a distinct exchange plus a repartition
        .repartition(col("hub"))
        .distinct(),
      iters = 3)
      .select(col("auth").as("part"), col("a").as("authority"))
      .orderBy(col("authority").desc, col("part"))
      .limit(20)

  val qHitsSql: String = {
    def round(i: Int): String =
      s"""ra$i AS (
         |  SELECT auth, sum(h) AS ra FROM e JOIN h${i - 1} USING (hub) GROUP BY auth
         |), a$i AS (
         |  SELECT auth, (ra * 1000000) // (SELECT max(ra) FROM ra$i) AS a FROM ra$i
         |), rh$i AS (
         |  SELECT hub, sum(a) AS rh FROM e JOIN a$i USING (auth) GROUP BY hub
         |), h$i AS (
         |  SELECT hub, (rh * 1000000) // (SELECT max(rh) FROM rh$i) AS h FROM rh$i
         |)""".stripMargin
    s"""WITH e AS (
       |  SELECT DISTINCT l_orderkey AS hub, l_partkey AS auth FROM lineitem
       |), h0 AS (
       |  SELECT DISTINCT hub, CAST(1000000 AS BIGINT) AS h FROM e
       |), ${(1 to 3).map(round).mkString(", ")}
       |SELECT auth AS part, CAST(a AS BIGINT) AS authority FROM a3
       |ORDER BY authority DESC, part LIMIT 20""".stripMargin
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Map("q_pagerank" -> (qPageRank _), "q_triangles" -> (qTriangles _),
      "q_hits" -> (qHits _),
      "q_assortativity" -> (qAssortativity _),
      "q_degree_hist" -> (qDegreeHist _),
      "q_basket_rules" -> ((s: SparkSession, d: String) => qBasketRules(s, d)),
      "q_basket_triples" -> (qBasketTriples _),
      "q_harmonic_centrality" -> (qHarmonicCentrality _),
      "q_kcore" -> (qKCore _), "q_label_prop" -> (qLabelProp _),
      "q_bfs_distance" -> (qBfsDistance _),
      "q_sssp" -> (qSssp _),
      "q_ppr" -> (qPersonalizedPr _))

  def oracle: Map[String, String] = Map(
    "q_pagerank" -> qPageRankSql,
    "q_hits" -> qHitsSql,
    "q_assortativity" -> qAssortativitySql,
    "q_degree_hist" -> qDegreeHistSql,
    "q_triangles" -> qTrianglesSql,
    "q_basket_rules" -> qBasketRulesSql,
    "q_basket_triples" -> qBasketTriplesSql,
    "q_harmonic_centrality" -> qHarmonicCentralitySql,
    "q_kcore" -> qKCoreSql,
    "q_label_prop" -> qLabelPropSql,
    "q_bfs_distance" -> qBfsDistanceSql,
    "q_sssp" -> qSsspSql,
    "q_ppr" -> qPersonalizedPrSql)
}
