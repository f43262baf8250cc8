package graft.ops

import graft.SparkFunSuite
import org.apache.spark.JobCount
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Aggregate
import org.apache.spark.sql.functions._

/** Pins integer-PageRank semantics the oracle can't see: a hand-computed
  * fixture, the symmetric-cycle fixed point, and repartition invariance
  * (exact long sums — no float drift at any parallelism).
  */
class GraphSpec extends SparkFunSuite {

  test("2-cycle is a fixed point: rank stays at one unit") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    val r = Graph.pageRankInt(edges, iters = 3).collect()
      .map(x => (x.getLong(0), x.getLong(1))).toMap
    // contrib = 1000000 DIV 1; rank = 150000 + 850000 = 1000000
    assert(r === Map(1L -> 1000000L, 2L -> 1000000L))
  }

  test("HITS: hand-computed one-round authorities on a bipartite fixture") {
    import spark.implicits._
    // hubs {1,2}, auths {10,11,12}: 1→{10,11}, 2→{11,12}
    val e = Seq((1L, 10L), (1L, 11L), (2L, 11L), (2L, 12L)).toDF("hub", "auth")
    val a = Graph.hitsInt(e, iters = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    // raw: 10→1e6, 11→2e6, 12→1e6; normalize by max 2e6:
    assert(a === Map(10L -> 500000L, 11L -> 1000000L, 12L -> 500000L))
  }

  test("HITS: second round folds renormalized hub scores back in exactly") {
    import spark.implicits._
    // 1→{10,11,12}, 2→{10}: hub 1 outweighs hub 2 after round 1
    val e = Seq((1L, 10L), (1L, 11L), (1L, 12L), (2L, 10L)).toDF("hub", "auth")
    val a2 = Graph.hitsInt(e, iters = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    // round 1: a = (10:1e6, 11:5e5, 12:5e5); h = (1:1e6, 2:5e5)
    // round 2 raw: 10→1.5e6, 11→1e6, 12→1e6; a = raw·1e6 DIV 1.5e6
    assert(a2 === Map(10L -> 1000000L, 11L -> 666666L, 12L -> 666666L))
  }

  test("HITS distributes an unpartitioned edge list once and keeps a hub-partitioned one") {
    // the regime of an edge list too big to broadcast, where the edges
    // keep a hub layout across rounds
    val keys = Seq("spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
    val saved = keys.map { case (k, _) => k -> spark.conf.getOption(k) }
    keys.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val li = Tables.table(spark, "/root/testdata/sf0.001", "lineitem")
        .select(col("l_orderkey").as("hub"), col("l_partkey").as("auth"))
      def run(e: DataFrame) = JobCount.shuffleMapStages(spark.sparkContext) {
        Graph.hitsInt(e, iters = 3).collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      }
      val (plain, plainStages) = run(li.distinct())
      // qHits' layout: hashed on hub at a fixed count below the dedup
      val (laidOut, laidOutStages) = run(
        li.repartition(spark.sessionState.conf.numShufflePartitions, col("hub")).distinct())
      // hashed on hub without a count: adaptive execution may coalesce
      // that exchange, so the layout it leaves is not kept
      val (coalesced, coalescedStages) = run(li.repartition(col("hub")).distinct())
      assert(plain === laidOut)
      assert(coalesced === laidOut)
      // an input not in the fixed layout costs one repartition; after it,
      // no round re-shuffles the edges on hub, whichever layout came in
      assert(plainStages <= laidOutStages + 1, s"$plainStages vs $laidOutStages")
      assert(coalescedStages <= laidOutStages + 1, s"$coalescedStages vs $laidOutStages")
      assert(laidOutStages < plainStages, s"$laidOutStages vs $plainStages")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("nine rounds: the plan holds one round's aggregates and the rows equal a driver loop") {
    import spark.implicits._
    def aggregates(df: DataFrame): Int =
      df.queryExecution.analyzed.collect { case a: Aggregate => a }.size
    def rows(df: DataFrame): Map[Long, Long] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // driver-side integer PageRank: (85·(in_mass + sink share)) DIV 100
    // plus the teleport term, every value an exact long
    def pageRank(es: Seq[(Long, Long)], teleport: (Long, Long) => Long,
        r0: Long => Long, sinks: Boolean): Map[Long, Long] = {
      val vs = es.flatMap(e => Seq(e._1, e._2)).distinct
      val outdeg = es.groupBy(_._1).map { case (v, out) => v -> out.size.toLong }
      val seed = es.map(_._1).min
      (1 to 9).foldLeft(vs.map(v => v -> r0(v)).toMap) { (r, _) =>
        val share = if (sinks) vs.filterNot(outdeg.contains).map(r).sum / vs.size else 0L
        val in = es.groupBy(_._2).map { case (v, in) => v -> in.map(e => r(e._1) / outdeg(e._1)).sum }
        vs.map(v => v -> (teleport(v, seed) + 85 * (in.getOrElse(v, 0L) + share) / 100)).toMap
      }
    }
    val star = Seq((1L, 2L), (1L, 3L), (2L, 1L), (3L, 1L))
    val sinkPath = Seq((1L, 2L), (2L, 3L))
    for ((es, sinks) <- Seq(star -> false, sinkPath -> true)) {
      val pr = Graph.pageRankInt(es.toDF("src", "dst"), iters = 9)
      // the sink share is a second aggregate per round
      assert(aggregates(pr) === (if (sinks) 2 else 1), pr.queryExecution.analyzed)
      assert(rows(pr) === pageRank(es, (_, _) => 150000L, _ => 1000000L, sinks))
    }
    val ppr = Graph.personalizedPageRankInt(star.toDF("src", "dst"), iters = 9)
    assert(aggregates(ppr) === 1, ppr.queryExecution.analyzed)
    assert(rows(ppr) === pageRank(star, (v, s) => if (v == s) 150000L else 0L,
      v => if (v == 1L) 1000000L else 0L, sinks = false))
    // driver-side synchronous LPA: most frequent in-neighbor label, then
    // the smallest; only nodes with a labeled in-neighbor keep a label
    val und = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L), (4L, 6L), (5L, 6L), (3L, 4L))
    val es = und ++ und.map(_.swap)
    val lpaRef = (1 to 9).foldLeft(es.map(e => e._1 -> e._1).toMap) { (labels, _) =>
      es.filter(e => labels.contains(e._1)).groupBy(_._2).map { case (v, in) =>
        v -> in.groupBy(e => labels(e._1)).toSeq
          .map { case (l, n) => (-n.size, l) }.min._2
      }
    }
    val lpa = Graph.labelPropagation(es.toDF("src", "dst"), rounds = 9)
    assert(aggregates(lpa) === 2, lpa.queryExecution.analyzed)
    assert(rows(lpa) === lpaRef)
  }

  test("the round loop stops after the first empty frontier: 3 and 20 rounds agree") {
    import spark.implicits._
    // 3-hop path 2-1-3-4 whose smallest id (the BFS and SSSP seed) is
    // second: every node is within 2 hops of seeds 1 and 3, so round 3
    // finds nothing and both round caps run the same three rounds
    val und = Seq((2L, 1L), (1L, 3L), (3L, 4L))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val weighted = edges.withColumn("w", lit(1L))
    def run(df: Int => DataFrame, rounds: Int) = JobCount(spark.sparkContext) {
      df(rounds).collect().map(_.toSeq).toSet
    }
    for ((name, df) <- Seq[(String, Int => DataFrame)](
        "bfs" -> (r => Graph.bfsDistances(edges, r)),
        "multi-bfs" -> (r => Graph.multiBfsDistances(edges, Seq(1L, 3L), r)),
        "sssp" -> (r => Graph.ssspDistances(weighted, r)))) {
      val (rows3, jobs3) = run(df, 3)
      val (rows20, jobs20) = run(df, 20)
      assert(rows3 === rows20, name)
      assert(jobs3 === jobs20, name)
    }
    assert(run(r => Graph.bfsDistances(edges, r), 3)._1 ===
      Set(Seq(1L, 0L), Seq(2L, 1L), Seq(3L, 1L), Seq(4L, 2L)))
  }

  test("star graph: hand-computed one-iteration ranks") {
    import spark.implicits._
    // 1 -> {2,3}; 2 -> 1; 3 -> 1 (outdeg(1)=2)
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 1L), (3L, 1L)).toDF("src", "dst")
    val r1 = Graph.pageRankInt(edges, iters = 1).collect()
      .map(x => (x.getLong(0), x.getLong(1))).toMap
    // node1: 150000 + 85*(1e6 + 1e6) DIV 100 = 150000 + 1700000
    assert(r1(1L) === 1850000L)
    // node2/3: 150000 + 85*(1e6 DIV 2) DIV 100 = 150000 + 425000
    assert(r1(2L) === 575000L && r1(3L) === 575000L)
  }

  test("ranks are repartition-invariant (exact integer sums)") {
    val edges = Graph.coOrderEdges(spark, "/root/testdata/sf0.001")
    val a = Graph.pageRankInt(edges, iters = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val b = Graph.pageRankInt(edges.repartition(17), iters = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(a === b)
    assert(a.nonEmpty && a.forall(_._2 >= 150000L))
  }

  test("triangle counts: K4 plus a pendant open wedge, hand-computed") {
    import spark.implicits._
    // K4 on {1,2,3,4}: C(4,3)=4 triangles, each node in exactly 3.
    // Pendant path 4-5, 5-6 (open wedge): no triangle, 5 and 6 absent
    // from the counts (only triangle corners are emitted).
    val oriented = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (5L, 6L)).toDF("src", "dst")
    val r = Graph.triangleCounts(oriented).collect()
      .map(x => (x.getLong(0), x.getLong(1))).toMap
    assert(r === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
  }

  test("k-core peeling: K6 survives, the pendant is peeled in round 1") {
    import spark.implicits._
    // K6 on {1..6} (30 directed edges) + pendant 6-7 (2 directed).
    // avg degree = 32/7 = 4 (int div), k = 4·3/4 = 3. Round 1 removes
    // node 7 (deg 1 < 3); K6 (every deg ≥ 5) is then a fixed point.
    val k6 = for {
      a <- 1L to 6L; b <- 1L to 6L if a != b
    } yield (a, b)
    val edges = (k6 ++ Seq((6L, 7L), (7L, 6L))).toDF("src", "dst")
    val profile = Graph.kCoreProfile(edges, rounds = 3).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
    assert(profile === Seq((0, 7L, 32L), (1, 6L, 30L), (2, 6L, 30L), (3, 6L, 30L)))
  }

  test("label propagation: two bridged triangles, hand-computed sync rounds") {
    import spark.implicits._
    // Triangles {1,2,3} and {4,5,6} bridged by 3-4. Sync LPA, min-label
    // tie-break, labels initialized to ids:
    //  r1: 1→2, 2→1, 3→1, 4→3, 5→4, 6→4
    //  r2: 1→1 (both nbrs carry 1), 2→1, 3→1 (tie {2,1,3} → 1),
    //      4→4 (nbr labels {1,4,4}), 5→3, 6→3 (tie {3,4} → 3)
    val und = Seq((1L,2L),(1L,3L),(2L,3L),(4L,5L),(4L,6L),(5L,6L),(3L,4L))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val labels = Graph.labelPropagation(edges, rounds = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(labels === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 3L, 6L -> 3L))
  }

  test("basket rules: confidence and lift on a planted 3-order basket set") {
    val dir = "/root/testdata/sf0.001"
    val out = Graph.qBasketRules(spark, dir).collect()
    assert(out.length === 20)
    out.foreach { r =>
      val (conf, lift) = (r.getDouble(3), r.getDouble(4))
      assert(conf > 0 && conf <= 1.0, s"confidence $conf")
      assert(lift > 0, s"lift $lift")
    }
    // pair support is symmetric: (src,dst) and (dst,src) counts match
    val sup = out.map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    sup.foreach { case ((s, d), n) =>
      sup.get((d, s)).foreach(m => assert(m === n, s"asymmetric support ($s,$d)"))
    }
  }

  test("dangling mass re-enters uniformly: path graph with a sink, hand-computed") {
    import spark.implicits._
    // 1 -> 2 -> 3; node 3 is a sink. Round r: share = rank(3) DIV 3,
    // rank(v) = 150000 + 85·(in_mass + share) DIV 100 — all exact longs.
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val r1 = Graph.pageRankInt(edges, iters = 1).collect()
      .map(x => (x.getLong(0), x.getLong(1))).toMap
    // share = 1000000 DIV 3 = 333333
    // node1: 150000 + 85·333333 DIV 100            = 433333
    // node2/3: 150000 + 85·(1000000+333333) DIV 100 = 1283333
    assert(r1 === Map(1L -> 433333L, 2L -> 1283333L, 3L -> 1283333L))
    val r2 = Graph.pageRankInt(edges, iters = 2).collect()
      .map(x => (x.getLong(0), x.getLong(1))).toMap
    // share = 1283333 DIV 3 = 427777
    // node1: 150000 + 85·427777 DIV 100             = 513610
    // node2: 150000 + 85·(433333+427777) DIV 100    = 881943
    // node3: 150000 + 85·(1283333+427777) DIV 100   = 1604443
    assert(r2 === Map(1L -> 513610L, 2L -> 881943L, 3L -> 1604443L))
  }

  test("dangling term is zero on symmetric graphs (classic recurrence preserved)") {
    import spark.implicits._
    // 2-cycle fixed point must survive the dangling-mass term: no sinks,
    // share = 0, rank stays at one unit exactly
    val edges = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    val r = Graph.pageRankInt(edges, iters = 4).collect()
      .map(x => (x.getLong(0), x.getLong(1))).toMap
    assert(r === Map(1L -> 1000000L, 2L -> 1000000L))
  }

  test("degree orientation collapses hub wedges; triangle counts are invariant") {
    import spark.implicits._
    // Power-law fixture: hub 500 joined to 100 leaves whose ids straddle
    // it (50 below, 50 above), plus one leaf-leaf edge (10,20) closing a
    // single triangle {10,20,500}. Under id-orientation the hub is the
    // MIDDLE of 50·50 wedges; under (degree, id) orientation every hub
    // edge points INTO the hub (leaf degree ≤ 2 < 100), so the only wedge
    // left is the one that closes.
    val hub = 500L
    val leaves = (1L to 50L) ++ (951L to 1000L)
    val canonical = (leaves.map(l => if (l < hub) (l, hub) else (hub, l)) :+ (10L, 20L))
      .toDF("src", "dst")
    def wedges(e: org.apache.spark.sql.DataFrame): Long =
      e.toDF("a", "b").join(e.toDF("b", "c"), "b").count()
    val reoriented = Graph.degreeOrient(canonical)
    val (wId, wDeg) = (wedges(canonical), wedges(reoriented))
    assert(wId >= 2500L, s"fixture must blow up under id-orientation, got $wId")
    assert(wDeg <= wId / 100, s"degree orientation must collapse the hub wedges: $wDeg vs $wId")
    def counts(df: org.apache.spark.sql.DataFrame) =
      Graph.triangleCounts(df).collect().map(x => (x.getLong(0), x.getLong(1))).toMap
    val viaDeg = counts(reoriented)
    assert(viaDeg === counts(canonical), "counts are orientation-invariant")
    assert(viaDeg === Map(10L -> 1L, 20L -> 1L, hub -> 1L))
  }

  test("basket cap bounds the per-order pair fan-out at C(cap, 2)") {
    import spark.implicits._
    // one pathological 1000-item order: uncapped the explode emits
    // C(1000,2) = 499500 pairs; capped it keeps the cap's smallest part
    // ids — C(10,2) = 45 pairs, deterministic
    val dir = tmpDir("basket-cap")
    (1L to 1000L).map(p => (1L, p)).toDF("l_orderkey", "l_partkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val capped = Graph.orientedCoOrderEdges(spark, dir, maxBasket = 10)
    assert(capped.count() === 45L)
    assert(capped.agg(max(col("dst"))).head().getLong(0) === 10L)
    val uncapped = Graph.orientedCoOrderEdges(spark, dir, maxBasket = 1000)
    assert(uncapped.count() === 499500L)
  }

  test("triangleStrategy pins the broadcast/shuffle boundary at the cap") {
    assert(Graph.triangleStrategy(Graph.broadcastEdgeCap, Graph.broadcastEdgeCap) === "broadcast")
    assert(Graph.triangleStrategy(Graph.broadcastEdgeCap + 1, Graph.broadcastEdgeCap) === "shuffle")
    assert(Graph.triangleStrategy(0L, Graph.broadcastEdgeCap) === "broadcast")
  }

  test("triangle counts are identical on the broadcast and shuffle paths") {
    val li = Tables.table(spark, "/root/testdata/sf0.001", "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey"))
    val oriented = li.toDF("ok", "src")
      .join(li.toDF("ok", "dst"), Seq("ok"))
      .filter(col("src") < col("dst"))
      .select(col("src"), col("dst"))
      .distinct()
    def counts(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(x => (x.getLong(0), x.getLong(1))).sorted.toSeq
    val viaBroadcast = counts(Graph.triangleCounts(oriented))
    // Zero cap forces the same input down the shuffle-join fallback (the
    // beyond-broadcast 100 TB path) — results must not move.
    val viaShuffle = counts(Graph.triangleCounts(oriented, broadcastCap = 0L))
    assert(viaBroadcast === viaShuffle)
    assert(viaBroadcast.nonEmpty)
  }

  test("personalized PageRank: star graph seeded at the hub, hand-computed round") {
    import spark.implicits._
    // 1 -> {2,3}; 2 -> 1; 3 -> 1. Seed = min vertex = 1, starting with
    // ALL mass: r0 = (1e6, 0, 0). After one round: node 1 keeps only the
    // restart 150000 (its in-mass is 0·ranks of 2/3); nodes 2/3 each get
    // 85% of 1e6 DIV 2 = 425000. Restart mass goes ONLY to the seed.
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 1L), (3L, 1L)).toDF("src", "dst")
    val r = Graph.personalizedPageRankInt(edges, iters = 1).collect()
      .map(x => (x.getLong(0), x.getLong(1))).toMap
    assert(r === Map(1L -> 150000L, 2L -> 425000L, 3L -> 425000L))
  }

  test("BFS distances: path graph with a branch, hand-computed levels") {
    import spark.implicits._
    // Undirected 1-2-3-4 path plus branch 2-5; seed = min vertex = 1.
    // Distances: 1->0, 2->1, {3,5}->2, 4->3. Node 7-8 component is
    // unreachable and must be absent.
    val und = Seq((1L, 2L), (2L, 3L), (3L, 4L), (2L, 5L), (7L, 8L))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val d = Graph.bfsDistances(edges, rounds = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(d === Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 5L -> 2L, 4L -> 3L))
  }

  test("BFS distances: seeded-random graphs equal a driver BFS reference") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 3) {
      val und = (0 until 60).map(_ => (rnd.nextInt(25).toLong, rnd.nextInt(25).toLong))
        .filter(e => e._1 != e._2)
      val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
      val seed = und.flatMap(e => Seq(e._1, e._2)).min
      // driver BFS reference
      val adj = und.flatMap(e => Seq(e, e.swap)).groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
      val ref = scala.collection.mutable.Map(seed -> 0L)
      var frontier = Set(seed)
      var d = 0L
      while (frontier.nonEmpty && d < 6) {
        d += 1
        frontier = frontier.flatMap(v => adj.getOrElse(v, Nil))
          .filterNot(ref.contains)
        frontier.foreach(v => ref.update(v, d))
      }
      val got = Graph.bfsDistances(edges, rounds = 6).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(got === ref.toMap, s"trial $trial")
    }
  }

  test("BFS distances are round-capped and repartition-invariant") {
    import spark.implicits._
    // Chain 1-2-3-4-5: with rounds=2 only distances <= 2 are discovered.
    val und = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val d2 = Graph.bfsDistances(edges, rounds = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(d2 === Map(1L -> 0L, 2L -> 1L, 3L -> 2L))
    val d2r = Graph.bfsDistances(edges.repartition(13), rounds = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(d2r === d2)
  }

  test("SSSP: hand-computed weighted fixture, shorter path through more edges wins") {
    import spark.implicits._
    // 1 -10-> 3 direct, but 1 -1-> 2 -2-> 3 costs 3; plus 3 -1-> 4.
    val und = Seq((1L, 3L, 10L), (1L, 2L, 1L), (2L, 3L, 2L), (3L, 4L, 1L))
    val edges = (und ++ und.map { case (a, b, w) => (b, a, w) }).toDF("src", "dst", "w")
    val got = Graph.ssspDistances(edges, rounds = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got === Map(1L -> 0L, 2L -> 1L, 3L -> 3L, 4L -> 4L))
  }

  test("SSSP respects the round cap and is repartition-invariant") {
    import spark.implicits._
    // Chain 1-2-3-4-5 with unit weights: rounds=2 reaches distance <= 2.
    val und = Seq((1L, 2L, 1L), (2L, 3L, 1L), (3L, 4L, 1L), (4L, 5L, 1L))
    val edges = (und ++ und.map { case (a, b, w) => (b, a, w) }).toDF("src", "dst", "w")
    val d2 = Graph.ssspDistances(edges, rounds = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(d2 === Map(1L -> 0L, 2L -> 1L, 3L -> 2L))
    val d2r = Graph.ssspDistances(edges.repartition(13), rounds = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(d2r === d2)
  }

  test("SSSP frontier relaxation equals exhaustive Bellman-Ford on a random graph") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val n = 30
    val und = (1 to 80).map { _ =>
      (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong, (1 + rnd.nextInt(9)).toLong)
    }.filter { case (a, b, _) => a != b }
    val all = und ++ und.map { case (a, b, w) => (b, a, w) }
    val edges = all.toDF("src", "dst", "w")
    val rounds = 5
    // driver-side exhaustive Bellman-Ford, `rounds` full relaxation rounds
    val seed = all.map(_._1).min
    var ref = Map(seed -> 0L)
    for (_ <- 1 to rounds) {
      val cand = all.flatMap { case (a, b, w) => ref.get(a).map(d => (b, d + w)) }
      ref = (ref.toSeq ++ cand).groupBy(_._1).map { case (v, ds) => (v, ds.map(_._2).min) }
    }
    val got = Graph.ssspDistances(edges, rounds).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got === ref)
  }

  test("assortativity: a star is perfectly disassortative (r = -1)") {
    import spark.implicits._
    // K_{1,3}: hub 1 (deg 3) only touches leaves (deg 1) →
    // n=6, Σx=12, Σx²=30, Σxy=18 → r = (108-144)/(180-144) = -1
    val star = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("src", "dst")
    val row = Graph.assortativity(star).collect().head
    assert((row.getLong(0), row.getLong(1)) === ((6L, 12L)))
    assert(row.getDouble(2) === -1.0)
  }

  test("degree-hist: power-of-two buckets and bp shares on a star") {
    import spark.implicits._
    // K_{1,3}: three leaves of degree 1 (bucket 0, lo 1) and the hub of
    // degree 3 (bucket 1, lo 2); shares 7500/2500 bp
    val star = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("src", "dst")
    val got = Graph.degreeHist(star).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq === Seq((0, 1L, 3L, 7500L), (1, 2L, 1L, 2500L)))
  }

  test("assortativity: a disjoint union of regular cliques is degenerate (NULL, not a crash)") {
    import spark.implicits._
    // every node in K3 ∪ K3 has degree 2 → zero variance → NULL r
    val cliques = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (4L, 5L), (4L, 6L), (5L, 6L)).toDF("src", "dst")
    val row = Graph.assortativity(cliques).collect().head
    assert(row.isNullAt(2))
  }

  test("multi-source BFS: exact hop distances per seed on a planted path") {
    import spark.implicits._
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    val edges = (path ++ path.map(_.swap)).toDF("src", "dst")
    val got = Graph.multiBfsDistances(edges, Seq(1L, 2L), rounds = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set(
      (1L, 1L, 0L), (1L, 2L, 1L), (1L, 3L, 2L), (1L, 4L, 3L),
      (2L, 2L, 0L), (2L, 1L, 1L), (2L, 3L, 1L), (2L, 4L, 2L), (2L, 5L, 3L)))
  }

  test("basket triples: planted co-order triple found; support filter holds") {
    import spark.implicits._
    // orders 1..3 share parts {10,20,30}; order 1 adds a support-1 part 99;
    // order 4 shares only a pair -> the triple (10,20,30) has support 3 and
    // no other triple reaches the min support of 2
    val li = Seq(
      (1L, 10L), (1L, 20L), (1L, 30L), (1L, 99L),
      (2L, 10L), (2L, 20L), (2L, 30L),
      (3L, 10L), (3L, 20L), (3L, 30L),
      (4L, 10L), (4L, 20L)
    ).toDF("l_orderkey", "l_partkey")
    val dir = tmpDir("basket-triples-fixture")
    li.write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val got = Graph.qBasketTriples(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq((10L, 20L, 30L, 3L)))
  }
}
