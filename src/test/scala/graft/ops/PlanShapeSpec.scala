package graft.ops

import graft.SparkFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._

/** Physical-plan regression guards for the properties that make these
  * queries scale: filter/projection pushdown into the parquet scan,
  * broadcast (not shuffle) joins for dimension tables, map-side partial
  * aggregation, whole-stage codegen, and top-k limit pushdown. Correctness
  * is pinned by the oracle gate; THESE specs pin the plans, so a future
  * edit that silently de-broadcasts a join or breaks pushdown fails CI
  * rather than only showing up at 100 TB.
  */
class PlanShapeSpec extends SparkFunSuite {

  private val sf = "/root/testdata/sf0.001"

  private def plan(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  test("q06: shipdate/discount/quantity filters are pushed to the parquet scan") {
    val p = plan(Relational.q06ForecastRevenue(spark, sf))
    assert(p.contains("PushedFilters:"), p)
    assert(p.contains("GreaterThanOrEqual(l_shipdate"), p)
    assert(p.contains("LessThan(l_quantity"), p)
  }

  test("q06: scan reads only the four referenced lineitem columns") {
    val p = plan(Relational.q06ForecastRevenue(spark, sf))
    val readSchema = p.linesIterator.filter(_.contains("ReadSchema:")).mkString
    assert(readSchema.contains("l_shipdate") && readSchema.contains("l_discount"), readSchema)
    // the 12 unused columns must be pruned from the scan
    assert(!readSchema.contains("l_comment") && !readSchema.contains("l_orderkey"), readSchema)
  }

  test("q05: all four dimension joins broadcast; no cartesian fallback") {
    val p = plan(Relational.q05LocalSupplierVolume(spark, sf))
    val broadcasts = p.linesIterator.count(_.contains("BroadcastHashJoin"))
    assert(broadcasts >= 4, s"expected >=4 broadcast joins, got $broadcasts\n$p")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  /** Count plan NODES of a kind via the details-section headers
    * ("(3) Exchange"), since the formatted explain prints each node twice
    * (tree + details).
    */
  private def nodes(p: String, name: String): Int =
    p.linesIterator.count(_.matches(s"\\(\\d+\\) $name.*"))

  test("q01: aggregation is partial (map-side combine) then final") {
    val p = plan(Relational.q01PricingSummary(spark, sf))
    assert(p.contains("partial_sum"), p)
    assert(nodes(p, "HashAggregate") == 2, s"expected partial+final HashAggregate\n$p")
    // shuffles: one exchange between partial and final agg, one for the sort
    assert(nodes(p, "Exchange") <= 2, s"unexpected extra shuffles\n$p")
  }

  test("q01: the aggregation pipeline stays inside whole-stage codegen") {
    // the AQE-wrapped initial plan omits codegen annotations; plan without
    // AQE to see the codegen ids (memory: plan.toString under AQE hides them)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val p = plan(Relational.q01PricingSummary(spark, sf))
      assert(p.contains("codegen id"), p)
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("q_topk_orders: order-by-limit compiles to TakeOrderedAndProject (no global sort)") {
    val p = plan(Relational.qTopKOrders(spark, sf))
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("date-partitioned layout: scan prunes partitions and pushes the residual filter") {
    import org.apache.spark.sql.functions._
    // the 100 TB layout: fact tables written partitioned by day so
    // time-bounded queries read only the matching directories
    val out = tmpDir("events-parted")
    Tables.events(spark, sf) // handles the parquet timestamp[ns] read
      .withColumn("event_date", to_date(col("ts")))
      .write.mode("overwrite").partitionBy("event_date").parquet(out)
    val days = spark.read.parquet(out).select("event_date").distinct().count()
    assert(days > 1, s"need multiple partitions to prove pruning, got $days")
    val minDay = spark.read.parquet(out).selectExpr("min(event_date)").first().getDate(0)
    val oneDay = spark.read.parquet(out)
      .filter(col("event_date") === lit(minDay) && col("event_type") === "click")
    val p = plan(oneDay)
    assert(p.contains("PartitionFilters:"), p)
    // the partition predicate must NOT appear as a data filter; the
    // event_type predicate must be pushed to the reader
    assert(p.contains("PushedFilters:") && p.contains("EqualTo(event_type,click)"), p)
  }

  test("q_bloom_join: bloom probe on the fact scan, equi hash join above") {
    val p = plan(JoinShapes.qBloomJoin(spark, sf))
    // the probe predicate is planned natively inside a Filter over the
    // lineitem scan (construction puts it below the join; the UDF-free
    // probe plan is separately pinned by BloomPruneSpec)
    val filterDetail = p.linesIterator.filter(_.contains("might_contain")).mkString
    assert(filterDetail.contains("l_orderkey"), s"probe must hash the fact key\n$p")
    assert(p.contains("HashJoin"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q_contamination: the benchmark shingle set joins as a broadcast") {
    val (out, sh) = Corpus.contaminationPlan(spark, sf)
    try {
      val p = plan(out)
      assert(p.contains("BroadcastHashJoin"), p)
      assert(!p.contains("SortMergeJoin"), s"corpus side must not shuffle on the shingle\n$p")
    } finally sh.unpersist()
  }

  test("q_dedup_embedding: blocked pair join plans no nested loop") {
    val p = plan(Dedup.qDedupEmbedding(spark, sf))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("q_events_funnel: both window passes share one user_id shuffle") {
    val p = plan(Events.qEventsFunnel(spark, sf))
    // two Window nodes, but only one hashpartitioning exchange on user_id
    // feeds them (plus the final presentation sorts) — no per-step joins
    assert(nodes(p, "Window") === 2, p)
    assert(!p.contains("Join"), p)
    val userExchanges = p.linesIterator
      .count(l => l.contains("hashpartitioning(user_id"))
    assert(userExchanges <= 1, s"expected a single user_id exchange\n$p")
  }

  test("q_events_retention: cohort join strategy is AQE's choice, never a nested loop") {
    // The cohort relation is per-user-sized: broadcast is right at test
    // scale but would exceed broadcast limits at billions of users, so the
    // query carries NO hint — either hash strategy is acceptable, only a
    // nested-loop/cartesian shape is a bug.
    val p = plan(Events.qEventsRetention(spark, sf))
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin")
      || p.contains("ShuffledHashJoin"), p)
    assert(!p.contains("NestedLoop") && !p.contains("Cartesian"), p)
  }

  test("q_triangles: wedge stream closes against broadcasts, no sort-merge join") {
    // under the edge cap BOTH the wedge-generation join and the closing
    // semi-join must be broadcast hash joins — the Σdeg²-row wedge stream
    // never hits an exchange (see Graph.triangleCounts)
    val p = plan(Graph.qTriangles(spark, sf))
    assert(nodes(p, "BroadcastHashJoin") >= 2, p)
    assert(!p.contains("SortMergeJoin") && !p.contains("Cartesian"), p)
  }

  test("q_basket_rules: top-20 cut happens before the support joins") {
    // TakeOrderedAndProject must sit BELOW the support joins in the tree
    // (the joins see 20 rows, not every pair) — the formatted tree lists
    // children before parents, so the take must appear before any join
    val p = plan(Graph.qBasketRules(spark, sf))
    val lines = p.linesIterator.toSeq
    val take = lines.indexWhere(_.contains("TakeOrderedAndProject"))
    val firstJoin = lines.indexWhere(_.contains("Join"))
    assert(take >= 0 && firstJoin >= 0, p)
    assert(nodes(p, "TakeOrderedAndProject") >= 1, p)
  }

  test("q_sparse_sim_join: posting self-join is an equi join, never cartesian") {
    val p = plan(TextAnalysis.qSparseSimJoin(spark, sf))
    // the only nested loops allowed are the 1-row scalar cross joins
    // (the broadcast-scalar pattern); the posting-pair join itself must
    // be a hash/merge equi join and nothing may plan a cartesian product
    assert(!p.contains("CartesianProduct"), p)
    // at most the four 1-row scalar cross joins: corpus-N and the
    // data-derived df band, one of each per posting side
    assert(nodes(p, "BroadcastNestedLoopJoin") <= 4, p)
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
      || p.contains("BroadcastHashJoin"), p)
    // final top-20 avoids a global sort
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q_skyline: local prune partitions by _pid; no joins anywhere") {
    val p = plan(RelationalExt.qSkyline(spark, sf))
    // phase 1 windows over SPARK_PARTITION_ID (partition-local, its
    // exchange is on _pid, not a global collapse); phase 2's global
    // windows only ever see phase-1 survivors; dominance is pure window
    // work — no self-join
    assert(!p.contains("Join"), p)
    assert(p.contains("SPARK_PARTITION_ID()"), p)
    assert(p.contains("hashpartitioning(_pid"), p)
    assert(nodes(p, "Window") >= 3, p)
  }

  test("q_ngram_novelty: aggregates are map-side partial, no joins wider than doc-dim") {
    val p = plan(TextAnalysis.qNgramNovelty(spark, sf))
    // every aggregate (min-per-shingle + both doc counts + the final
    // merge) must run partial-then-final; no cartesian/nested-loop shape
    assert(p.contains("partial_min") || p.contains("partial_count"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"), p)
  }

  test("q_source_drift: comparison sources broadcast; token alignment is an equi join") {
    val p = plan(TextAnalysis.qSourceDrift(spark, sf))
    // the two 1-row source relations broadcast into the count filters and
    // the final enrichment; the full-outer token alignment must be a
    // hash/merge equi join, never a cartesian over the vocabulary
    assert(nodes(p, "BroadcastExchange") >= 2, p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
      || p.contains("BroadcastHashJoin"), p)
  }

  test("q_quality_gate: one source exchange feeds both window functions") {
    val p = plan(Corpus.qQualityGate(spark, sf))
    // row_number and the partition count share the source partitioning:
    // two Window nodes but only three exchanges total (windows, final
    // aggregate, presentation sort) — a second per-window exchange or a
    // window feeding from an unsorted shuffle would push this to four
    assert(nodes(p, "Window") === 2, p)
    assert(nodes(p, "Exchange") <= 3, s"expected <=3 exchanges\n$p")
    // the median relation joins back via broadcast (dimension-sized)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_interval_overlap: bucketized overlap is an equi hash join, never a nested loop") {
    val p = plan(JoinShapes.qIntervalOverlap(spark, sf))
    // the (key, bucket) equi join carries the overlap + dedup residuals —
    // a theta formulation would plan a cartesian/nested loop here
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"), p)
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
      || p.contains("BroadcastHashJoin"), p)
    // final top-20 avoids a global sort
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q_stats_manifest: each union branch scans exactly one pruned column, no Expand") {
    val p = plan(Checks.qStatsManifest(spark, sf))
    // the multi-distinct single-pass shape planned an Expand that amplified
    // every wide row x7 through one exchange (measured 10x slower at sf0.1)
    assert(!p.contains("Expand"), p)
    val readSchemas = p.linesIterator.filter(_.contains("ReadSchema:")).toSeq
    assert(readSchemas.size == 7, s"expected 7 single-column scans\n$p")
    // every scan reads a single column: its ReadSchema has no comma
    readSchemas.foreach(rs => assert(!rs.contains(","), s"unpruned scan: $rs"))
    assert(p.contains("partial_count(distinct"), p)
  }

  test("q_dup_ngrams: partial-combined aggregate, top-20 without a global sort") {
    val p = plan(TextAnalysis.qDupNgrams(spark, sf))
    assert(p.contains("partial_count"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q_embed_outliers: the dimension-sized sums relation joins as a broadcast") {
    val p = plan(EmbedStats.qEmbedOutliers(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"), p)
  }

  test("q_sssp: the assembled distance plan has no nested loop and a pushed top-k") {
    // rounds materialize eagerly (localCheckpoint), so this sees the final
    // assembly; per-round join strategy is pinned by GraphSpec's
    // frontier==exhaustive equality, which would diverge on a wrong join
    val p = plan(Graph.qSssp(spark, sf))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q_ppr: per-round joins are equi joins over checkpointed relations, no parquet re-read") {
    // iters=3 means no mid-loop checkpoint: the returned plan contains all
    // three rounds' joins, so this pins the PER-ROUND shape directly
    val p = plan(Graph.qPersonalizedPr(spark, sf))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // the edge/vertex relations are localCheckpointed before the loop —
    // a parquet scan here would mean the rounds re-plan the source reads
    assert(!p.contains("Scan parquet"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("bfs round: frontier expansion is an equi join against the persisted edge relation") {
    import org.apache.spark.sql.functions._
    val e = Tables.table(spark, sf, "lineitem")
      .select(col("l_orderkey").as("src"), col("l_partkey").as("dst"))
      .persist()
    try {
      val frontier = e.agg(min(col("src")).as("v")).withColumn("d", lit(0L)).localCheckpoint()
      val p = plan(Graph.bfsRound(e, frontier, frontier, 1L))
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
      // the big side must come from the persisted edge relation, not a
      // fresh per-round parquet plan: every parquet scan in the explain is
      // one EMBEDDED in an InMemoryRelation definition, none live
      assert(p.contains("InMemoryTableScan"), p)
      assert(nodes(p, "Scan parquet") <= nodes(p, "InMemoryRelation"), p)
    } finally e.unpersist()
  }

  test("sssp round: relax + merge are equi joins against the persisted edge relation") {
    import org.apache.spark.sql.functions._
    val e = Tables.table(spark, sf, "lineitem")
      .select(col("l_orderkey").as("src"), col("l_partkey").as("dst"),
        col("l_quantity").cast("long").as("w"))
      .persist()
    try {
      val dist = e.agg(min(col("src")).as("v")).withColumn("d", lit(0L)).localCheckpoint()
      val p = plan(Graph.ssspRound(e, dist, dist))
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
      assert(p.contains("InMemoryTableScan"), p)
      assert(nodes(p, "Scan parquet") <= nodes(p, "InMemoryRelation"), p)
    } finally e.unpersist()
  }

  test("pq index serving: codes scanned from the index; full vectors only for queries + shortlist") {
    import org.apache.spark.sql.functions.col
    val emb = Tables.table(spark, sf, "embeddings")
    val indexDir = tmpDir("pq-plan-index")
    VectorSearch.writePqIndex(emb, col("vec_id"), col("embedding"), indexDir)
    val p = plan(VectorSearch.pqTopKFromIndexPlan(
      emb, col("vec_id"), col("embedding"), indexDir,
      queryIds = Seq(0L, 7L, 13L), k = 5, shortlist = 50))
    // the corpus-sized scan is the 64×-compressed codes relation from the
    // stored index, not the full-vector table
    assert(p.contains("codes.parquet"), p)
    // full-vector scans: the two query-row reads carry a pushed In(vec_id)
    // filter; the ONLY unfiltered read is the shortlist join probe
    val embScans = p.linesIterator.count(l =>
      l.contains("Location:") && l.contains("embeddings.parquet"))
    val pushedIn = p.linesIterator.count(l =>
      l.contains("PushedFilters:") && l.contains("In(vec_id"))
    assert(pushedIn >= 2, s"query-row scans must push In(vec_id): $pushedIn\n$p")
    assert(embScans - pushedIn <= 1,
      s"at most one unfiltered full-vector scan (the shortlist probe); " +
        s"got $embScans scans, $pushedIn pushed\n$p")
  }

  test("q_cohort_ltv: event-type filters push to the scan; signup side broadcasts") {
    val p = plan(Events.qCohortLtv(spark, sf))
    assert(p.contains("PushedFilters:"), p)
    assert(p.contains("EqualTo(event_type,purchase)"), p)
    assert(p.contains("EqualTo(event_type,signup)"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_attribution_decay: the touch-purchase pairing is a user equi join, never a cartesian") {
    val p = plan(Events.qAttributionDecay(spark, sf))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("partial_sum") || p.contains("partial_count"), p)
  }

  test("dup spans: flagging is a linear join, never a pair join or nested loop") {
    val p = plan(Dedup.qDupSpans(spark, sf))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // occurrence-side flagging joins window rows against the dup-gram SET
    // (count>=2 aggregate), so the gram relation appears under an
    // aggregate — a gram-keyed self-join of raw occurrences would not
    assert(p.contains("partial_count") || p.contains("partial_sum"), p)
  }

  test("overlap spans: the probe is a left-semi join against the gram set") {
    val p = plan(Dedup.qOverlapSpans(spark, sf))
    assert(p.contains("LeftSemi"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("encoding stats: each branch scans only its three columns") {
    val p = plan(Checks.qEncodingStats(spark, sf))
    val schemas = p.linesIterator.filter(_.contains("ReadSchema:")).toSeq
    assert(schemas.nonEmpty, p)
    // no branch drags the wide lineitem row through its window+aggregate
    assert(schemas.forall(s => !s.contains("l_comment") && !s.contains("l_extendedprice")),
      schemas.mkString("\n"))
  }

  test("skipping stats / assortativity: no nested-loop anywhere in the layout or moment passes") {
    val p1 = plan(Graph.qAssortativity(spark, sf))
    assert(!p1.contains("CartesianProduct") && !p1.contains("BroadcastNestedLoopJoin"), p1)
    assert(p1.contains("partial_sum"), p1) // moments combine map-side
  }

  test("compaction plan: one hash exchange on the window key; manifest scan reads 3 columns") {
    val p = plan(Layout.qCompactionPlan(spark, sf))
    // the window's hashpartitioning(source) is the plan's only full-width
    // exchange besides the presentation sort's range exchange
    val hashEx = p.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning"))
    assert(hashEx <= 2, s"expected <=2 hash exchanges (window + group-by reuse), got $hashEx\n$p")
    val readSchema = p.linesIterator.filter(_.contains("ReadSchema:")).mkString
    assert(readSchema.contains("source") && readSchema.contains("doc_id")
      && readSchema.contains("text"), readSchema)
    assert(!readSchema.contains("lang") && !readSchema.contains("n_chars"),
      s"manifest plan must prune unused columns: $readSchema")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("zone-map build: partial min/max below the granule exchange; domain attach broadcasts") {
    import org.apache.spark.sql.functions._
    // the health queries return checkpointed (granule-count-sized) results,
    // so guard the builder recipe they run internally: rank → granule →
    // min/max zone maps, then the 1-row domain attach over the map relation
    val keyed = Tables.table(spark, sf, "lineitem").select(
      col("l_orderkey").as("ok"), col("l_linenumber").as("ln"),
      col("l_quantity").cast("long").as("qty"),
      (col("l_extendedprice") * 100).cast("long").as("pc"))
      .withColumn("zk", Layout.zkey2(
        Layout.quantize(col("qty"), 0d, 51d, 8),
        Layout.quantize(col("pc").cast("double") / 100d, 900d, 105000d, 8), 8))
    val zm = Rank.globalRank(keyed, Seq(col("zk"), col("ok"), col("ln")), 8)
      .select(expr(s"(rnk - 1) DIV ${Layout.RowsPerFile}").as("f"), col("qty"), col("pc"))
      .groupBy(col("f"))
      .agg(min(col("qty")).as("qmin"), max(col("qty")).as("qmax"),
        min(col("pc")).as("pmin"), max(col("pc")).as("pmax"))
    val p = plan(zm)
    assert(p.contains("partial_min") && p.contains("partial_max"),
      s"zone-map min/max must combine map-side\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // the domain attach: 1-row aggregate cross-joined in — must broadcast
    val dom = keyed.agg((max(col("qty")) - min(col("qty")) + 1).as("qdom"))
    val attached = zm.crossJoin(broadcast(dom))
      .agg(count(lit(1)).as("n_files"), first(col("qdom")).as("dom"))
    val p2 = plan(attached)
    assert(nodes(p2, "BroadcastNestedLoopJoin") <= nodes(p2, "BroadcastExchange"),
      s"the 1-row attach must ride a broadcast\n$p2")
    assert(!p2.contains("CartesianProduct"), p2)
  }

  test("view refresh: stored view scanned once, delta keys broadcast into the anti join") {
    val p = plan(JoinShapes.qViewRefresh(spark, sf))
    // the anti filter and the re-enrichment both ride broadcasts — the
    // stored view and the fact table are never shuffled on the join key
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"), p)
    val anti = p.linesIterator.count(l =>
      l.contains("BroadcastHashJoin") && l.contains("LeftAnti"))
    assert(anti >= 1, s"anti join must broadcast the delta keys\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"refresh must not key-shuffle the stored view or facts\n$p")
    assert(!p.contains("CartesianProduct"), p)
    // and the stored join-view artifact is one of the scans
    assert(p.contains("join-view-"), p)
  }

  test("semdedup: within-cluster pair stage is an equi-join, never a nested loop") {
    import org.apache.spark.sql.functions.col
    val emb = Tables.table(spark, sf, "embeddings")
    val (df, caches) = VectorSearch.semDedupPlan(
      emb, col("vec_id"), col("embedding"), graft.ops.Similarity.SemThreshold,
      VectorSearch.IvfConfig(), blocks = 8)
    val p = plan(df)
    caches.foreach(_.unpersist())
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
      || p.contains("BroadcastHashJoin"), s"expected an equi-join:\n$p")
  }

  test("semdedup stored-index gate: buckets read from the index, bucket equi-join, no nested loop") {
    import org.apache.spark.sql.functions.{col, pmod, lit}
    val emb = Tables.table(spark, sf, "embeddings")
    val corpus = emb.filter(pmod(col("vec_id"), lit(5)) =!= 0)
    val incoming = emb.filter(pmod(col("vec_id"), lit(5)) === 0)
    val indexDir = tmpDir("semdedup-plan-index")
    VectorSearch.writeIvfIndex(corpus, col("vec_id"), col("embedding"), indexDir)
    val (df, caches) = VectorSearch.semDedupIncrementalFromIndexPlan(
      corpus, incoming, col("vec_id"), col("embedding"), indexDir,
      graft.ops.Similarity.SemThreshold)
    val p = plan(df)
    caches.foreach(_.unpersist())
    // the corpus bucket assignment comes from the stored index, not a
    // fresh per-batch re-assignment pass
    assert(p.contains("buckets.parquet"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("lsh stored-index serving: signatures scanned from the index, no recomputation, query scans push In(id)") {
    import org.apache.spark.sql.functions.col
    val emb = Tables.table(spark, sf, "embeddings")
    val indexDir = tmpDir("lsh-plan-index")
    VectorSearch.writeLshIndex(emb, col("vec_id"), col("embedding"), indexDir)
    val p = plan(VectorSearch.lshTopKFromIndexPlan(
      emb, col("vec_id"), col("embedding"), indexDir, Similarity.QueryIds, Similarity.K))
    // the corpus-sized signature relation comes from the stored index —
    // the serving plan never re-projects the hyperplanes (bandedSignatures
    // would show the quantization transform + 32 dot products)
    assert(p.contains("sigs.parquet"), p)
    assert(!p.contains("shiftrightunsigned"), s"signature recomputation in the serving plan:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // full-vector reads: the query-row scan pushes In(vec_id); the only
    // unfiltered embedding scan is the candidate re-rank probe
    val embScans = p.linesIterator.count(l =>
      l.contains("Location:") && l.contains("embeddings.parquet"))
    val pushedIn = p.linesIterator.count(l =>
      l.contains("PushedFilters:") && l.contains("In(vec_id"))
    assert(pushedIn >= 1, s"query-row scan must push In(vec_id):\n$p")
    assert(embScans - pushedIn <= 1,
      s"at most one unfiltered full-vector scan; got $embScans scans, $pushedIn pushed\n$p")
  }

  test("bm25 stored-index serving: In(w) pushed to the postings scan, corpus text never read") {
    import org.apache.spark.sql.functions.col
    val indexDir = tmpDir("bm25-plan-index")
    TextAnalysis.writeSearchIndex(
      Tables.table(spark, sf, "documents"), col("doc_id"), col("text"), indexDir)
    val p = plan(TextAnalysis.bm25TopKFromIndex(
      spark, indexDir, TextAnalysis.Bm25QueryTerms, 10))
    assert(!p.contains("documents.parquet"), p)
    assert(p.contains("postings.parquet"), p)
    assert(p.linesIterator.exists(l => l.contains("PushedFilters:") && l.contains("In(w")), p)
  }

  test("fk audit: anti-joins never degrade to nested loops; dimension parents broadcast") {
    val p = plan(Checks.qFkAudit(spark, sf))
    assert(!p.contains("CartesianProduct"), p)
    // BroadcastNestedLoopJoin appears ONLY as the 1-row count cross-joins
    // (n_rows x n_orphans), never carrying a join condition — check the
    // plan-tree lines (the detail section repeats bare node names)
    val nlJoins = p.linesIterator
      .filter(l => l.contains("BroadcastNestedLoopJoin") && l.contains("- "))
      .toSeq
    assert(nlJoins.nonEmpty && nlJoins.forall(_.contains("Cross")), nlJoins.mkString("\n"))
    val broadcasts = p.linesIterator.count(l =>
      l.contains("BroadcastHashJoin") && l.contains("LeftAnti"))
    assert(broadcasts >= 4, s"expected >=4 broadcast anti-joins, got $broadcasts\n$p")
  }

  test("agg refresh: base view read from storage; only the delta scans documents") {
    val p = plan(JoinShapes.qAggRefresh(spark, sf))
    // the stored aggregate is scanned, not recomputed from the base corpus
    assert(p.contains("view.parquet"), p)
    // exactly one documents scan (the delta), carrying the delta predicate
    val docScans = p.linesIterator.count(l =>
      l.contains("Location:") && l.contains("documents.parquet"))
    assert(docScans == 1, s"expected exactly one documents scan (the delta), got $docScans\n$p")
    assert(p.contains("pmod(doc_id"), p)
  }

  test("hub transform read->cast->constants plan is shuffle-free") {
    import org.apache.spark.sql.functions.lit
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("origin_date", DateType), StructField("target", StringType),
      StructField("horizon", LongType), StructField("location", StringType),
      StructField("output_type", StringType), StructField("output_type_id", StringType),
      StructField("value", DoubleType)))
    val df = graft.hub.ModelOutputReader
      .readCsv(spark, resource("unit/data/2024-07-07-teamabc-output_type_ids_numeric.csv"), schema)
      .withColumn("round_id", lit("2024-07-07")).withColumn("model_id", lit("teamabc"))
    val p = plan(df)
    assert(!p.contains("Exchange"), p)
  }

  test("chunk windows: pure explode, no exchange before the presentation sort") {
    val df = Corpus.qChunkWindows(spark, sf)
    val pl = plan(df)
    // exactly the presentation sort's range exchange; the chunk explode
    // itself is a map-side Generate over the token array (count exchange
    // NODES via the details-section headers, not raw substring hits)
    val exchanges = "\\(\\d+\\) Exchange".r.findAllIn(pl).length
    assert(exchanges <= 1, s"chunking must not shuffle: $exchanges exchanges\n$pl")
    assert(pl.contains("Generate"), pl)
  }

  test("token waterfill: rates and waterline ride broadcasts, one source-sized window") {
    val pl = plan(Corpus.qTokenWaterfill(spark, sf))
    val bc = pl.linesIterator.count(_.contains("BroadcastExchange"))
    assert(bc >= 2, s"budget + waterline should attach as broadcasts\n$pl")
    assert(!pl.contains("SortMergeJoin"), s"nothing here is big enough to sort-merge\n$pl")
  }

  test("segment dedup: hot fingerprints broadcast back, corpus never shuffles on the segment string") {
    val segs = Dedup.qSegmentDedup(spark, sf) // materialized relation; plan the builder instead
    assert(segs.count() > 0)
    // builder-shaped probe: the hot-set join must be a broadcast hash join
    val docs = Tables.table(spark, sf, "documents")
      .select(col("doc_id"), TextOps.tokens(col("text")).as("t"))
      .withColumn("n", size(col("t")).cast("long"))
      .select(col("doc_id"), col("n"),
        explode(transform(sequence(lit(0), ((col("n") - 1) / lit(Dedup.SegLen)).cast("int")),
          i => slice(col("t"), i * Dedup.SegLen + 1, lit(Dedup.SegLen)))).as("seg"))
      .select(col("doc_id"), md5(concat_ws(" ", col("seg"))).as("fp"))
    val hot = broadcast(docs.groupBy(col("fp")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= Dedup.SegBoilerDf).select(col("fp")))
    val pl = plan(docs.join(hot, Seq("fp")))
    assert(pl.contains("BroadcastHashJoin"), pl)
    assert(!pl.contains("SortMergeJoin"), pl)
  }

  test("intake: near-dup/semantic probes serve from stored artifacts, gram set broadcast") {
    // the composed cascade materializes via localCheckpoints; pin the
    // decisive sub-plan — the contamination join of arrival shingles
    // against the (bounded) bench-gram set must broadcast the gram side
    val docs = Tables.table(spark, sf, "documents")
    val corpus = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)
    val benchSh = TextDedup.shingles(
      corpus.filter(pmod(col("doc_id"), lit(7)) === 0),
      col("doc_id"), col("text"), Dedup.ShingleK)
    val grams = benchSh.select(col("s")).distinct()
    val arrSh = TextDedup.shingles(
      docs.filter(pmod(col("doc_id"), lit(5)) === 0),
      col("doc_id"), col("text"), Dedup.ShingleK)
    val pl = plan(arrSh.join(broadcast(grams), Seq("s")))
    assert(pl.contains("BroadcastHashJoin"), pl)
    assert(!pl.contains("SortMergeJoin"), pl)
    benchSh.unpersist(); arrSh.unpersist()
  }

  test("topic tagging joins the taxonomy broadcast and argmaxes without a window sort") {
    val p = plan(TextAnalysis.qTopicTags(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    // per-doc dominant topic is a hash aggregate, not a row_number window;
    // the only window is the |sources|·|topics|-row mixture share
    assert(!p.contains("row_number"), p)
  }

  test("ppl buckets: per-source windows never collapse to a single partition") {
    val p = plan(TextAnalysis.qPplBuckets(spark, sf))
    assert(!p.contains("Exchange SinglePartition"), p)
  }

  test("label propagation argmax is a hash aggregate, not a window sort") {
    val p = plan(Graph.labelPropagation(Graph.coOrderEdges(spark, sf), rounds = 1))
    assert(!p.contains("Window"), p)
  }

  test("recall-retrain serving reads stored index relations, never trains in-plan") {
    val p = plan(Similarity.qRecallRetrain(spark, sf))
    // both serving branches read MATERIALIZED relations (stored index
    // loads + the checkpointed exact baseline appear as ExistingRDD
    // scans) rather than embedding the Lloyd training chain, whose
    // per-iteration aggregates would dwarf this plan's node count
    // (~24 partial+final HashAggregates for recall + two serving paths;
    // one trained index alone adds 2 per Lloyd iteration)
    assert(p.contains("Scan ExistingRDD"), p)
    assert(p.linesIterator.count(_.contains("HashAggregate")) < 30, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("quality classifier applies as a broadcast weight join, never sort-merging the held-out stream") {
    val p = plan(TextAnalysis.qQualityClassifier(spark, sf))
    // the vocab-sized weight table and the 1-row totals ride broadcasts
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    // train + apply are hash aggregates with map-side partials
    assert(p.contains("HashAggregate"), p)
    assert(!p.contains("row_number"), p)
  }

  test("epoch order: prefix windows stay per-(epoch,shard), never one partition") {
    val p = plan(Corpus.qEpochOrder(spark, sf))
    assert(!p.contains("Exchange SinglePartition"), p)
    // the epoch multiply is a generate, not a join
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("bm25/phrase top-k: heap-based TakeOrdered feeds the rank window, never a corpus-wide window") {
    for (df <- Seq(TextAnalysis.qBm25TopK(spark, sf),
        TextAnalysis.qPhraseSearch(spark, sf))) {
      val p = plan(df)
      // the global top-k is per-partition heaps; the single-partition rank
      // window sees only the k survivors (in the formatted tree, parents
      // print first — the Window must sit ABOVE the TakeOrdered it feeds on)
      assert(p.contains("TakeOrderedAndProject"), p)
      val tree = p.linesIterator.takeWhile(!_.startsWith("(")).toSeq
      val wIdx = tree.indexWhere(_.contains("Window"))
      val tIdx = tree.indexWhere(_.contains("TakeOrderedAndProject"))
      assert(tIdx >= 0 && (wIdx === -1 || wIdx < tIdx), p)
    }
  }

  test("doc repetition: one scan, zero shuffle — a pure projection plus the presentation sort") {
    val p = plan(TextAnalysis.qDocRepetition(spark, sf))
    // the profile is a per-row codegen expression: one scan, no explode,
    // no aggregate, no join, no window — the ONLY exchange is the final
    // doc_id presentation sort (count file-index lines: formatted explain
    // prints each scan node twice, tree + detail section)
    assert(p.linesIterator.count(_.contains("Location: InMemoryFileIndex")) === 1, p)
    assert(!p.contains("Generate"), p)
    assert(!p.contains("HashAggregate"), p)
    assert(!p.contains("Join"), p)
    assert(!p.contains("Window"), p)
    // one exchange prints twice (tree node + detail header)
    assert(p.linesIterator.count(_.contains("Exchange")) <= 2, p)
  }

  test("lm-rank family serves from the memoized rank artifact, not a rebuild") {
    // the four family queries share ONE stored score+rank build — their
    // serving plans scan the lm-bigram-rank artifact and never re-run the
    // bigram pipeline over documents
    for (df <- Seq(TextAnalysis.qLmBigramScoreServed(spark, sf),
        TextAnalysis.qQualityBuckets(spark, sf))) {
      val p = plan(df)
      assert(p.contains("lm-bigram-rank-"), p)
      assert(!p.contains("documents.parquet"), p)
    }
    // the dup matrix still scans documents for its DUP side, but its rank
    // side must come from the artifact too
    val pm = plan(TextAnalysis.qQualityDupMatrix(spark, sf))
    assert(pm.contains("lm-bigram-rank-"), pm)
  }

  test("curriculum mix: epoch explode over the ranked relation, no single-reducer rank window") {
    // qCurriculumMix returns a localCheckpointed result whose explain is
    // just the RDD scan — guard the LAZY plan instead
    val (out, ranked) = TextAnalysis.curriculumMixLazy(spark, sf)
    try {
      val p = plan(out)
      // the plan is real (the epoch aggregate is visible) ...
      assert(p.contains("HashAggregate"), p)
      assert(p.contains("Generate"), p)
      // ... and ranking is the two-pass range-partitioned globalRank — NO
      // window function anywhere (a global row_number would serialize the
      // corpus through one partition)
      assert(!p.contains("Window"), p)
      assert(!p.contains("CartesianProduct"), p)
    } finally ranked.unpersist()
  }

  test("stored-model classifier serves without training aggregates in the plan") {
    val p = plan(TextAnalysis.qQualityClassifierIndexed(spark, sf))
    // apply reads the stored weight/total parquets and broadcasts them;
    // the training pass (explode→count aggregate over the 80% split)
    // must NOT be in the serving plan — the weights scan replaces it
    assert(p.contains("weights.parquet"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    // the in-session variant trains in-plan: 2 corpus scans vs 1 here
    val scans = p.linesIterator.count(_.contains("Scan parquet"))
    val trained = plan(TextAnalysis.qQualityClassifier(spark, sf))
      .linesIterator.count(_.contains("Scan parquet"))
    assert(scans < trained, s"served=$scans trained=$trained")
  }

  test("classifier-gated pipeline scores from the stored model with a broadcast weight join") {
    val p = plan(Pipeline.gatedScored(spark, sf))
    // the gate SERVES the trained model: weight/total parquets are
    // scanned and broadcast; no training aggregate, no sort-merge join,
    // no window anywhere on the scoring path
    assert(p.contains("weights.parquet"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("Window"), p)
    // exactly one corpus scan feeds the exploded-token stream
    assert(p.linesIterator.count(_.contains("documents.parquet")) === 1, p)
  }

  test("epoch mixing audit: two hash aggregates, no window, no single-partition funnel") {
    val p = plan(Corpus.qEpochMixing(spark, sf))
    assert(p.contains("HashAggregate"), p)
    assert(p.contains("Generate"), p) // the epoch explode
    assert(!p.contains("Window"), p)
    assert(!p.contains("SinglePartition"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("batch buckets / burst dedup: one hash aggregate, no explode, no window, no join") {
    Seq(Corpus.qBatchBuckets(spark, sf),
        Multimodal.qExifBurstDedup(spark, sf)).foreach { df =>
      val p = plan(df)
      assert(p.contains("HashAggregate"), p)
      // token counting is the native expression, geo/time keys are byte
      // walks — neither tokenizes-and-explodes
      assert(!p.contains("Generate"), p)
      assert(!p.contains("Window"), p)
      assert(!p.contains("Join"), p)
      assert(!p.contains("SinglePartition"), p)
    }
  }

  test("media walkers run as one narrow projection: no shuffle before the presentation sort") {
    Seq(Multimodal.qMultimodalExif(spark, sf),
        Multimodal.qMultimodalExifMeta(spark, sf),
        Multimodal.qMultimodalAudioFrames(spark, sf)).foreach { df =>
      val p = plan(df)
      // exactly the exchanges of the final orderBy (range partitioning),
      // never a hash-partition shuffle of the payload stream
      assert(!p.contains("Exchange hashpartitioning"), p)
      assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"), p)
    }
  }

  test("stored bucketed tables re-register from their files when the catalog lost them") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val (ln, on) = Artifacts.ensureBucketedTables(spark, sf)
    def storedFiles(): Map[String, Long] = {
      val root = Paths.get(graft.ServingIndexes.ensure("bucketed-tables", sf)(_ =>
        fail("bucketed-tables for this dir must already be built")))
      val walk = Files.walk(root)
      try walk.iterator().asScala.filter(Files.isRegularFile(_))
        .map(f => f.toString -> Files.getLastModifiedTime(f).toMillis).toMap
      finally walk.close()
    }
    val before = storedFiles()
    assert(before.nonEmpty)
    // both tables are external: dropping them keeps the stored files,
    // as a fresh session's empty catalog would
    spark.sql(s"DROP TABLE $ln")
    spark.sql(s"DROP TABLE $on")
    assert(Artifacts.ensureBucketedTables(spark, sf) == ((ln, on)))
    assert(storedFiles() == before, "the stored files were rewritten")

    val joined = JoinShapes.qBucketedJoin(spark, sf)
    val p = joined.queryExecution.executedPlan.toString
    val joinSection = p.split("HashAggregate").last
    assert(!joinSection.contains("Exchange hashpartitioning(l_orderkey") &&
      !joinSection.contains("Exchange hashpartitioning(o_orderkey"),
      s"join still shuffles:\n$p")
    val plain = Tables.table(spark, sf, "lineitem")
      .join(Tables.table(spark, sf, "orders"), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_items"), Tables.dsum(col("l_extendedprice")).as("sum_price"))
      .orderBy(col("o_orderpriority"))
    assert(joined.collect().toSeq == plain.collect().toSeq)
  }
}
