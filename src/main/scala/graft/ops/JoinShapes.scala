package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import Tables._

/** Oracle-gated bindings for the JOIN-SHAPE operators ([[RangeJoin]],
  * [[Skew]], bucketed co-located joins): each was previously pinned by
  * plan-shape specs only; these queries put them under the DuckDB hash
  * gate too. The salted and bucketed queries intentionally aggregate to
  * compact deterministic outputs — the property under test is that the
  * exotic join STRATEGY leaves the result multiset identical to the plain
  * join the oracle states.
  */
object JoinShapes {

  /** Bucketed interval join: events inside a 1-hour window after each
    * purchase by the same user — point-in-interval via [[RangeJoin]]'s
    * time-bucket equi-join (hash-partitioned on (user, bucket) + exact
    * residual), never a nested loop.
    */
  def qRangeJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
    val intervals = ev
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("ukey"), col("event_id").as("window_id"),
        col("ts").as("w_start"), (col("ts") + expr("INTERVAL 1 HOUR")).as("w_end"))
    RangeJoin.pointInInterval(
      ev.select(col("user_id"), col("event_id"), col("ts")),
      intervals,
      pointTs = "ts", start = "w_start", end = "w_end", bucketSeconds = 3600L,
      pointKey = Some("user_id"), intervalKey = Some("ukey"))
      .groupBy(col("user_id"), col("window_id"))
      .agg(count(lit(1)).as("n_events"))
      .orderBy(col("user_id"), col("window_id"))
  }

  val qRangeJoinSql: String =
    """WITH e AS (
      |  SELECT event_id, date_trunc('microseconds', ts) AS ts, user_id, event_type
      |  FROM events
      |), p AS (
      |  SELECT user_id AS ukey, event_id AS window_id, ts AS w_start,
      |    ts + INTERVAL 1 HOUR AS w_end
      |  FROM e WHERE event_type = 'purchase'
      |)
      |SELECT e.user_id, p.window_id, count(*) AS n_events
      |FROM p JOIN e ON e.user_id = p.ukey AND e.ts >= p.w_start AND e.ts < p.w_end
      |GROUP BY 1, 2
      |ORDER BY 1, 2""".stripMargin

  /** Interval×interval overlap join ([[RangeJoin.intervalOverlap]]):
    * top-20 customers by pairs of their own orders simultaneously in
    * flight — each order's fulfillment interval spans
    * [o_orderdate, max l_shipdate] in whole days. The interval dual of
    * [[qRangeJoin]]'s point-in-interval: Catalyst has no equi key for
    * `s_a <= e_b AND s_b <= e_a`, so the 720-day bucket explosion (the
    * generator's fulfillment intervals average ~720 days — bucket near the
    * median length keeps replication ~2x) + the
    * first-shared-bucket dedup make it a hash join; the oracle states the
    * plain theta self-join.
    */
  def qIntervalOverlap(spark: SparkSession, dir: String): DataFrame = {
    val ship = table(spark, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(max(expr("datediff(l_shipdate, DATE '1970-01-01')")).as("e"))
    val iv = table(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"),
        expr("datediff(o_orderdate, DATE '1970-01-01')").as("s"))
      .join(ship, col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("c"), col("o_orderkey").as("okey"),
        col("s"), col("e"))
    RangeJoin.intervalOverlap(iv, key = "c", id = "okey",
        s = "s", e = "e", bucketSize = 720L)
      .groupBy(col("k").as("custkey"))
      .agg(count(lit(1)).as("n_overlaps"))
      .orderBy(col("n_overlaps").desc, col("custkey"))
      .limit(20)
  }

  val qIntervalOverlapSql: String =
    """WITH mx AS (
      |  SELECT l_orderkey, max(CAST(l_shipdate AS DATE)) AS mship
      |  FROM lineitem GROUP BY 1
      |), iv AS (
      |  SELECT o.o_custkey AS c, o.o_orderkey AS okey,
      |    CAST(o.o_orderdate AS DATE) - DATE '1970-01-01' AS s,
      |    mx.mship - DATE '1970-01-01' AS e
      |  FROM orders o JOIN mx ON mx.l_orderkey = o.o_orderkey
      |)
      |SELECT a.c AS custkey, count(*) AS n_overlaps
      |FROM iv a JOIN iv b
      |  ON a.c = b.c AND a.okey < b.okey AND a.s <= b.e AND b.s <= a.e
      |GROUP BY 1
      |ORDER BY n_overlaps DESC, custkey LIMIT 20""".stripMargin

  /** Salted fact⨝dimension join ([[Skew.saltedJoin]], 16 salt buckets)
    * aggregated per part type — must equal the PLAIN join the oracle
    * states: salting redistributes rows, never changes the multiset.
    */
  def qSaltedJoin(spark: SparkSession, dir: String): DataFrame =
    Skew.saltedJoin(
      table(spark, dir, "lineitem"), table(spark, dir, "part"),
      "l_partkey", "p_partkey", saltBuckets = 16)
      .groupBy(col("p_type"))
      .agg(count(lit(1)).as("n_items"), dsum(col("l_quantity")).as("sum_qty"))
      .orderBy(col("p_type"))

  val qSaltedJoinSql: String =
    """SELECT p_type,
      |  count(*) AS n_items,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |GROUP BY p_type
      |ORDER BY p_type""".stripMargin

  /** Fact-fact join over tables WRITTEN bucketed on the join key — the
    * repeated-join shape where both shuffles are pre-paid at write time
    * ([[graft.ops]] SCALE notes; plan shape pinned by BucketedJoinSpec).
    * The query materializes bucketed copies, joins bucket-aligned, and
    * must match the oracle's plain join over the raw parquet.
    */
  def qBucketedJoin(spark: SparkSession, dir: String): DataFrame = {
    // bucketed tables built + registered once per (corpus, session):
    // persisting the partitioning across jobs is what bucketing is for
    val (ln, on) = Artifacts.ensureBucketedTables(spark, dir)
    spark.table(ln)
      .join(spark.table(on), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_items"), dsum(col("l_extendedprice")).as("sum_price"))
      .orderBy(col("o_orderpriority"))
  }

  val qBucketedJoinSql: String =
    """SELECT o_orderpriority,
      |  count(*) AS n_items,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** Bloom-pruned fact⨝dim join ([[BloomPrune.bloomPrunedJoin]]): urgent
    * orders' revenue by month, with lineitem Bloom-pruned on l_orderkey
    * before the shuffle. Must equal the PLAIN join the oracle states —
    * false positives die in the real join, so the pre-filter is invisible
    * to the result.
    */
  def qBloomJoin(spark: SparkSession, dir: String): DataFrame = {
    val urgent = table(spark, dir, "orders")
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"), col("o_orderdate"))
    BloomPrune.bloomPrunedJoin(
      table(spark, dir, "lineitem"), urgent, "l_orderkey", "o_orderkey")
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("order_month"))
      .agg(count(lit(1)).as("n_items"),
        dsumExpr(discPrice(col("l_extendedprice"), col("l_discount"))).as("revenue"))
      .orderBy(col("order_month"))
  }

  val qBloomJoinSql: String =
    """SELECT strftime(o_orderdate, '%Y-%m') AS order_month,
      |  count(*) AS n_items,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
      |         * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE o_orderpriority = '1-URGENT'
      |GROUP BY 1
      |ORDER BY 1""".stripMargin

  /** CDC merge/upsert — the canonical relational MERGE as one full-outer
    * join with source precedence: matched keys take the incoming row,
    * unmatched incoming rows insert, unmatched target rows survive. The
    * incoming batch is derived deterministically from the target (every
    * 10th key re-priced +1000, every 97th key re-inserted under a new key
    * at double price — both exact double ops), and the merged relation is
    * digested per priority so the gate pins the whole merge result.
    *
    * Scale: MERGE shuffles both sides on the key once — at 100 TB the
    * target is bucketed/partitioned by the merge key so only the batch
    * side moves; AQE broadcasts dim-sized batches.
    */
  def qMergeUpsert(spark: SparkSession, dir: String): DataFrame = {
    val target = table(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
    val source = target.filter(col("o_orderkey") % 10 === 0)
      .withColumn("o_totalprice", col("o_totalprice") + 1000.0)
      .unionByName(target.filter(col("o_orderkey") % 97 === 0)
        .select((col("o_orderkey") + 100000000L).as("o_orderkey"),
          col("o_orderpriority"), (col("o_totalprice") * 2).as("o_totalprice")))
      .select(col("o_orderkey").as("s_key"), col("o_orderpriority").as("s_prio"),
        col("o_totalprice").as("s_price"))
    target.join(source, col("o_orderkey") === col("s_key"), "full_outer")
      .select(
        coalesce(col("s_prio"), col("o_orderpriority")).as("prio"),
        coalesce(col("s_price"), col("o_totalprice")).as("price"))
      .groupBy(col("prio"))
      .agg(count(lit(1)).as("n_orders"), dsum(col("price")).as("sum_price"))
      .orderBy(col("prio"))
  }

  /** Incremental MATERIALIZED-AGGREGATE maintenance: a per-source
    * (n_docs, n_tokens) view is computed once over the base corpus and
    * STORED; when a delta batch arrives, the view refreshes by aggregating
    * ONLY the delta and merging it into the stored relation with a
    * full-outer coalesce-sum — count/sum are self-maintainable aggregates,
    * so the refresh never rescans the base. The oracle is the FULL
    * recompute over base ∪ delta: the hash match PROVES the incremental
    * maintenance is exact, not approximately refreshed.
    *
    * Scale: this is the shape that turns a nightly 100 TB rescan into a
    * delta-sized job — refresh cost is O(|delta|) + a |sources|-row merge
    * (broadcast under AQE). Min/max/distinct need the retraction-aware
    * variants; the self-maintainable family (count, sum, and means/ratios
    * derived from them) refreshes exactly this way.
    */
  def qAggRefresh(spark: SparkSession, dir: String): DataFrame = {
    import TextOps.tokens
    val docs = table(spark, dir, "documents")
    def aggOf(d: DataFrame) = d.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(tokens(col("text"))).cast("long")).as("n_tokens"))
    val baseDir = graft.ScratchDirs("agg-refresh-view")
    aggOf(docs.filter(pmod(col("doc_id"), lit(5)) =!= 0))
      .write.mode("overwrite").parquet(s"$baseDir/view.parquet")
    val base = spark.read.parquet(s"$baseDir/view.parquet")
      .select(col("source"), col("n_docs").as("b_docs"), col("n_tokens").as("b_tokens"))
    val delta = aggOf(docs.filter(pmod(col("doc_id"), lit(5)) === 0))
      .select(col("source"), col("n_docs").as("d_docs"), col("n_tokens").as("d_tokens"))
    base.join(delta, Seq("source"), "full_outer")
      .select(col("source"),
        (coalesce(col("b_docs"), lit(0L)) + coalesce(col("d_docs"), lit(0L))).as("n_docs"),
        (coalesce(col("b_tokens"), lit(0L)) + coalesce(col("d_tokens"), lit(0L))).as("n_tokens"))
      .orderBy(col("source"))
  }

  /** Incremental JOIN-VIEW maintenance under a DIMENSION update — the
    * fan-out case [[qAggRefresh]] doesn't exercise: when a dimension row
    * changes, every fact row enriched from it is stale at once. The
    * enriched view (orders ⋈ customer) is computed once and STORED; a
    * deterministic dimension delta (every 7th customer re-segmented) then
    * refreshes it as
    * `view' = (view ANTI-JOIN Δdim-keys) ∪ (facts SEMI Δdim ⋈ Δdim)` —
    * the stored view is scanned once with the delta keys BROADCAST into
    * the anti filter, and only the affected facts re-enrich. The oracle
    * is the full recompute against the updated dimension: hash equality
    * IS the view-maintenance contract.
    *
    * Scale: refresh cost = one stored-view scan (broadcast-filtered) +
    * O(affected facts) — never a re-join of the full fact table against
    * the full dimension. This is the delta-join identity
    * `Δ(A ⋈ B) = A ⋈ ΔB` specialized to key-replacing dimension upserts.
    */
  def qViewRefresh(spark: SparkSession, dir: String): DataFrame = {
    val orders = table(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), dec(col("o_totalprice")).as("price"))
    val cust = table(spark, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"))
    // the view is stored once per (corpus, session); the refresh below
    // is the per-run work
    val stored = Artifacts.stored(spark, "join-view", dir) {
      orders.join(cust, col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"), col("o_custkey"), col("c_mktsegment").as("segment"), col("price"))
    }
    val deltaDim = cust.filter(col("c_custkey") % 7 === 0)
      .select(col("c_custkey"), lit("RESEGMENTED").as("c_mktsegment"))
    val refreshed = stored
      .join(broadcast(deltaDim.select(col("c_custkey").as("k"))),
        col("o_custkey") === col("k"), "left_anti")
      .unionByName(
        orders.join(broadcast(deltaDim), col("o_custkey") === col("c_custkey"))
          .select(col("o_orderkey"), col("o_custkey"),
            col("c_mktsegment").as("segment"), col("price")))
    refreshed.groupBy(col("segment"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("price")).cast(org.apache.spark.sql.types.DoubleType).as("sum_price"))
      .orderBy(col("segment"))
  }

  val qViewRefreshSql: String =
    """WITH dim AS (
      |  SELECT c_custkey,
      |    CASE WHEN c_custkey % 7 = 0 THEN 'RESEGMENTED' ELSE c_mktsegment END AS segment
      |  FROM customer
      |)
      |SELECT segment, CAST(count(*) AS BIGINT) AS n_orders,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM orders JOIN dim ON o_custkey = c_custkey
      |GROUP BY segment ORDER BY segment""".stripMargin

  /** The oracle is deliberately the FULL recompute — incremental == full
    * is the correctness contract of view maintenance.
    */
  val qAggRefreshSql: String =
    """SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(len(regexp_split_to_array(lower(text), '\s+'))) AS BIGINT) AS n_tokens
      |FROM documents GROUP BY 1 ORDER BY source""".stripMargin

  val qMergeUpsertSql: String =
    """WITH src AS (
      |  SELECT o_orderkey AS s_key, o_orderpriority AS s_prio,
      |    o_totalprice + 1000.0 AS s_price
      |  FROM orders WHERE o_orderkey % 10 = 0
      |  UNION ALL
      |  SELECT o_orderkey + 100000000, o_orderpriority, o_totalprice * 2
      |  FROM orders WHERE o_orderkey % 97 = 0
      |), merged AS (
      |  SELECT COALESCE(s.s_prio, t.o_orderpriority) AS prio,
      |         COALESCE(s.s_price, t.o_totalprice) AS price
      |  FROM orders t FULL OUTER JOIN src s ON t.o_orderkey = s.s_key
      |)
      |SELECT prio, count(*) AS n_orders,
      |  CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM merged GROUP BY prio ORDER BY prio""".stripMargin

  /** Full CDC MERGE — the three-verb change feed (INSERT / UPDATE /
    * DELETE) applied in ONE full-outer join pass: matched `U` rows take
    * the incoming values, matched `D` rows TOMBSTONE (drop) the target
    * row, unmatched `I` rows insert, unmatched target rows survive. The
    * change batch is derived deterministically from the target with
    * mutually-exclusive verbs (key%13→D, else key%10→U, key%97→I under a
    * fresh key), and the merged relation is digested per priority so the
    * gate pins insert+update+delete semantics together — the delete path
    * [[qMergeUpsert]] doesn't exercise.
    *
    * Scale: identical shape to [[qMergeUpsert]] — one key-shuffle of the
    * batch side against a bucketed target; the tombstone is a filter on
    * the joined row, not a second pass. Within-batch multi-version
    * squashing is the streaming dual's job ([[graft.streaming.CdcMergeStream]]).
    */
  def qMergeCdc(spark: SparkSession, dir: String): DataFrame = {
    val target = table(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
    val source = target.filter(col("o_orderkey") % 13 === 0)
      .select(col("o_orderkey").as("s_key"), lit("D").as("s_op"),
        col("o_orderpriority").as("s_prio"), col("o_totalprice").as("s_price"))
      .unionByName(target
        .filter(col("o_orderkey") % 13 =!= 0 && col("o_orderkey") % 10 === 0)
        .select(col("o_orderkey").as("s_key"), lit("U").as("s_op"),
          col("o_orderpriority").as("s_prio"),
          (col("o_totalprice") + 1000.0).as("s_price")))
      .unionByName(target.filter(col("o_orderkey") % 97 === 0)
        .select((col("o_orderkey") + 100000000L).as("s_key"), lit("I").as("s_op"),
          col("o_orderpriority").as("s_prio"),
          (col("o_totalprice") * 2).as("s_price")))
    target.join(source, col("o_orderkey") === col("s_key"), "full_outer")
      .filter(col("s_op").isNull || col("s_op") =!= "D")
      .select(
        coalesce(col("s_prio"), col("o_orderpriority")).as("prio"),
        coalesce(col("s_price"), col("o_totalprice")).as("price"))
      .groupBy(col("prio"))
      .agg(count(lit(1)).as("n_orders"), dsum(col("price")).as("sum_price"))
      .orderBy(col("prio"))
  }

  val qMergeCdcSql: String =
    """WITH src AS (
      |  SELECT o_orderkey AS s_key, 'D' AS s_op, o_orderpriority AS s_prio,
      |    o_totalprice AS s_price
      |  FROM orders WHERE o_orderkey % 13 = 0
      |  UNION ALL
      |  SELECT o_orderkey, 'U', o_orderpriority, o_totalprice + 1000.0
      |  FROM orders WHERE o_orderkey % 13 <> 0 AND o_orderkey % 10 = 0
      |  UNION ALL
      |  SELECT o_orderkey + 100000000, 'I', o_orderpriority, o_totalprice * 2
      |  FROM orders WHERE o_orderkey % 97 = 0
      |), merged AS (
      |  SELECT COALESCE(s.s_prio, t.o_orderpriority) AS prio,
      |         COALESCE(s.s_price, t.o_totalprice) AS price
      |  FROM orders t FULL OUTER JOIN src s ON t.o_orderkey = s.s_key
      |  WHERE s.s_op IS NULL OR s.s_op <> 'D'
      |)
      |SELECT prio, count(*) AS n_orders,
      |  CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM merged GROUP BY prio ORDER BY prio""".stripMargin

  /** JOIN-KEY SKEW profile — the pre-join audit that decides whether a
    * plain shuffle join is safe or [[Skew.saltedJoin]]/AQE skew handling
    * is needed: the top-10 hottest customer keys in orders by row count,
    * each with its share of the table and its multiple of the MEAN key
    * frequency (both exact basis points). A key at 100× the mean share
    * is the straggler-reducer signature; the profile is what a pipeline
    * logs before every fact-fact join at 100 TB.
    *
    * Scale: one map-side-combined key count, the top-10 via
    * TakeOrderedAndProject (per-partition heaps), totals on a broadcast
    * 1-row relation — never a sort of the full key relation.
    */
  def qSkewProfile(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.table(spark, dir, "orders")
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("cnt"))
    val totals = counts.agg(sum(col("cnt")).as("n_rows"),
      count(lit(1)).as("n_keys"))
    counts.crossJoin(broadcast(totals))
      .select(col("o_custkey"), col("cnt"),
        expr("cnt * 10000 DIV n_rows").as("share_bp"),
        // cnt·n_keys·10^4 in DECIMAL(38,0) (the r16 envelope
        // discipline): a hot key over a billion-key fact table wraps
        // the long product; the quotient is ≤ 10^4·n_keys — long-safe
        expr("(CAST(cnt AS DECIMAL(38,0)) * n_keys * 10000) DIV n_rows")
          .as("x_mean_bp"))
      .orderBy(col("cnt").desc, col("o_custkey"))
      .limit(10)
  }

  val qSkewProfileSql: String =
    """WITH c AS (
      |  SELECT o_custkey, count(*) AS cnt FROM orders GROUP BY 1
      |), t AS (
      |  SELECT CAST(sum(cnt) AS BIGINT) AS n_rows,
      |    CAST(count(*) AS BIGINT) AS n_keys FROM c
      |)
      |SELECT o_custkey, cnt,
      |  CAST(cnt * 10000 // n_rows AS BIGINT) AS share_bp,
      |  CAST((CAST(cnt AS HUGEINT) * n_keys * 10000) // n_rows AS BIGINT) AS x_mean_bp
      |FROM c CROSS JOIN t
      |ORDER BY cnt DESC, o_custkey LIMIT 10""".stripMargin

  /** [[Skew.adaptiveJoin]] on orders⨝customer aggregated per market
    * segment, with the broadcast decision columns surfaced: the oracle
    * states the PLAIN join plus the same profile arithmetic — the result
    * must equal it whichever branch the bar picked (on this corpus the
    * key distribution is near-uniform, so the plain branch carries the
    * rows; AdaptiveJoinSpec plants a 90%-hot-key fixture to pin the
    * salted branch firing and its multiset equality).
    */
  def qAdaptiveJoin(spark: SparkSession, dir: String): DataFrame =
    Skew.adaptiveJoin(
      Tables.table(spark, dir, "orders"), Tables.table(spark, dir, "customer"),
      "o_custkey", "c_custkey")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("sum_price"),
        max(col("salted")).as("salted"), max(col("max_x_mean_bp")).as("max_x_mean_bp"))
      .orderBy(col("c_mktsegment"))

  val qAdaptiveJoinSql: String =
    s"""WITH c AS (
       |  SELECT o_custkey, count(*) AS cnt FROM orders GROUP BY 1
       |), t AS (
       |  SELECT CAST(sum(cnt) AS BIGINT) AS n_rows,
       |    CAST(count(*) AS BIGINT) AS n_keys,
       |    CAST(max(cnt) AS BIGINT) AS max_cnt FROM c
       |), d AS (
       |  SELECT CAST((CAST(max_cnt AS HUGEINT) * n_keys * 10000) // n_rows AS BIGINT)
       |    AS max_x_mean_bp FROM t
       |)
       |SELECT c_mktsegment, count(*) AS n_orders,
       |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
       |  CAST(CASE WHEN d.max_x_mean_bp >= ${Skew.AdaptiveSaltBarBp} THEN 1 ELSE 0 END AS BIGINT) AS salted,
       |  d.max_x_mean_bp
       |FROM orders JOIN customer ON o_custkey = c_custkey CROSS JOIN d
       |GROUP BY c_mktsegment, d.max_x_mean_bp
       |ORDER BY c_mktsegment""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_skew_profile" -> (qSkewProfile _),
    "q_adaptive_join" -> (qAdaptiveJoin _),
    "q_range_join" -> (qRangeJoin _),
    "q_interval_overlap" -> (qIntervalOverlap _),
    "q_salted_join" -> (qSaltedJoin _),
    "q_bucketed_join" -> (qBucketedJoin _),
    "q_bloom_join" -> (qBloomJoin _),
    "q_merge_upsert" -> (qMergeUpsert _),
    "q_agg_refresh" -> (qAggRefresh _),
    "q_view_refresh" -> (qViewRefresh _),
    "q_merge_cdc" -> (qMergeCdc _))

  def oracle: Map[String, String] = Map(
    "q_skew_profile" -> qSkewProfileSql,
    "q_adaptive_join" -> qAdaptiveJoinSql,
    "q_range_join" -> qRangeJoinSql,
    "q_interval_overlap" -> qIntervalOverlapSql,
    "q_salted_join" -> qSaltedJoinSql,
    "q_bucketed_join" -> qBucketedJoinSql,
    "q_bloom_join" -> qBloomJoinSql,
    "q_merge_upsert" -> qMergeUpsertSql,
    "q_agg_refresh" -> qAggRefreshSql,
    "q_view_refresh" -> qViewRefreshSql,
    "q_merge_cdc" -> qMergeCdcSql)
}
