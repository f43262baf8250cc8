package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Data-layout operators: Z-order (Morton) clustering for multi-column
  * locality.
  *
  * Why this matters at 100 TB: parquet prunes row groups / files with
  * min-max statistics, but sorting on ONE column destroys locality on every
  * other column. Interleaving the bits of two (or more) quantized sort keys
  * gives each file a small bounding BOX in key space, so selective filters
  * on EITHER column (or both) skip most files. This is the standard layout
  * technique behind Delta/Iceberg `ZORDER BY` — implemented here as plain
  * Catalyst bit arithmetic (fully codegen'd, no UDF) + a range-partitioned
  * sorted write, so it works on any Spark 4 session with no table format.
  *
  * Scale shape: one pass, one range exchange (sampled boundaries), sorted
  * files out. The z-key is computed per-row from constants; quantization
  * bounds should come from table statistics or a cheap `agg(min, max)`
  * pre-pass (control-plane scalars, broadcast into the expression).
  */
object Layout {

  /** Quantize a numeric column into `[0, 2^bits)` given inclusive bounds.
    * Values are clamped, so out-of-range rows land in the edge cells rather
    * than corrupting the interleave.
    */
  def quantize(c: Column, lo: Double, hi: Double, bits: Int): Column = {
    require(hi > lo, s"quantize bounds must satisfy hi > lo, got [$lo, $hi]")
    val cells = (1L << bits).toDouble
    val scaled = (c.cast(DoubleType) - lit(lo)) / lit(hi - lo) * lit(cells)
    least(greatest(floor(scaled).cast(LongType), lit(0L)), lit((1L << bits) - 1))
  }

  /** Morton interleave of two already-quantized `[0, 2^bits)` longs:
    * bit i of `a` lands at position 2i+1, bit i of `b` at 2i. Pure bit
    * arithmetic — whole-stage codegen keeps this in the scan projection.
    */
  def zkey2(a: Column, b: Column, bits: Int): Column = {
    require(bits >= 1 && bits <= 31, s"bits must be in [1,31], got $bits")
    (0 until bits).map { i =>
      val abit = shiftleft(shiftrightunsigned(a, i).bitwiseAND(lit(1L)), 2 * i + 1)
      val bbit = shiftleft(shiftrightunsigned(b, i).bitwiseAND(lit(1L)), 2 * i)
      abit.bitwiseOR(bbit)
    }.reduce(_ bitwiseOR _)
  }

  /** Inverse of [[zkey2]] — extract the two quantized keys back out
    * (used by specs to prove the interleave is a bijection).
    */
  def unzkey2(z: Column, bits: Int): (Column, Column) = {
    val a = (0 until bits).map { i =>
      shiftleft(shiftrightunsigned(z, 2 * i + 1).bitwiseAND(lit(1L)), i)
    }.reduce(_ bitwiseOR _)
    val b = (0 until bits).map { i =>
      shiftleft(shiftrightunsigned(z, 2 * i).bitwiseAND(lit(1L)), i)
    }.reduce(_ bitwiseOR _)
    (a, b)
  }

  /** Hilbert-curve index of two already-quantized `[0, 2^bits)` keys,
    * appended as column `out` — the alternative space-filling curve to
    * [[zkey2]] (Morton), and the one Iceberg's `sort_order` offers next to
    * Delta's Z-order. The difference that matters for layout: consecutive
    * Hilbert positions are always Manhattan-distance 1 apart in key space
    * (no Morton "seams" where the curve jumps across the whole domain), so
    * consecutive row granules get strictly compact boxes — measurably
    * tighter `avg_width_bp` in [[qClusteringHealth]].
    *
    * This is the PURE-DataFrame form (no session extensions needed): the
    * classic xy→d recurrence (s halving each round, quadrant digit
    * `(3·rx) xor ry`, conditional flip+swap rotation) as ONE PROJECTION
    * PER BIT-LEVEL, each level's (x, y) state feeding the next through a
    * named column — keeping the expression DAG linear in `bits` (a single
    * nested Column would duplicate the state subtree ~4× per level:
    * 4^bits nodes). Catalyst keeps the chain linear (CollapseProject does
    * not inline non-cheap multiply-referenced aliases) and whole-stage
    * codegen fuses all levels. The engine's primary form is the native
    * codegen expression [[graft.functions.HilbertKey]] (one call, one
    * Project; registered as SQL `hilbert_key`), spec-pinned equal to this
    * chain over the exhaustive grid.
    *
    * CAVEAT of the chain form: a filter placed directly on `out` makes
    * predicate pushdown substitute the alias back through every level —
    * re-creating the 4^bits expression this shape exists to avoid. Sort
    * or materialize (checkpoint) before filtering on the key, or use the
    * native expression, which has no such hazard.
    */
  def withHilbertKey(df: DataFrame, a: Column, b: Column, bits: Int, out: String): DataFrame = {
    require(bits >= 1 && bits <= 31, s"bits must be in [1,31], got $bits")
    val keep = df.columns.map(col)
    val base = df.select(keep :+ a.as("__hx") :+ b.as("__hy") :+ lit(0L).as(out): _*)
    val stepped = (bits - 1 to 0 by -1).foldLeft(base) { (d, i) =>
      val s = 1L << i
      val rx = when(col("__hx").bitwiseAND(lit(s)) > 0, 1L).otherwise(0L)
      val ry = when(col("__hy").bitwiseAND(lit(s)) > 0, 1L).otherwise(0L)
      val dNew = col(out) + lit(s * s) * (rx * 3).bitwiseXOR(ry)
      // rotation: if ry==0 { if rx==1 flip both; swap x,y }
      val xFlip = when(rx === 1, lit(s - 1) - col("__hx")).otherwise(col("__hx"))
      val yFlip = when(rx === 1, lit(s - 1) - col("__hy")).otherwise(col("__hy"))
      val xNew = when(ry === 0, yFlip).otherwise(col("__hx"))
      val yNew = when(ry === 0, xFlip).otherwise(col("__hy"))
      d.select(keep :+ xNew.as("__hx") :+ yNew.as("__hy") :+ dNew.as(out): _*)
    }
    stepped.drop("__hx", "__hy")
  }

  /** DuckDB replay of [[withHilbertKey]] as chained CTEs `h{bits-1}..h0`,
    * one per bit level, mirroring the projection-per-level Spark plan.
    * `src` must expose `hx`, `hy`, `hd` plus the pass-through columns in
    * `keep`; the final state is in CTE `h0`.
    */
  private def hilbertCtes(bits: Int, src: String, keep: String): String =
    (bits - 1 to 0 by -1).map { i =>
      val s = 1L << i
      val prev = if (i == bits - 1) src else s"h${i + 1}"
      s"""h$i AS (
         |  SELECT $keep,
         |    CASE WHEN (hy & $s) = 0
         |      THEN CASE WHEN (hx & $s) > 0 THEN ${s - 1} - hy ELSE hy END
         |      ELSE hx END AS hx,
         |    CASE WHEN (hy & $s) = 0
         |      THEN CASE WHEN (hx & $s) > 0 THEN ${s - 1} - hx ELSE hx END
         |      ELSE hy END AS hy,
         |    hd + $s * $s * xor(CASE WHEN (hx & $s) > 0 THEN 3 ELSE 0 END,
         |                       CASE WHEN (hy & $s) > 0 THEN 1 ELSE 0 END) AS hd
         |  FROM $prev
         |)""".stripMargin
    }.mkString(", ")

  /** Oracle query: per-event z-key over (quantized user_id, masked epoch
    * second) — pins [[quantize]] + [[zkey2]] bit-for-bit against a DuckDB
    * replay of the same bit arithmetic. Every-7th event keeps the
    * presentation sort small.
    */
  def qZOrderKey(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    ev.filter(col("event_id") % 7 === 0)
      .select(
        col("event_id"),
        quantize(col("user_id"), 0d, 256d, 8).as("qa"),
        unix_timestamp(col("ts")).bitwiseAND(lit(1023L)).as("qb"))
      .select(col("event_id"), col("qa"), col("qb"),
        zkey2(col("qa"), col("qb"), 10).as("zkey"))
      .orderBy(col("event_id"))
  }

  val qZOrderKeySql: String = {
    val terms = (0 until 10).flatMap { i =>
      Seq(s"(((qa >> $i) & 1) << ${2 * i + 1})", s"(((qb >> $i) & 1) << ${2 * i})")
    }.mkString(" | ")
    s"""WITH q AS (
       |  SELECT event_id,
       |    least(greatest(CAST(floor(CAST(user_id AS DOUBLE) / 256.0 * 256.0) AS BIGINT), 0), 255) AS qa,
       |    (epoch_us(ts) // 1000000) & 1023 AS qb
       |  FROM events WHERE event_id % 7 = 0
       |)
       |SELECT event_id, qa, qb, $terms AS zkey
       |FROM q ORDER BY event_id""".stripMargin
  }

  /** Oracle query: per-event Hilbert index over the same quantized keys as
    * [[qZOrderKey]] (8-bit on both dimensions) — pins every bit level of
    * [[withHilbertKey]]'s flip/swap recurrence against the chained-CTE
    * DuckDB replay. The bijection and unit-step adjacency properties are
    * spec-pinned over the exhaustive 256×256 grid (LayoutSpec).
    */
  def qHilbertKey(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    Tables.events(spark, dir)
      .filter(col("event_id") % 7 === 0)
      .select(
        col("event_id"),
        quantize(col("user_id"), 0d, 256d, 8).as("qa"),
        unix_timestamp(col("ts")).bitwiseAND(lit(255L)).as("qb"))
      .withColumn("hkey", graft.functions.HilbertKey(col("qa"), col("qb"), 8))
      .orderBy(col("event_id"))
  }

  val qHilbertKeySql: String =
    s"""WITH q AS (
       |  SELECT event_id,
       |    least(greatest(CAST(floor(CAST(user_id AS DOUBLE) / 256.0 * 256.0) AS BIGINT), 0), 255) AS qa,
       |    (epoch_us(ts) // 1000000) & 255 AS qb
       |  FROM events WHERE event_id % 7 = 0
       |), hsrc AS (
       |  SELECT event_id, qa, qb, qa AS hx, qb AS hy, CAST(0 AS BIGINT) AS hd FROM q
       |), ${hilbertCtes(8, "hsrc", "event_id, qa, qb")}
       |SELECT event_id, qa, qb, hd AS hkey FROM h0 ORDER BY event_id""".stripMargin

  /** Simulated file granule size for [[qSkippingStats]] / [[qClusteringHealth]]. */
  val RowsPerFile = 512

  /** lineitem keyed for the layout experiments: exact-integer quantity and
    * price-cents plus the Morton key over their quantized forms — the shared
    * input relation of [[qSkippingStats]] and [[qClusteringHealth]].
    */
  private[graft] def keyedLineitem(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val li = Tables.table(spark, dir, "lineitem").select(
      col("l_orderkey").as("ok"), col("l_linenumber").as("ln"),
      col("l_quantity").cast(LongType).as("qty"),
      (col("l_extendedprice") * 100).cast(LongType).as("pc"))
    li.select(col("ok"), col("ln"), col("qty"), col("pc"),
      quantize(col("qty"), 0d, 51d, 8).as("qa"),
      quantize(col("pc").cast(DoubleType) / 100d, 900d, 105000d, 8).as("qb"))
      .select(col("ok"), col("ln"), col("qty"), col("pc"),
        zkey2(col("qa"), col("qb"), 8).as("zk"),
        graft.functions.HilbertKey(col("qa"), col("qb"), 8).as("hk"))
  }

  /** Lay `keyed` out under `sortCols`, carve into [[RowsPerFile]]-row
    * granules, and aggregate each granule's (qty, pc) min-max zone map —
    * one [[Rank.globalRank]] pass (range exchange, no single-reducer
    * window) into a granule-keyed partial aggregate, checkpointed at
    * granule-count size so downstream verdicts re-read the tiny zone-map
    * relation, not the table.
    */
  private[ops] def granuleZoneMaps(keyed: DataFrame, sortCols: Seq[Column]): DataFrame =
    Rank.globalRank(keyed, sortCols, 32)
      .select(expr(s"(rnk - 1) DIV $RowsPerFile").as("f"), col("qty"), col("pc"))
      .groupBy(col("f"))
      .agg(min(col("qty")).as("qmin"), max(col("qty")).as("qmax"),
        min(col("pc")).as("pmin"), max(col("pc")).as("pmax"))
      .localCheckpoint() // granule-count-sized; frees the rank lineage

  /** FILE-SKIPPING EFFECTIVENESS audit — the payoff metric that justifies
    * Z-ordering: lay lineitem out under (a) a single-column sort on price
    * and (b) the Morton order over (quantity, price), carve each layout
    * into [[RowsPerFile]]-row granules, compute per-granule min-max zone
    * maps, and count how many granules a 2-D predicate
    * family can SKIP — for a price-band predicate, a quantity-band
    * predicate, and their conjunction. The matrix IS the Z-order sales
    * pitch made measurable: the price-sorted layout prunes price
    * predicates perfectly and quantity predicates not at all, while the
    * z-order gives every granule a bounding box in (quantity, price)
    * space and prunes RESPECTABLY ON BOTH — exactly the min-max pruning
    * parquet row groups / Delta-Iceberg data files do, in exact basis
    * points.
    *
    * Scale: each layout is one [[Rank.globalRank]] pass (range exchange +
    * two scans, no single-reducer window) into a granule-keyed partial
    * aggregate, checkpointed at granule-count size so the three predicate
    * verdicts re-read the tiny zone-map relation, not the table. Ordering
    * is totalized by (key, orderkey, linenumber) so ranks — and therefore
    * granule boundaries — are engine-identical.
    */
  /** One stored [[graft.ops.Artifacts.ensureLayoutZoneMaps]] relation —
    * the registered layout queries' serving path: zone maps,
    * domain and restore manifest are table-format metadata, built once
    * per (corpus, session) instead of 2–3 rank passes per query run.
    */
  private def stored(spark: org.apache.spark.sql.SparkSession, dir: String,
      name: String): DataFrame = Artifacts.layoutRelation(spark, dir, name)

  def qSkippingStats(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val priceHit = col("pmin") <= 3000000L && col("pmax") >= 2000000L
    val qtyHit = col("qmin") <= 20L && col("qmax") >= 10L
    val preds = Seq(("both", priceHit && qtyHit), ("price", priceHit), ("qty", qtyHit))
    val layouts = Seq(
      ("linear_price", stored(spark, dir, "lin")),
      ("zorder", stored(spark, dir, "zo")),
      ("hilbert", stored(spark, dir, "hi")))
    (for ((lname, files) <- layouts; (pname, hit) <- preds) yield files
      .agg(count(lit(1)).as("n_files"),
        sum(when(hit, 1L).otherwise(0L)).as("files_kept"))
      .select(lit(lname).as("layout"), lit(pname).as("predicate"),
        col("n_files"), col("files_kept"),
        expr("(n_files - files_kept) * 10000 DIV n_files").as("skip_bp")))
      .reduce(_ union _)
      .orderBy(col("layout"), col("predicate"))
  }

  /** Shared oracle CTE prefix for the layout experiments: lineitem keyed
    * (li/q/k mirroring [[keyedLineitem]]) + per-layout granule zone maps
    * `lin_files` / `zo_files` mirroring [[granuleZoneMaps]] under the
    * price-linear and Morton orders.
    */
  private val zoneMapCtes: String = {
    val zterms = (0 until 8).flatMap { i =>
      Seq(s"(((qa >> $i) & 1) << ${2 * i + 1})", s"(((qb >> $i) & 1) << ${2 * i})")
    }.mkString(" | ")
    def layoutCte(name: String, order: String): String =
      s"""$name AS (
         |  SELECT qty, pc, (row_number() OVER (ORDER BY $order) - 1) // $RowsPerFile AS f
         |  FROM k
         |), ${name}_files AS (
         |  SELECT f, min(qty) AS qmin, max(qty) AS qmax,
         |    min(pc) AS pmin, max(pc) AS pmax
         |  FROM $name GROUP BY f
         |)""".stripMargin
    s"""li AS (
       |  SELECT l_orderkey AS ok, l_linenumber AS ln,
       |    CAST(l_quantity AS BIGINT) AS qty,
       |    CAST(l_extendedprice * 100 AS BIGINT) AS pc
       |  FROM lineitem
       |), q AS (
       |  SELECT ok, ln, qty, pc,
       |    least(greatest(CAST(floor(CAST(qty AS DOUBLE) / 51.0 * 256.0) AS BIGINT), 0), 255) AS qa,
       |    least(greatest(CAST(floor((CAST(pc AS DOUBLE) / 100.0 - 900.0) / 104100.0 * 256.0) AS BIGINT), 0), 255) AS qb
       |  FROM li
       |), hsrc AS (
       |  SELECT ok, ln, qty, pc, qa, qb, qa AS hx, qb AS hy, CAST(0 AS BIGINT) AS hd FROM q
       |), ${hilbertCtes(8, "hsrc", "ok, ln, qty, pc, qa, qb")}, k AS (
       |  SELECT ok, ln, qty, pc, $zterms AS zk, hd AS hk FROM h0
       |), ${layoutCte("lin", "pc, ok, ln")}, ${layoutCte("zo", "zk, ok, ln")}, ${layoutCte("hi", "hk, ok, ln")}""".stripMargin
  }

  val qSkippingStatsSql: String = {
    val priceHit = "pmin <= 3000000 AND pmax >= 2000000"
    val qtyHit = "qmin <= 20 AND qmax >= 10"
    def branch(layout: String, files: String, pred: String, hit: String): String =
      s"""SELECT '$layout' AS layout, '$pred' AS predicate,
         |  CAST(count(*) AS BIGINT) AS n_files,
         |  CAST(sum(CASE WHEN $hit THEN 1 ELSE 0 END) AS BIGINT) AS files_kept,
         |  CAST((count(*) - sum(CASE WHEN $hit THEN 1 ELSE 0 END)) * 10000
         |       // count(*) AS BIGINT) AS skip_bp
         |FROM $files""".stripMargin
    val branches = for {
      (layout, files) <- Seq(("linear_price", "lin_files"), ("zorder", "zo_files"),
        ("hilbert", "hi_files"))
      (pred, hit) <- Seq(("both", s"$priceHit AND $qtyHit"),
        ("price", priceHit), ("qty", qtyHit))
    } yield branch(layout, files, pred, hit)
    s"""WITH $zoneMapCtes
       |${branches.mkString("\nUNION ALL\n")}
       |ORDER BY layout, predicate""".stripMargin
  }

  /** CLUSTERING-HEALTH metric — the predicate-free companion to
    * [[qSkippingStats]] and the signal a lakehouse uses to decide WHEN to
    * re-cluster: per-granule zone-map interval WIDTH on each dimension,
    * normalized by the dimension's occupied domain. For a layout whose
    * granules have average width fraction w on a dimension, a uniformly
    * placed point predicate on that dimension touches `n_files·w` granules
    * — so `avg_width_bp` IS the expected fraction of files a selective
    * filter cannot skip, with no predicate family to choose. A
    * single-column sort drives its own dimension's width to ~0 bp and
    * leaves every other dimension at ~10000 bp (each granule spans the full
    * domain); the Morton layout lands both dimensions in between — and as
    * ingest appends unclustered data, these numbers drift up, which is the
    * re-cluster trigger.
    *
    * Scale: reuses the one cached keyed scan + two [[granuleZoneMaps]]
    * passes; the width statistics aggregate granule-count-sized relations
    * (metadata, not data). Domain bounds are data-derived IN-PLAN (a 1-row
    * broadcast attach), so both engines normalize identically. All-integer:
    * widths are `max-min+1` longs, fractions exact basis points.
    */
  /** Per-(layout, dimension) width statistics over zone-map relations —
    * the shared aggregation of [[qClusteringHealth]] and [[qLayoutDrift]].
    * `keyed` is the persisted input whose (qty, pc) extents define the
    * normalizing domains (attached in-plan as a 1-row broadcast).
    */
  private def healthStats(keyed: DataFrame,
      layouts: Seq[(String, DataFrame)]): DataFrame =
    healthStatsDom(domOf(keyed), layouts)

  /** The 1-row normalizing-domain relation of a keyed scan — stored by
    * [[graft.ops.Artifacts.ensureLayoutZoneMaps]] so serving paths never
    * rescan the table for two extrema.
    */
  private[ops] def domOf(keyed: DataFrame): DataFrame =
    keyed.agg(
      (max(col("qty")) - min(col("qty")) + 1).as("qdom"),
      (max(col("pc")) - min(col("pc")) + 1).as("pdom"))

  private[ops] def healthStatsDom(dom: DataFrame,
      layouts: Seq[(String, DataFrame)]): DataFrame = {
    val dims = Seq(
      ("qty", col("qmax") - col("qmin") + 1, col("qdom")),
      ("price", col("pmax") - col("pmin") + 1, col("pdom")))
    (for ((lname, files) <- layouts; (dname, width, domain) <- dims) yield files
      .crossJoin(broadcast(dom)) // 1-row scalar attach
      .agg(count(lit(1)).as("n_files"),
        sum(width * lit(10000L)).as("wsum"),
        max(width * lit(10000L)).as("wmax"),
        first(domain).as("dom"))
      .select(lit(lname).as("layout"), lit(dname).as("dim"), col("n_files"),
        expr("wsum DIV (n_files * dom)").as("avg_width_bp"),
        expr("wmax DIV dom").as("max_width_bp")))
      .reduce(_ union _)
      .orderBy(col("layout"), col("dim"))
  }

  def qClusteringHealth(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    healthStatsDom(stored(spark, dir, "dom"), Seq(
      ("linear_price", stored(spark, dir, "lin")),
      ("zorder", stored(spark, dir, "zo")),
      ("hilbert", stored(spark, dir, "hi"))))

  /** One oracle SELECT of per-dimension width statistics over a zone-map
    * CTE — shared by [[qClusteringHealthSql]] and [[qLayoutDriftSql]].
    */
  private def healthBranch(layout: String, files: String, dim: String,
      width: String, dom: String): String =
    s"""SELECT '$layout' AS layout, '$dim' AS dim,
       |  CAST(count(*) AS BIGINT) AS n_files,
       |  CAST(sum(($width) * 10000) // (count(*) * (SELECT $dom FROM dom)) AS BIGINT) AS avg_width_bp,
       |  CAST(max(($width) * 10000) // (SELECT $dom FROM dom) AS BIGINT) AS max_width_bp
       |FROM $files""".stripMargin

  val qClusteringHealthSql: String = {
    def branch(layout: String, files: String, dim: String,
        width: String, dom: String): String =
      healthBranch(layout, files, dim, width, dom)
    val branches = for {
      (layout, files) <- Seq(("linear_price", "lin_files"), ("zorder", "zo_files"),
        ("hilbert", "hi_files"))
      (dim, width, dom) <- Seq(("qty", "qmax - qmin + 1", "qdom"),
        ("price", "pmax - pmin + 1", "pdom"))
    } yield branch(layout, files, dim, width, dom)
    s"""WITH $zoneMapCtes, dom AS (
       |  SELECT max(qty) - min(qty) + 1 AS qdom, max(pc) - min(pc) + 1 AS pdom FROM k
       |)
       |${branches.mkString("\nUNION ALL\n")}
       |ORDER BY layout, dim""".stripMargin
  }

  /** CLUSTERING DRIFT — [[qClusteringHealth]] made dynamic: the same width
    * statistics for the Hilbert-clustered table BEFORE and AFTER a 10%
    * ingest append that arrives in commit order (unclustered — the state
    * every live table is in between OPTIMIZE runs). `clustered` lays all
    * rows out in curve order; `after_append` lays out the 90% base in
    * curve order followed by the 10% delta in commit (ok, ln) order —
    * exactly the file sequence a streaming ingest produces. The delta's
    * granules span nearly the full domain on both dimensions, so the
    * table-wide `avg_width_bp` jumps by roughly `delta_share · 10000` —
    * the measured quantity a maintenance service thresholds to schedule
    * re-clustering, and the drift this pack's [[compact]]+[[writeZOrdered]]
    * pair repairs.
    *
    * Scale: two more [[granuleZoneMaps]] passes over the one cached scan;
    * the append boundary is expressed IN-PLAN (a segment sort key), so no
    * second table or snapshot is needed to measure the counterfactual.
    */
  def qLayoutDrift(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    healthStatsDom(stored(spark, dir, "dom"), Seq(
      ("clustered", stored(spark, dir, "hi")),
      ("after_append", stored(spark, dir, "append"))))

  val qLayoutDriftSql: String = {
    val branches = for {
      (layout, files) <- Seq(("clustered", "hi_files"), ("after_append", "dr_files"))
      (dim, width, dom) <- Seq(("qty", "qmax - qmin + 1", "qdom"),
        ("price", "pmax - pmin + 1", "pdom"))
    } yield healthBranch(layout, files, dim, width, dom)
    s"""WITH $zoneMapCtes, dr AS (
       |  SELECT qty, pc, (row_number() OVER (ORDER BY
       |    CASE WHEN ok % 10 = 0 THEN 1 ELSE 0 END,
       |    CASE WHEN ok % 10 = 0 THEN 0 ELSE hk END, ok, ln) - 1) // $RowsPerFile AS f
       |  FROM k
       |), dr_files AS (
       |  SELECT f, min(qty) AS qmin, max(qty) AS qmax,
       |    min(pc) AS pmin, max(pc) AS pmax
       |  FROM dr GROUP BY f
       |), dom AS (
       |  SELECT max(qty) - min(qty) + 1 AS qdom, max(pc) - min(pc) + 1 AS pdom FROM k
       |)
       |${branches.mkString("\nUNION ALL\n")}
       |ORDER BY layout, dim""".stripMargin
  }

  /** Target compaction-group size (bytes) for [[qCompactionPlan]]. */
  val CompactTargetBytes = 2048L

  /** COMPACTION PLAN — the oracle-gated planning face of [[compact]]: given
    * a file manifest (per partition-directory `source`, files in commit
    * order with sizes), assign every file to a compaction group of
    * ~[[CompactTargetBytes]] via NEXT-FIT BY RUNNING TOTAL: a file whose
    * preceding bytes total `c` joins group `c DIV target`. This is the
    * distributed-friendly packing — one window pass over the manifest,
    * deterministic under any engine (pure integer arithmetic on a totalized
    * order), groups contiguous in commit order so each compaction task
    * reads a consecutive file run (maximal locality, and it preserves any
    * within-directory clustering). First-fit-decreasing packs ~11% tighter
    * in the worst case but is inherently sequential and reorders files —
    * the wrong trade at a million-file manifest.
    *
    * The manifest here is simulated from `documents` (source = partition
    * dir, one file per doc, bytes = text length). Scale: the plan runs on
    * MANIFEST rows, never data — one hash exchange on `source` carries
    * (file, bytes) pairs; a directory whose manifest alone overwhelms one
    * task is the very pathology the plan exists to remove, and the fix is
    * running the planner per directory-shard. `fill_bp` (group bytes in bp
    * of target) is the audit column: interior groups sit just above 10000
    * (next-fit closes a group only after crossing the boundary), tails
    * below.
    */
  def qCompactionPlan(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val files = Tables.table(spark, dir, "documents")
      .select(col("source"), col("doc_id"), length(col("text")).cast(LongType).as("bytes"))
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
    files.withColumn("cum", sum(col("bytes")).over(w))
      .withColumn("grp", expr(s"(cum - bytes) DIV $CompactTargetBytes"))
      .groupBy(col("source"), col("grp"))
      .agg(count(lit(1)).as("n_files"), sum(col("bytes")).as("grp_bytes"),
        min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
      .withColumn("fill_bp", expr(s"grp_bytes * 10000 DIV $CompactTargetBytes"))
      .orderBy(col("source"), col("grp"))
  }

  val qCompactionPlanSql: String =
    s"""WITH f AS (
       |  SELECT source, doc_id, CAST(length(text) AS BIGINT) AS bytes FROM documents
       |), c AS (
       |  SELECT source, doc_id, bytes,
       |    sum(bytes) OVER (PARTITION BY source ORDER BY doc_id) AS cum
       |  FROM f
       |)
       |SELECT source, CAST((cum - bytes) // $CompactTargetBytes AS BIGINT) AS grp,
       |  CAST(count(*) AS BIGINT) AS n_files,
       |  CAST(sum(bytes) AS BIGINT) AS grp_bytes,
       |  CAST(min(doc_id) AS BIGINT) AS first_doc,
       |  CAST(max(doc_id) AS BIGINT) AS last_doc,
       |  CAST(sum(bytes) * 10000 // $CompactTargetBytes AS BIGINT) AS fill_bp
       |FROM c GROUP BY source, grp
       |ORDER BY source, grp""".stripMargin

  /** Re-cluster trigger: fire maintenance when the append-drift raises the
    * mean zone-map width by at least this many basis points (averaged over
    * the two clustered dimensions). The 10%-unclustered-append scenario
    * measures ~900+ bp at every SF, so the registered query exercises the
    * FIRING branch; the no-op branch (fresh table, drift ≈ 0) is
    * spec-pinned.
    */
  val DriftThresholdBp = 250L

  /** Rows per restore-plan compaction group (8 × [[RowsPerFile]] granules
    * per rewrite task).
    */
  val ReclusterGroupRows = 4096

  /** The RE-CLUSTER MAINTENANCE DECISION over a (ok, ln, qty, pc, hk,
    * segment) relation — segment 0 = the Hilbert-clustered base, 1 = rows
    * appended since, in commit order:
    *
    *   measure: [[qLayoutDrift]]'s width statistics for the counterfactual
    *   fully-clustered layout vs the as-appended layout, collapsed to one
    *   `drift_bp` scalar (mean over both dimensions of the bp regression);
    *
    *   act: when `drift_bp` ≥ the threshold, emit the Hilbert-RESTORE
    *   plan — every row ranked by (hk, ok, ln) and carved into
    *   `groupRows`-row rewrite groups with their hk ranges, i.e. the group
    *   manifest a table service hands to [[compact]]-style rewrite tasks
    *   (each group = one output file span in curve order). Below the
    *   threshold the result is EMPTY — no maintenance due.
    *
    * The gate is IN-PLAN (the drift scalar rides a broadcast 1-row cross
    * join into the plan's filter), so the whole decision is one
    * declarative query the oracle replays — no driver branching on data.
    *
    * Scale: two zone-map passes + one [[Rank.globalRank]] pass over the
    * table (all range-exchange, no single-reducer window); the emitted
    * plan is manifest-sized. The drift measure is the cheap standing
    * query; the restore ranking only needs to run when it fires — a
    * driver COULD short-circuit on the scalar, but the declarative form
    * costs one extra rank pass only in the firing case, where the rewrite
    * it plans dwarfs it.
    */
  /** The standing drift measurement alone (1-row `drift_bp`) — the cheap
    * query a maintenance service polls; [[reclusterDecision]] attaches it
    * to the restore plan, and [[graft.streaming.ReclusterStream]] observes
    * it per arrival batch.
    */
  private[graft] def reclusterDrift(keyed: DataFrame): DataFrame = {
    val appendOrder = Seq(col("segment"),
      when(col("segment") === 0, col("hk")).otherwise(lit(0L)),
      col("ok"), col("ln"))
    val stats = healthStats(keyed, Seq(
      ("clustered", granuleZoneMaps(keyed, Seq(col("hk"), col("ok"), col("ln")))),
      ("after_append", granuleZoneMaps(keyed, appendOrder))))
    stats.agg(
      expr("sum(CASE WHEN layout = 'after_append' THEN avg_width_bp " +
        "ELSE -avg_width_bp END) DIV 2").as("drift_bp"))
  }

  private[graft] def reclusterDecision(keyed: DataFrame, thresholdBp: Long,
      groupRows: Int): DataFrame = {
    val drift = reclusterDrift(keyed)
    Rank.globalRank(keyed, Seq(col("hk"), col("ok"), col("ln")), 32)
      .select(expr(s"(rnk - 1) DIV $groupRows").as("grp"), col("hk"))
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("hk")).as("hk_lo"), max(col("hk")).as("hk_hi"))
      .crossJoin(broadcast(drift)) // 1-row scalar attach
      .filter(col("drift_bp") >= thresholdBp)
      .select(col("grp"), col("n_rows"), col("hk_lo"), col("hk_hi"), col("drift_bp"))
      .orderBy(col("grp"))
  }

  /** [[reclusterDecision]] on [[qLayoutDrift]]'s 10%-append scenario: the
    * drift trigger WIRED TO its repair — the maintenance loop closed. The
    * streaming dual ([[graft.streaming.ReclusterStream]]) runs the same
    * decision as appends arrive.
    */
  def qReclusterPlan(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val drift = healthStatsDom(stored(spark, dir, "dom"), Seq(
      ("clustered", stored(spark, dir, "hi")),
      ("after_append", stored(spark, dir, "append"))))
      .agg(
        expr("sum(CASE WHEN layout = 'after_append' THEN avg_width_bp " +
          "ELSE -avg_width_bp END) DIV 2").as("drift_bp"))
    stored(spark, dir, "restore")
      .crossJoin(broadcast(drift)) // 1-row scalar attach
      .filter(col("drift_bp") >= DriftThresholdBp)
      .select(col("grp"), col("n_rows"), col("hk_lo"), col("hk_hi"), col("drift_bp"))
      .orderBy(col("grp"))
  }

  /** Oracle: the [[qLayoutDriftSql]] width replay collapsed to the drift
    * scalar, the restore ranking as one total-order window, the gate as
    * the same scalar cross join.
    */
  val qReclusterPlanSql: String = {
    val statsBranches = for {
      (layout, files) <- Seq(("clustered", "hi_files"), ("after_append", "dr_files"))
      (dim, width, dom) <- Seq(("qty", "qmax - qmin + 1", "qdom"),
        ("price", "pmax - pmin + 1", "pdom"))
    } yield healthBranch(layout, files, dim, width, dom)
    s"""WITH $zoneMapCtes, dr AS (
       |  SELECT qty, pc, (row_number() OVER (ORDER BY
       |    CASE WHEN ok % 10 = 0 THEN 1 ELSE 0 END,
       |    CASE WHEN ok % 10 = 0 THEN 0 ELSE hk END, ok, ln) - 1) // $RowsPerFile AS f
       |  FROM k
       |), dr_files AS (
       |  SELECT f, min(qty) AS qmin, max(qty) AS qmax,
       |    min(pc) AS pmin, max(pc) AS pmax
       |  FROM dr GROUP BY f
       |), dom AS (
       |  SELECT max(qty) - min(qty) + 1 AS qdom, max(pc) - min(pc) + 1 AS pdom FROM k
       |), stats AS (
       |${statsBranches.mkString("\nUNION ALL\n")}
       |), drift AS (
       |  SELECT CAST(sum(CASE WHEN layout = 'after_append' THEN avg_width_bp
       |                       ELSE -avg_width_bp END) // 2 AS BIGINT) AS drift_bp
       |  FROM stats
       |), ranked AS (
       |  SELECT hk, (row_number() OVER (ORDER BY hk, ok, ln) - 1) // $ReclusterGroupRows AS grp
       |  FROM k
       |), plan AS (
       |  SELECT grp, count(*) AS n_rows, min(hk) AS hk_lo, max(hk) AS hk_hi
       |  FROM ranked GROUP BY grp
       |)
       |SELECT p.grp, p.n_rows, p.hk_lo, p.hk_hi, d.drift_bp
       |FROM plan p CROSS JOIN drift d
       |WHERE d.drift_bp >= $DriftThresholdBp
       |ORDER BY p.grp""".stripMargin
  }

  def queries: Map[String, (org.apache.spark.sql.SparkSession, String) => DataFrame] =
    Map("q_zorder_key" -> (qZOrderKey _), "q_skipping_stats" -> (qSkippingStats _),
      "q_hilbert_key" -> (qHilbertKey _),
      "q_clustering_health" -> (qClusteringHealth _),
      "q_layout_drift" -> (qLayoutDrift _),
      "q_compaction_plan" -> (qCompactionPlan _),
      "q_recluster_plan" -> (qReclusterPlan _))

  def oracle: Map[String, String] = Map(
    "q_zorder_key" -> qZOrderKeySql,
    "q_skipping_stats" -> qSkippingStatsSql,
    "q_hilbert_key" -> qHilbertKeySql,
    "q_clustering_health" -> qClusteringHealthSql,
    "q_layout_drift" -> qLayoutDriftSql,
    "q_compaction_plan" -> qCompactionPlanSql,
    "q_recluster_plan" -> qReclusterPlanSql)

  /** Compact a directory of (typically many small) parquet files into
    * ~`targetBytes` output files — the small-files problem: a 100 TB table
    * accreted from streaming micro-batches or per-event writes ends up as
    * millions of KB-sized files whose open/footer overhead dominates scan
    * time. Output file count is sized from the INPUT byte total (cheap
    * driver-side listing, no data pass); pass `sortCols` to restore a
    * clustering (e.g. the z-key) while compacting, otherwise a
    * round-robin `repartition` balances bytes evenly.
    *
    * At scale run this per partition-directory (compaction of a live table
    * is per-partition and incremental); writing to a NEW directory + atomic
    * swap is the caller's transaction boundary, mirroring how table formats
    * commit compactions.
    */
  def compact(spark: org.apache.spark.sql.SparkSession, inDir: String, outDir: String,
      targetBytes: Long = 128L * 1024 * 1024, sortCols: Seq[Column] = Nil): Int = {
    val path = new org.apache.hadoop.fs.Path(inDir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val totalBytes = fs.listStatus(path)
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      .map(_.getLen).sum
    val nFiles = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
    val df = Tables.parquet(spark, inDir)
    val arranged =
      if (sortCols.isEmpty) df.repartition(nFiles)
      else df.repartitionByRange(nFiles, sortCols: _*).sortWithinPartitions(sortCols: _*)
    arranged.write.mode("overwrite").parquet(outDir)
    nFiles
  }

  /** Write `df` clustered by the Morton order of two quantized key columns:
    * range-partition on the z-key (sampled boundaries → balanced files),
    * sort within partitions, drop the helper column, write parquet. Each
    * output file then covers a compact box in (a, b) space and parquet
    * min-max pruning works for filters on either dimension.
    */
  def writeZOrdered(df: DataFrame, a: Column, b: Column, bits: Int,
      numFiles: Int, path: String): Unit = {
    val keyed = df.withColumn("__zkey", zkey2(a, b, bits))
    keyed
      .repartitionByRange(numFiles, col("__zkey"))
      .sortWithinPartitions(col("__zkey"))
      .drop("__zkey")
      .write.mode("overwrite").parquet(path)
  }
}
