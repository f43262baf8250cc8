package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew mitigation: salted equi-join for hot keys (SCALE.md). AQE's skew
  * handling covers sort-merge joins at runtime; explicit salting is the
  * deterministic fallback when one build-side key dominates (e.g. a dedup
  * bucket or a celebrity user) and for aggregations.
  *
  * Shape: fact rows get a random-but-deterministic salt in [0, n); the
  * (small or skewed-key) side is replicated n× so every (key, salt) pair
  * matches — the hot key's rows spread across n reducers.
  */
object Skew {

  /** Inner equi-join `fact ⨝ other ON factKey = otherKey`, salted n ways.
    * Result equals the plain join (row multiset), partitions balanced.
    */
  def saltedJoin(
      fact: DataFrame,
      other: DataFrame,
      factKey: String,
      otherKey: String,
      saltBuckets: Int = 16): DataFrame = {
    val salted = fact.withColumn("_salt",
      pmod(xxhash64(monotonically_increasing_id()), lit(saltBuckets.toLong)).cast("int"))
    val replicated = other.withColumn("_salt",
      explode(array((0 until saltBuckets).map(lit): _*)))
    salted
      .join(replicated, col(factKey) === col(otherKey) && salted("_salt") === replicated("_salt"))
      .drop("_salt")
  }

  /** Hot-key bar for [[adaptiveJoin]], in basis points of the MEAN key
    * frequency: a fact key at ≥ 100× the mean is the straggler-reducer
    * signature ([[JoinShapes.qSkewProfile]]'s x_mean_bp scale), so the
    * salted path engages at 1,000,000 bp.
    */
  val AdaptiveSaltBarBp = 1000000L

  /** SKEW-ADAPTIVE equi-join: the
    * [[JoinShapes.qSkewProfile]] measurement WIRED to the join strategy.
    * The fact side's key profile collapses to a 1-row decision scalar —
    * `max_x_mean_bp` = the hottest key's multiple of the mean frequency
    * in exact basis points (a DECIMAL(38,0) product, so it cannot
    * overflow; localCheckpointed so the profile subtree is paid once)
    * — which broadcasts onto BOTH join sides as the SALT-BUCKET COUNT:
    * [[saltBuckets]] at/above the [[AdaptiveSaltBarBp]] bar, 1 below it.
    * With one bucket the salt column is the constant 0 on both sides, so
    * the join IS the plain equi-join (same shuffle keys plus a constant);
    * with n buckets it is [[saltedJoin]]. Either way the result equals
    * the plain join's row multiset, with the decision (`max_x_mean_bp`,
    * `salted`) carried on every row for auditability — the
    * [[Similarity.qRecallRetrain]] in-plan-decision precedent: no driver
    * collect, the verdict is a broadcast scalar.
    *
    * Scale: the profile is one map-side-combined key count + a 1-row
    * aggregate, and the fact/dim sides are each scanned ONCE — an
    * earlier two-branch union shape scanned the fact table twice (the
    * inert branch still read every byte before its filter); folding the
    * decision into the bucket count removes that.
    */
  def adaptiveJoin(
      fact: DataFrame,
      dim: DataFrame,
      factKey: String,
      dimKey: String,
      saltBuckets: Int = 16,
      barBp: Long = AdaptiveSaltBarBp): DataFrame = {
    val dec = fact.groupBy(col(factKey)).agg(count(lit(1)).as("cnt"))
      .agg(sum(col("cnt")).as("n_rows"), count(lit(1)).as("n_keys"),
        max(col("cnt")).as("max_cnt"))
      .select(
        expr("(CAST(max_cnt AS DECIMAL(38,0)) * n_keys * 10000) DIV n_rows")
          .as("max_x_mean_bp"))
      .select(col("max_x_mean_bp"),
        when(col("max_x_mean_bp") >= barBp, 1L).otherwise(0L).as("salted"))
      .localCheckpoint()
    val nb = when(col("salted") === 1, lit(saltBuckets.toLong)).otherwise(lit(1L))
    val salted = fact.crossJoin(broadcast(dec))
      .withColumn("_salt",
        pmod(xxhash64(monotonically_increasing_id()), nb).cast("int"))
    val replicated = dim
      .crossJoin(broadcast(dec.select(nb.as("_nb"))))
      .withColumn("_salt", explode(expr("sequence(0, CAST(_nb AS INT) - 1)")))
      .drop("_nb")
    salted
      .join(replicated,
        col(factKey) === col(dimKey) && salted("_salt") === replicated("_salt"))
      .drop("_salt")
  }
}
