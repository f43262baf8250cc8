package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.types._

/** Structured Streaming surface over the `events` table shape: watermarked
  * tumbling/sliding/session window aggregations and custom per-key state —
  * the streaming duals of the batch queries in graft.ops.Events.
  *
  * Scale design: each aggregation is a standard stateful shuffle on the
  * window/grouping key backed by the state store (RocksDB on a real
  * cluster); watermarks bound state size; `Trigger.AvailableNow` gives
  * batch-catchup semantics for backfills.
  */
object EventStreams {

  /** Raw parquet schema of the events table (`ts` is `timestamp[us]`,
    * timezone-naive — surfaced as TIMESTAMP_NTZ and cast to the session
    * timezone in [[eventStream]]; see graft.ops.Tables.events).
    */
  val rawSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampNTZType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType),
  ))

  /** File-source stream of events with `ts` as a session-timezone
    * microsecond timestamp (UTC session ⇒ the cast preserves epoch values).
    *
    * Same ts adaptivity as the batch reader (graft.ops.Tables.events): a
    * one-time driver-side footer probe of whatever files already exist —
    * int64 nanosecond `ts` (the pre-migration generator) converts via
    * DIV 1000, native timestamps cast directly — so a stream pointed at
    * either vintage of the events table reads correctly instead of
    * failing on the older layout. Empty directories default to the
    * current timestamp[us] layout.
    */
  def eventStream(spark: SparkSession, path: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val tsType = scala.util.Try(graft.ops.Tables.parquetSchema(spark, path)("ts").dataType)
      .getOrElse(TimestampNTZType)
    tsType match {
      case LongType =>
        val nsSchema = StructType(rawSchema.map(f =>
          if (f.name == "ts") f.copy(dataType = LongType) else f))
        spark.readStream.schema(nsSchema).parquet(path)
          .withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case _ =>
        spark.readStream.schema(rawSchema).parquet(path)
          .withColumn("ts", col("ts").cast(TimestampType))
    }
  }

  /** Streaming M4 downsampling — the live-dashboard dual of
    * [[graft.ops.Events.qM4Downsample]]: per (series, pixel bucket), the
    * first/last/min/max points maintained as a streaming aggregation. All
    * four statistics are MERGEABLE (min/max trivially; first/last as
    * min_by/max_by over the packed total-order key), so each micro-batch
    * folds into per-bucket state of constant size — the chart stays
    * pixel-exact while ingest runs, with state bounded by pixels × series
    * regardless of event volume. Complete output mode re-emits the small
    * bucket relation; results equal the one-shot batch aggregate under
    * any trigger split (spec-pinned — that IS mergeability).
    */
  def m4Buckets(events: DataFrame): DataFrame =
    events.select(col("event_type"),
      (graft.ops.Tables.dec(col("value")) * 100).cast(LongType).as("cents"),
      expr("unix_timestamp(ts) DIV 86400").as("b"),
      expr("unix_timestamp(ts) * 10000000 + event_id").as("o"))
      .groupBy(col("event_type"), col("b"))
      .agg(count(lit(1)).as("n"),
        min(col("cents")).as("v_min"), max(col("cents")).as("v_max"),
        min_by(col("cents"), col("o")).as("v_first"),
        max_by(col("cents"), col("o")).as("v_last"))

  /** Watermarked tumbling-window counts per event type. */
  def hourlyCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"), col("n"), col("sum_value"))

  /** Watermarked sliding-window counts (1 hour / 30 min). */
  def slidingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour", "30 minutes"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col("n"))

  /** Watermarked session windows per user (5-minute gap). */
  def sessionCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(session_window(col("ts"), "5 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("session_window.start").as("session_start"), col("user_id"), col("n"))

  /** Stream-stream interval join: purchases matched to same-user clicks in
    * the preceding 30 minutes. Both sides watermarked so the state store
    * can discard expired rows — the canonical streaming join shape.
    */
  def purchaseClickJoin(events: DataFrame): DataFrame = {
    val purchases = events
      .filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_event_id"), col("user_id").as("p_user_id"), col("ts").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    val clicks = events
      .filter(col("event_type") === "click")
      .select(col("event_id").as("c_event_id"), col("user_id").as("c_user_id"), col("ts").as("c_ts"))
      .withWatermark("c_ts", "1 hour")
    purchases.join(
      clicks,
      col("p_user_id") === col("c_user_id") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 30 MINUTES") &&
        col("c_ts") < col("p_ts"))
  }

  /** Streaming exact dedup on `event_id` — the streaming dual of
    * [[graft.ops.TextDedup.exact]]'s groupBy: each key is remembered in the
    * state store only within the watermark horizon, so state stays bounded
    * while duplicates inside the horizon (the at-least-once delivery case)
    * are dropped. Use `dropDuplicates` (unbounded state) only for
    * replay-free sources.
    */
  def dedupedEvents(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")

  final case class Ev(event_id: Long, user_id: Long, event_type: String)
  final case class UserCount(user_id: Long, n: Long)

  /** Custom keyed state: running per-user event counts via
    * flatMapGroupsWithState (the `mapGroupsWithState` family — arbitrary
    * state the built-in windows can't express).
    */
  def runningUserCounts(events: DataFrame): Dataset[UserCount] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col("event_id"), col("user_id"), col("event_type"))
      .as[Ev]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(
        (userId: Long, evs: Iterator[Ev], state: GroupState[UserCount]) => {
          val prev = state.getOption.map(_.n).getOrElse(0L)
          val next = UserCount(userId, prev + evs.size)
          state.update(next)
          Iterator(next)
        })
  }

  final case class ValEv(user_id: Long, event_id: Long, value: Double)
  final case class TopKState(entries: List[ValEv])

  /** Streaming top-k per key — the streaming dual of
    * [[graft.plans.TopKPerKey]]: per user, the k highest-value events seen
    * so far, maintained as O(k) state per key in the state store and
    * re-emitted on update. Order (value desc, event_id) is total, so the
    * retained set is deterministic and equals the batch operator's result
    * on the same data (spec-asserted).
    */
  def topKEventsPerUser(events: DataFrame, k: Int): Dataset[ValEv] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col("user_id"), col("event_id"), col("value"))
      .as[ValEv]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(
        (userId: Long, evs: Iterator[ValEv], state: GroupState[TopKState]) => {
          val merged = (state.getOption.map(_.entries).getOrElse(Nil) ++ evs)
            .sortBy(e => (-e.value, e.event_id))
            .take(k)
          state.update(TopKState(merged))
          merged.iterator
        })
  }

  final case class FunnelEv(user_id: Long, event_type: String, ts: java.sql.Timestamp,
      event_id: Long)
  final case class PendingView(viewUs: Long, clickUs: Option[Long])
  final case class FunnelState(pending: List[PendingView], maxSeenUs: Long)
  final case class FunnelHit(user_id: Long, view_ts: java.sql.Timestamp,
      purchase_ts: java.sql.Timestamp)

  /** Streaming dual of [[graft.ops.Events.qEventsFunnel]]: per user, emit a
    * hit when a view's earliest following click gains its earliest
    * following purchase within `windowHours` of the view. State per key is
    * the list of still-completable pending views (view ts + first click
    * ts) — bounded: a view is dropped the moment it completes, fails (its
    * deciding purchase arrived too late), or ages past the window relative
    * to the key's max seen event time. Events are processed in (ts,
    * event_id) order within each micro-batch; on a production stream add a
    * watermark and delay-tolerant eviction for cross-batch reordering.
    */
  def funnelCompletions(events: DataFrame, windowHours: Int = 24): Dataset[FunnelHit] = {
    val spark = events.sparkSession
    import spark.implicits._
    val windowUs = windowHours.toLong * 3600L * 1000000L
    def us(t: java.sql.Timestamp): Long = t.getTime * 1000L + (t.getNanos / 1000L) % 1000L
    def fromUs(usv: Long): java.sql.Timestamp = {
      val t = new java.sql.Timestamp((usv / 1000000L) * 1000L)
      t.setNanos(((usv % 1000000L) * 1000L).toInt)
      t
    }
    events
      .filter(col("event_type").isin("view", "click", "purchase"))
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
      .as[FunnelEv]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (userId: Long, evs: Iterator[FunnelEv], state: GroupState[FunnelState]) => {
          var st = state.getOption.getOrElse(FunnelState(Nil, Long.MinValue))
          val hits = List.newBuilder[FunnelHit]
          evs.toSeq.sortBy(e => (us(e.ts), e.event_id)).foreach { e =>
            val t = us(e.ts)
            st = st.copy(maxSeenUs = math.max(st.maxSeenUs, t))
            e.event_type match {
              case "view" =>
                st = st.copy(pending = st.pending :+ PendingView(t, None))
              case "click" =>
                // first click after each still-clickless view (rows are in
                // order, so any clickless pending view precedes this click)
                st = st.copy(pending = st.pending.map(p =>
                  if (p.clickUs.isEmpty) p.copy(clickUs = Some(t)) else p))
              case "purchase" =>
                // this purchase is the FIRST one following every clicked
                // pending view's first click — it decides each of them
                val (decided, rest) = st.pending.partition(_.clickUs.isDefined)
                decided.foreach { p =>
                  if (t <= p.viewUs + windowUs)
                    hits += FunnelHit(userId, fromUs(p.viewUs), fromUs(t))
                  // else: too late — no later purchase can beat this one
                }
                st = st.copy(pending = rest)
            }
          }
          // evict views that can no longer complete (any future purchase
          // is later than maxSeen under in-order delivery)
          st = st.copy(pending = st.pending.filter(_.viewUs + windowUs >= st.maxSeenUs))
          state.update(st)
          hits.result().iterator
        })
  }

  final case class TouchState(touch: Option[String])
  final case class AttributionHit(user_id: Long, event_id: Long, touch: String)

  /** Streaming dual of [[graft.ops.Events.qAttributionLastTouch]]: on
    * every purchase, emit the user's running last non-purchase event type
    * (`organic` when none yet). State per key is ONE small string — the
    * minimal stateful-streaming shape: bounded regardless of history
    * length, no eviction needed, RocksDB-friendly at billions of users.
    * Events are processed in (ts, event_id) order within each
    * micro-batch, same in-order contract as [[funnelCompletions]].
    */
  def lastTouchAttribution(events: DataFrame): Dataset[AttributionHit] = {
    val spark = events.sparkSession
    import spark.implicits._
    def us(t: java.sql.Timestamp): Long = t.getTime * 1000L + (t.getNanos / 1000L) % 1000L
    events
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
      .as[FunnelEv]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (userId: Long, evs: Iterator[FunnelEv], state: GroupState[TouchState]) => {
          var st = state.getOption.getOrElse(TouchState(None))
          val hits = List.newBuilder[AttributionHit]
          evs.toSeq.sortBy(e => (us(e.ts), e.event_id)).foreach { e =>
            if (e.event_type == "purchase")
              hits += AttributionHit(userId, e.event_id, st.touch.getOrElse("organic"))
            else st = TouchState(Some(e.event_type))
          }
          state.update(st)
          hits.result().iterator
        })
  }

  /** Back streaming state with the RocksDB provider — native memory +
    * local-disk spill per state partition, the state store for large keyed
    * state (the default HDFS-backed provider holds each partition's map on
    * the executor heap). Session-wide toggle; returns the previous
    * provider so callers can restore it.
    */
  def useRocksDBStateStore(spark: SparkSession): Option[String] = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    prev
  }

  /** Run any streaming DataFrame to a named in-memory table with
    * batch-catchup semantics (`Trigger.AvailableNow`); returns the
    * materialized table. With `checkpoint`, offsets and state survive
    * across calls: a second run with the same checkpoint processes ONLY
    * newly arrived files and resumes its state store — the backfill /
    * catch-up loop.
    */
  def runToMemory(
      df: DataFrame,
      queryName: String,
      outputMode: String = "complete",
      checkpoint: Option[String] = None): DataFrame = {
    val w = df.writeStream
      .format("memory")
      .queryName(queryName)
      .outputMode(outputMode)
      .trigger(Trigger.AvailableNow())
    val q = checkpoint.fold(w)(c => w.option("checkpointLocation", c)).start()
    q.awaitTermination()
    df.sparkSession.table(queryName)
  }
}
