package graft.streaming

import graft.SparkFunSuite
import org.apache.spark.sql.functions._

/** Streaming semantics vs their batch duals at sf0.001, plus the hub
  * directory-watch mode (discover → per-file transform → exactly-once).
  */
class StreamingSpec extends SparkFunSuite {

  private val sf = "/root/testdata/sf0.001"

  /** File sources stream DIRECTORIES — stage the single events file. */
  private lazy val eventsPath: String = {
    val d = tmpDir("events-stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      java.nio.file.Paths.get(s"$d/events.parquet"))
    d
  }

  test("streaming tumbling window counts equal batch aggregation") {
    val stream = EventStreams.hourlyCounts(EventStreams.eventStream(spark, eventsPath))
    val got = EventStreams.runToMemory(stream, "t_hourly")
      .groupBy().agg(sum("n")).head().getLong(0)
    val want = graft.ops.Tables.events(spark, sf).count()
    assert(got == want) // every event lands in exactly one tumbling window

    val batch = graft.ops.Tables.events(spark, sf)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col("event_type"), col("n"))
    val streamRows = spark.table("t_hourly")
      .select("window_start", "event_type", "n").collect().map(_.toSeq).toSet
    val batchRows = batch.collect().map(_.toSeq).toSet
    assert(streamRows == batchRows)
  }

  test("RocksDB state store + AvailableNow: checkpointed catch-up across runs") {
    val prev = EventStreams.useRocksDBStateStore(spark)
    try {
      assert(spark.conf.get("spark.sql.streaming.stateStore.providerClass")
        .contains("RocksDBStateStoreProvider"))
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val raw = spark.read.schema(EventStreams.rawSchema).parquet(s"$sf/events.parquet")
      val dir = tmpDir("events-catchup")
      val ckpt = tmpDir("events-catchup-ckpt")
      val firstHalf = raw.filter(col("event_id") % 2 === 0)
      firstHalf.coalesce(1).write.mode("append").parquet(dir)

      val q = EventStreams.hourlyCounts(EventStreams.eventStream(spark, dir))
      val run1 = EventStreams.runToMemory(q, "t_catchup", checkpoint = Some(ckpt))
      assert(run1.groupBy().agg(sum("n")).head().getLong(0) == firstHalf.count())

      // new files arrive; the SAME checkpoint resumes offsets + RocksDB
      // state and processes only the new arrivals
      raw.filter(col("event_id") % 2 === 1).coalesce(1).write.mode("append").parquet(dir)
      val run2 = EventStreams.runToMemory(q, "t_catchup", checkpoint = Some(ckpt))
      assert(run2.groupBy().agg(sum("n")).head().getLong(0) == raw.count())

      // and the caught-up result equals the batch dual on the full data
      val batch = graft.ops.Tables.events(spark, sf)
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start").as("window_start"), col("event_type"), col("n"))
      assert(run2.select("window_start", "event_type", "n").collect().map(_.toSeq).toSet ==
        batch.collect().map(_.toSeq).toSet)
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("streaming sliding windows double-count each event") {
    val stream = EventStreams.slidingCounts(EventStreams.eventStream(spark, eventsPath))
    val got = EventStreams.runToMemory(stream, "t_sliding")
      .groupBy().agg(sum("n")).head().getLong(0)
    val want = graft.ops.Tables.events(spark, sf).count() * 2
    assert(got == want)
  }

  test("streaming session windows match batch sessionization") {
    val stream = EventStreams.sessionCounts(EventStreams.eventStream(spark, eventsPath))
    val got = EventStreams.runToMemory(stream, "t_sessions")
    val batch = graft.ops.Tables.events(spark, sf)
      .groupBy(session_window(col("ts"), "5 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"))
    assert(got.count() == batch.count())
    assert(got.groupBy().agg(sum("n")).head().getLong(0) ==
      graft.ops.Tables.events(spark, sf).count())
  }

  test("streaming dedup drops within-watermark duplicate event ids") {
    // stage the SAME file twice — an at-least-once redelivery
    val d = tmpDir("events-dup-stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      java.nio.file.Paths.get(s"$d/events-a.parquet"))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      java.nio.file.Paths.get(s"$d/events-b.parquet"))
    val stream = EventStreams.dedupedEvents(EventStreams.eventStream(spark, d))
    val got = EventStreams.runToMemory(stream, "t_dedup", outputMode = "append")
    val want = graft.ops.Tables.events(spark, sf)
      .select("event_id").distinct().count()
    assert(got.select("event_id").distinct().count() == want)
    assert(got.count() == want, "duplicate event_id survived streaming dedup")
  }

  test("flatMapGroupsWithState running user counts reach per-user totals") {
    val stream = EventStreams.runningUserCounts(EventStreams.eventStream(spark, eventsPath))
    val got = EventStreams.runToMemory(stream.toDF(), "t_usercounts", outputMode = "update")
      .groupBy(col("user_id")).agg(max(col("n")).as("n"))
    val want = graft.ops.Tables.events(spark, sf)
      .groupBy(col("user_id")).agg(count(lit(1)).as("n"))
    val g = got.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val w = want.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(g == w)
  }

  test("streaming per-user top-k state converges to the batch top-k") {
    val k = 3
    val stream = EventStreams.topKEventsPerUser(
      EventStreams.eventStream(spark, eventsPath), k)
    // update mode re-emits a user's current top-k on every change; the
    // LAST emission per user is the converged set — reduce via batch top-k
    // over the emitted union, which equals it
    val emitted = EventStreams.runToMemory(stream.toDF(), "t_topk", outputMode = "update")
    val gotTop = graft.plans.TopKPerKey.perKey(
        emitted.dropDuplicates("user_id", "event_id"),
        Seq(col("user_id")), Seq(col("value").desc, col("event_id").asc), k)
      .select("user_id", "event_id", "value", "rnk")
      .collect().map(_.toSeq).toSet
    val wantTop = graft.plans.TopKPerKey.perKey(
        graft.ops.Tables.events(spark, sf).select("user_id", "event_id", "value"),
        Seq(col("user_id")), Seq(col("value").desc, col("event_id").asc), k)
      .select("user_id", "event_id", "value", "rnk")
      .collect().map(_.toSeq).toSet
    assert(gotTop == wantTop)
    // and every batch-top-k row was actually emitted by the stream
    val emittedSet = emitted.select("user_id", "event_id").collect().map(_.toSeq).toSet
    val wantPairs = wantTop.map(r => Seq(r(0), r(1)))
    assert(wantPairs.subsetOf(emittedSet))
  }

  test("streaming funnel state machine equals the batch funnel query") {
    val stream = EventStreams.funnelCompletions(
      EventStreams.eventStream(spark, eventsPath), windowHours = 24)
    val got = EventStreams.runToMemory(stream.toDF(), "t_funnel", outputMode = "append")
      .groupBy(col("user_id")).agg(count(lit(1)).as("n_funnels"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val want = graft.ops.Events.qEventsFunnel(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(want.nonEmpty, "fixture must produce at least one completed funnel")
    assert(got == want)
  }

  test("streaming last-touch attribution equals the batch attribution query") {
    val stream = EventStreams.lastTouchAttribution(
      EventStreams.eventStream(spark, eventsPath))
    val got = EventStreams.runToMemory(stream.toDF(), "t_attr", outputMode = "append")
      .groupBy(col("touch")).agg(count(lit(1)).as("n_purchases"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val want = graft.ops.Events.qAttributionLastTouch(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(want.nonEmpty)
    assert(got == want)
  }

  test("stream-stream interval join matches the batch join") {
    val stream = EventStreams.purchaseClickJoin(EventStreams.eventStream(spark, eventsPath))
    val got = EventStreams.runToMemory(stream, "t_ssjoin", outputMode = "append").count()
    val ev = graft.ops.Tables.events(spark, sf)
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_event_id"), col("user_id").as("p_user_id"), col("ts").as("p_ts"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("c_event_id"), col("user_id").as("c_user_id"), col("ts").as("c_ts"))
    val want = p.join(c,
      col("p_user_id") === col("c_user_id") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 30 MINUTES") &&
        col("c_ts") < col("p_ts")).count()
    assert(got == want && want > 0)
  }

  test("streaming M4 buckets equal the batch downsample across trigger splits") {
    // stage the events file as TWO arrivals split by event id parity so the
    // per-bucket state genuinely merges across micro-batches
    val d = tmpDir("m4-stream")
    val raw = graft.ops.Tables.events(spark, sf)
    raw.filter(col("event_id") % 2 === 0).coalesce(1)
      .write.mode("append").parquet(d)
    Thread.sleep(60)
    raw.filter(col("event_id") % 2 =!= 0).coalesce(1)
      .write.mode("append").parquet(d)
    val got = EventStreams.runToMemory(
      EventStreams.m4Buckets(EventStreams.eventStream(spark, d)),
      "t_m4", outputMode = "complete")
      .collect().map(_.toSeq).toSet
    val want = graft.ops.Events.qM4Downsample(spark, sf)
      .collect().map(_.toSeq).toSet
    assert(got === want)
  }

  test("streaming ingest dedup flags exact corpus duplicates on arrival") {
    import spark.implicits._
    val corpus = graft.ops.Tables.table(spark, sf, "documents")
      .filter(pmod(col("doc_id"), lit(5)) =!= 0)
    val fps = IngestDedup.corpusFingerprints(corpus)

    // two arrivals: one fresh doc, one copying a corpus text verbatim
    val dir = tmpDir("ingest-dedup")
    val copied = corpus.orderBy(col("doc_id")).limit(1)
      .select(col("doc_id"), col("text")).head()
    Seq((100000L, "a genuinely new document about nothing", "en", "spec", 38L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("append").parquet(dir)
    Seq((100001L, copied.getString(1), "en", "spec", copied.getString(1).length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("append").parquet(dir)

    val flagged = EventStreams.runToMemory(
      IngestDedup.flagExactDups(IngestDedup.docStream(spark, dir), fps),
      "t_ingest_dedup", outputMode = "append")
    val byId = flagged.collect().map(r => r.getLong(0) ->
      (if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
    assert(byId(100000L).isEmpty, "fresh doc wrongly flagged as duplicate")
    assert(byId(100001L).contains(copied.getLong(0)),
      "copied doc must carry its corpus survivor id")
  }

  test("streaming novelty gate scores arrivals against the static shingle index") {
    import spark.implicits._
    val corpus = graft.ops.Tables.table(spark, sf, "documents")
    val idx = IngestDedup.corpusShingleIndex(corpus).localCheckpoint()

    // three arrivals: a verbatim corpus copy (0 bp), a genuinely new doc
    // (10000 bp), and a half-novel doc stitching a corpus prefix to new
    // words. The gate must match the batch novelty computation exactly.
    val dir = tmpDir("novelty-gate")
    val copied = corpus.orderBy(col("doc_id")).limit(1)
      .select(col("doc_id"), col("text")).head().getString(1)
    val arrivals = Seq(
      (200000L, copied, "en", "spec", copied.length.toLong),
      (200001L, "entirely unseen walrus tokens parade through here", "en", "spec", 49L),
      (200002L, copied.split("\\s+").take(3).mkString(" ") + " walrus parade finale", "en", "spec", 30L))
    arrivals.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("append").parquet(dir)

    val gated = EventStreams.runToMemory(
      IngestDedup.noveltyGate(IngestDedup.docStream(spark, dir), idx),
      "t_novelty_gate", outputMode = "complete")
    val byId = gated.collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap

    // batch reference: same expression over the same arrivals as a table
    val batch = IngestDedup.noveltyGate(
      arrivals.toDF("doc_id", "text", "lang", "source", "n_chars"), idx)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(byId === batch)
    assert(byId(200000L)._3 === 0L, "verbatim corpus copy must score 0 bp")
    assert(byId(200001L)._3 === 10000L, "unseen doc must score 10000 bp")
    assert(byId(200002L)._2 > 0L && byId(200002L)._3 < 10000L,
      "stitched doc is partially novel")
  }

  test("streaming view refresh equals the full recompute under a split dim feed") {
    import org.apache.spark.sql.types._
    val orders = graft.ops.Tables.table(spark, sf, "orders")
      .select(col("o_orderkey"), col("o_custkey").as("custkey"),
        graft.ops.Tables.dec(col("o_totalprice")).as("price"))
    val cust = graft.ops.Tables.table(spark, sf, "customer")
      .select(col("c_custkey").as("custkey"), col("c_mktsegment"))
    val initialView = orders.join(cust, Seq("custkey"))
      .select(col("o_orderkey"), col("custkey"),
        col("c_mktsegment").as("segment"), col("price"))
    // dimension-update feed: every 7th customer re-segmented, delivered
    // across TWO files => two refresh micro-batches
    val updates = cust.filter(col("custkey") % 7 === 0)
      .withColumn("c_mktsegment", lit("RESEGMENTED"))
    val dimDir = tmpDir("view-refresh-dim")
    updates.filter(col("custkey") % 14 === 0).coalesce(1)
      .write.mode("append").parquet(dimDir)
    Thread.sleep(60)
    updates.filter(col("custkey") % 14 =!= 0).coalesce(1)
      .write.mode("append").parquet(dimDir)
    val dimSchema = StructType(Seq(StructField("custkey", LongType),
      StructField("c_mktsegment", StringType)))
    val got = CdcMergeStream.runViewRefresh(
      spark, dimDir, dimSchema, tmpDir("view-refresh-ckpt"),
      initialView, orders, "custkey",
      joined => joined.select(col("o_orderkey"), col("custkey"),
        col("c_mktsegment").as("segment"), col("price")))
      .select(col("o_orderkey"), col("custkey"), col("segment"), col("price"))
    // oracle: full recompute against the fully-updated dimension
    val updatedDim = cust.withColumn("c_mktsegment",
      when(col("custkey") % 7 === 0, lit("RESEGMENTED")).otherwise(col("c_mktsegment")))
    val want = orders.join(updatedDim, Seq("custkey"))
      .select(col("o_orderkey"), col("custkey"),
        col("c_mktsegment").as("segment"), col("price"))
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    assert(got.count() === initialView.count(), "refresh must not change view size")
  }

  test("streaming compaction planner reproduces the batch plan across trigger splits") {
    import spark.implicits._
    // two partition directories committed interleaved across three arrival
    // files (maxFilesPerTrigger = 1 => three micro-batches): the carried
    // per-directory byte totals must make the streamed next-fit plan equal
    // the one-shot batch plan over the union
    val docs = graft.ops.Tables.table(spark, sf, "documents")
      .filter(col("source").isin("src0", "src1"))
      .select(col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars"))
      .orderBy(col("doc_id")).collect()
    val splits = Seq(docs.take(12), docs.slice(12, 31), docs.drop(31))
    val dir = tmpDir("compaction-gate")
    splits.foreach { chunk =>
      chunk.toSeq.map(r => (r.getLong(0), r.getString(1), r.getString(2),
          r.getString(3), r.getLong(4)))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("append").parquet(dir)
      Thread.sleep(60) // distinct commit timestamps => deterministic arrival order
    }
    val assigned = CompactionStream.compactionGate(
      spark, dir, tmpDir("compaction-gate-ckpt"))
    val streamed = CompactionStream.toGroupPlan(assigned)
      .collect().map(_.toSeq).toSeq
    // batch reference: the SAME planner expression over the union as a table
    val batch = graft.ops.Layout.qCompactionPlan(spark, sf)
      .filter(col("source").isin("src0", "src1"))
      .collect().map(_.toSeq).toSeq
    assert(streamed === batch)
    // and the stream really did carry state: a directory's files span batches
    assert(splits.count(_.exists(_.getString(3) == "src0")) > 1)
  }

  test("stateful compaction assignments equal the batch plan via the state store") {
    import spark.implicits._
    // same two directories as the foreachBatch gate, but through
    // flatMapGroupsWithState — one long of state per directory
    val docs = graft.ops.Tables.table(spark, sf, "documents")
      .filter(col("source").isin("src2", "src3"))
      .select(col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars"))
      .orderBy(col("doc_id")).collect()
    val splits = Seq(docs.take(9), docs.slice(9, 28), docs.drop(28))
    val dir = tmpDir("compaction-fmgws")
    splits.foreach { chunk =>
      chunk.toSeq.map(r => (r.getLong(0), r.getString(1), r.getString(2),
          r.getString(3), r.getLong(4)))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("append").parquet(dir)
      Thread.sleep(60)
    }
    // one file per trigger => the per-directory state genuinely spans batches
    val stream = spark.readStream.schema(IngestDedup.docSchema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
    val assigned = EventStreams.runToMemory(
      CompactionStream.compactionAssignments(stream).toDF(),
      "t_compaction_fmgws", outputMode = "append")
    val streamed = CompactionStream.toGroupPlan(assigned)
      .collect().map(_.toSeq).toSeq
    val batch = graft.ops.Layout.qCompactionPlan(spark, sf)
      .filter(col("source").isin("src2", "src3"))
      .collect().map(_.toSeq).toSeq
    assert(streamed === batch)
  }

  test("stateful compaction planner holds its directory totals in RocksDB too") {
    import spark.implicits._
    val prev = EventStreams.useRocksDBStateStore(spark)
    try {
      val docs = graft.ops.Tables.table(spark, sf, "documents")
        .filter(col("source").isin("src4"))
        .select(col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars"))
        .orderBy(col("doc_id")).collect()
      val splits = Seq(docs.take(8), docs.drop(8))
      val dir = tmpDir("compaction-rocksdb")
      splits.foreach { chunk =>
        chunk.toSeq.map(r => (r.getLong(0), r.getString(1), r.getString(2),
            r.getString(3), r.getLong(4)))
          .toDF("doc_id", "text", "lang", "source", "n_chars")
          .coalesce(1).write.mode("append").parquet(dir)
        Thread.sleep(60)
      }
      val stream = spark.readStream.schema(IngestDedup.docSchema)
        .option("maxFilesPerTrigger", "1").parquet(dir)
      val assigned = EventStreams.runToMemory(
        CompactionStream.compactionAssignments(stream).toDF(),
        "t_compaction_rocksdb", outputMode = "append")
      val streamed = CompactionStream.toGroupPlan(assigned)
        .collect().map(_.toSeq).toSeq
      val batch = graft.ops.Layout.qCompactionPlan(spark, sf)
        .filter(col("source") === "src4")
        .collect().map(_.toSeq).toSeq
      assert(streamed === batch)
    } finally {
      val key = "spark.sql.streaming.stateStore.providerClass"
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("streaming shard router agrees with the batch rendezvous assignment") {
    import spark.implicits._
    val docs = graft.ops.Tables.table(spark, sf, "documents").limit(50)
    val dir = tmpDir("shard-router")
    docs.coalesce(1).write.mode("append").parquet(dir)

    val routed = EventStreams.runToMemory(
      IngestDedup.shardRouter(IngestDedup.docStream(spark, dir)),
      "t_shard_router", outputMode = "append")
    val streamed = routed.collect().map(r => (r.getLong(0), r.getLong(1))).toMap

    val batch = IngestDedup.shardRouter(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(streamed === batch, "stream and batch must route identically")
    assert(streamed.values.forall(s => s >= 0 && s < graft.ops.Corpus.NumShards))
  }

  test("streaming overlap-span gate equals the one-shot batch probe across trigger splits") {
    import spark.implicits._
    val shared = (1 to 10).map(i => s"c$i").mkString(" ")
    val corpus = Seq((1L, s"intro words $shared outro words"))
      .toDF("doc_id", "text")
    val grams = graft.ops.TextDedup
      .windowGrams(corpus, col("doc_id"), col("text"), graft.ops.Dedup.DupSpanL)
      .localCheckpoint()

    // two files → two micro-batches: one arrival quotes the 10-token
    // corpus passage behind a novel prefix, one is entirely novel
    val dir = tmpDir("overlap-gate")
    Seq((100L, s"novel lead-in $shared and a tail", "en", "spec", 50L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("append").parquet(dir)
    Seq((101L, (1 to 12).map(i => s"n$i").mkString(" "), "en", "spec", 40L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("append").parquet(dir)

    val streamed = IngestDedup.overlapSpanGate(
      spark, dir, tmpDir("overlap-gate-ckpt"), grams)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    // quoted passage: window starts {2,3,4} → one maximal span (2, 10)
    assert(streamed.toSeq === Seq((100L, 2L, 10L)))

    val oneShot = graft.ops.TextDedup.overlapSpans(
      spark.read.parquet(dir), col("doc_id"), col("text"), grams,
      graft.ops.Dedup.DupSpanL)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    assert(streamed.toSeq === oneShot.toSeq,
      "per-batch gating must equal the one-shot batch probe")
  }

  test("streaming PII gate quarantines planted arrivals and equals the batch projection") {
    import spark.implicits._
    val docs = Seq(
      (1L, "mail me at spam@leak.net please", "en", "s", 30L),
      (2L, "host 10.1.2.3 responded", "en", "s", 23L),
      (3L, "totally clean document", "en", "s", 22L),
      (4L, "id 987-65-4321 on file", "en", "s", 22L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    // two files → two micro-batches; verdicts are per-row so the split
    // must not matter
    val dir = tmpDir("pii-gate")
    docs.filter(col("doc_id") <= 2).coalesce(1).write.mode("append").parquet(dir)
    docs.filter(col("doc_id") > 2).coalesce(1).write.mode("append").parquet(dir)

    val streamed = EventStreams.runToMemory(
      IngestDedup.piiGate(IngestDedup.docStream(spark, dir)),
      "t_pii_gate", outputMode = "append")
      .collect().map(r => (r.getLong(0),
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))).toMap

    val batch = IngestDedup.piiGate(docs)
      .collect().map(r => (r.getLong(0),
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))).toMap
    assert(streamed === batch, "stream and batch gate verdicts must agree")
    assert(streamed(1L) === ((1L, 0L, 0L, true)))
    assert(streamed(2L) === ((0L, 1L, 0L, true)))
    assert(streamed(3L) === ((0L, 0L, 0L, false)))
    assert(streamed(4L) === ((0L, 0L, 1L, true)))
  }

  test("streaming referential gate flags planted orphans and equals the batch projection") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val facts = Seq((1L, 10.0), (2L, 20.0), (777L, 30.0), (2L, 40.0))
      .toDF("l_orderkey", "v")
    val parents = Seq(1L, 2L, 3L).toDF("l_orderkey")
    val dir = tmpDir("fk-gate")
    facts.filter(col("l_orderkey") <= 2).coalesce(1).write.mode("append").parquet(dir)
    facts.filter(col("l_orderkey") > 2).coalesce(1).write.mode("append").parquet(dir)

    val schema = StructType(Seq(
      StructField("l_orderkey", LongType), StructField("v", DoubleType)))
    val streamed = EventStreams.runToMemory(
      IngestDedup.fkGate(
        spark.readStream.schema(schema).parquet(dir), "l_orderkey", parents),
      "t_fk_gate", outputMode = "append")
      .collect().map(r => (r.getLong(0), r.getBoolean(1)))
    val batch = IngestDedup.fkGate(facts, "l_orderkey", parents)
      .collect().map(r => (r.getLong(0), r.getBoolean(1)))
    assert(streamed.sorted.toSeq == batch.sorted.toSeq)
    assert(streamed.count(_._2) == 1 && streamed.find(_._2).get._1 == 777L)
  }

  test("streaming near-dup gate over the stored LSH index equals the one-shot batch probe") {
    import graft.ops.TextDedup
    val docs = graft.ops.Tables.table(spark, sf, "documents")
    val corpus = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)
    val incoming = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
    val cfg = TextDedup.MinHashConfig(shingleK = graft.ops.Dedup.ShingleK)
    val indexDir = tmpDir("lsh-dedup-index")
    TextDedup.writeLshIndex(corpus, col("doc_id"), col("text"), indexDir, cfg)

    // split the incoming batch across two files → two micro-batches
    val dir = tmpDir("lsh-dedup-docs")
    incoming.filter(col("doc_id") % 2 === 0).coalesce(1).write.mode("append").parquet(dir)
    incoming.filter(col("doc_id") % 2 =!= 0).coalesce(1).write.mode("append").parquet(dir)

    val streamed = IngestDedup.serveNearDupBatches(
      spark, dir, tmpDir("lsh-dedup-ckpt"), indexDir, cfg)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet

    val batch = TextDedup.minhashLshIncrementalFromIndex(
      incoming, col("doc_id"), col("text"), indexDir, cfg)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    assert(streamed === batch, "per-batch probes must equal the one-shot batch probe")
    assert(streamed.nonEmpty, "sf0.001 plants cross-batch near-dups; the gate must flag them")
  }

  test("streaming semantic gate over the stored IVF index equals the one-shot batch probe") {
    import graft.ops.VectorSearch
    val emb = graft.ops.Tables.table(spark, sf, "embeddings")
    val corpus = emb.filter(pmod(col("vec_id"), lit(5)) =!= 0)
    val incoming = emb.filter(pmod(col("vec_id"), lit(5)) === 0)
    val indexDir = tmpDir("sem-gate-index")
    VectorSearch.writeIvfIndex(corpus, col("vec_id"), col("embedding"), indexDir)

    // split the incoming batch across two files → two micro-batches
    val dir = tmpDir("sem-gate-emb")
    incoming.filter(col("vec_id") % 2 === 0).coalesce(1).write.mode("append").parquet(dir)
    incoming.filter(col("vec_id") % 2 =!= 0).coalesce(1).write.mode("append").parquet(dir)

    val thr = graft.ops.Similarity.SemThreshold
    val streamed = VectorServeStream.semGateBatches(
      spark, dir, tmpDir("sem-gate-ckpt"),
      corpus, col("vec_id"), col("embedding"), indexDir, thr)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet

    val batch = VectorSearch.semDedupIncrementalFromIndex(
      corpus, incoming, col("vec_id"), col("embedding"), indexDir, thr)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    assert(streamed === batch, "per-batch gating must equal the one-shot batch probe")
    assert(streamed.nonEmpty, "the corpus has cross-split semantic near-dups; the gate must flag them")
  }

  test("streaming BM25 serving over the stored inverted index equals per-query batch serves") {
    import spark.implicits._
    import graft.ops.TextAnalysis
    val docs = graft.ops.Tables.table(spark, sf, "documents")
    val indexDir = tmpDir("bm25-serve-index")
    TextAnalysis.writeSearchIndex(docs, col("doc_id"), col("text"), indexDir)

    // three request files → three micro-batches; the third repeats qid 1,
    // which must NOT duplicate its result rows (first batch wins)
    val reqDir = tmpDir("bm25-serve-req")
    Seq((1L, "hash"), (1L, "join")).toDF("qid", "term")
      .coalesce(1).write.mode("append").parquet(reqDir)
    Seq((2L, "vector")).toDF("qid", "term")
      .coalesce(1).write.mode("append").parquet(reqDir)
    Seq((1L, "hash"), (1L, "join")).toDF("qid", "term")
      .coalesce(1).write.mode("append").parquet(reqDir)

    val k = 5
    val streamed = SearchServeStream.serveBm25Requests(
      spark, reqDir, tmpDir("bm25-serve-ckpt"), indexDir, k)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(streamed.length == 2 * k,
      s"repeated qids must not duplicate result rows: ${streamed.length}")

    val batch1 = TextAnalysis.bm25TopKFromIndex(spark, indexDir, Seq("hash", "join"), k)
      .collect().map(r => (1L, r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val batch2 = TextAnalysis.bm25TopKFromIndex(spark, indexDir, Seq("vector"), k)
      .collect().map(r => (2L, r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(streamed.toSet === (batch1 ++ batch2).toSet)
  }

  test("streaming PQ serving: per-batch requests equal the one-shot batch serve") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val emb = graft.ops.Tables.table(spark, sf, "embeddings")
    val indexDir = tmpDir("pq-serve-index")
    graft.ops.VectorSearch.writePqIndex(emb, col("vec_id"), col("embedding"), indexDir)

    // three request files → three micro-batches (maxFilesPerTrigger = 1);
    // the third repeats an already-served id, which must NOT duplicate
    // its result rows (cross-batch request dedup, first batch wins)
    val reqDir = tmpDir("pq-serve-req")
    Seq(0L, 7L).toDF("vec_id").coalesce(1).write.mode("append").parquet(reqDir)
    Seq(13L).toDF("vec_id").coalesce(1).write.mode("append").parquet(reqDir)
    Seq(7L, 13L).toDF("vec_id").coalesce(1).write.mode("append").parquet(reqDir)

    val streamedRows = VectorServeStream.servePqRequests(
      spark, reqDir, tmpDir("pq-serve-ckpt"),
      emb, col("vec_id"), col("embedding"), indexDir, k = 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(streamedRows.length === 3 * 5,
      s"repeated request ids must not duplicate result rows: ${streamedRows.length}")
    val streamed = streamedRows.toSet

    val batch = graft.ops.VectorSearch.pqTopKFromIndex(
      emb, col("vec_id"), col("embedding"), indexDir, Seq(0L, 7L, 13L), k = 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    assert(streamed === batch, "per-batch serving must equal the one-shot serve")
    assert(streamed.map(_._1) === Set(0L, 7L, 13L))
  }

  test("streaming HLL registers: per-batch merge equals the one-shot batch build") {
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    // three files → three micro-batches; the third REPEATS half of the
    // first (duplicate items across batches must not move a register —
    // HLL is insensitive to multiplicity, the property that makes the
    // stream's final state equal the batch build of the union)
    val docDir = tmpDir("hll-stream")
    docs.filter(col("doc_id") % 3 === 0).coalesce(1).write.mode("append").parquet(docDir)
    docs.filter(col("doc_id") % 3 === 1).coalesce(1).write.mode("append").parquet(docDir)
    docs.filter(col("doc_id") % 3 === 2 || col("doc_id") % 6 === 0)
      .coalesce(1).write.mode("append").parquet(docDir)

    val streamed = SketchStream.hllRegisterBatches(spark, docDir, tmpDir("hll-ckpt"))
    val batch = graft.ops.Sketches.hllRegisters(
      graft.ops.Sketches.sourceShingles(spark, sf))
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty,
      "streamed registers must equal the one-shot batch registers")
    // and the running estimate matches the batch estimate column
    val est = SketchStream.hllEstimateBatches(spark, docDir, tmpDir("hll-ckpt2"))
      .select("source", "est_distinct").collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val bEst = graft.ops.Sketches.qSketchHll(spark, sf)
      .select("source", "est_distinct").collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(est == bEst)
  }

  test("streaming CMS counters: per-batch sum-merge equals the batch multiset build") {
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val docDir = tmpDir("cms-stream")
    docs.filter(col("doc_id") % 2 === 0).coalesce(1).write.mode("append").parquet(docDir)
    docs.filter(col("doc_id") % 2 === 1).coalesce(1).write.mode("append").parquet(docDir)

    val streamed = SketchStream.cmsCounterBatches(spark, docDir, tmpDir("cms-ckpt"))
    val postings = graft.ops.TextDedup.shingles(
      docs, col("doc_id"), col("text"), graft.ops.Dedup.ShingleK)
    val batch = graft.ops.Sketches.cmsCounters(
      postings.groupBy(col("s")).agg(count(lit(1)).as("df")))
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty,
      "streamed counters must equal the one-shot batch counters")
    postings.unpersist()
  }

  test("hub directory watch: discovers new files exactly once") {
    val hub = tmpDir("hub-stream")
    val out = tmpDir("hub-stream-out")
    val ckpt = tmpDir("hub-stream-ckpt")
    new java.io.File(s"$hub/raw").mkdirs()
    def writeCsv(name: String): Unit =
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$hub/raw/$name"),
        "location,value\nearth,1.5\nvulcan,2.5\n")
    writeCsv("2420-01-01-team-model.csv")
    writeCsv("2420-01-02-team-model.csv")

    val r1 = HubStream.processNewFiles(
      spark, hub, "raw", out, ckpt, Some(new org.apache.spark.sql.types.StructType()))
    assert(r1.count(_.action == "add") == 2)
    assert(new java.io.File(s"$out/2420-01-01-team-model.parquet").isFile)
    assert(new java.io.File(s"$out/2420-01-02-team-model.parquet").isFile)

    // second run: nothing new → nothing reprocessed
    val r2 = HubStream.processNewFiles(
      spark, hub, "raw", out, ckpt, Some(new org.apache.spark.sql.types.StructType()))
    assert(r2.isEmpty)

    // a new file plus a bad one: only the new file is added, bad one skipped
    writeCsv("2420-01-03-team-model.csv")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$hub/raw/notes.txt"), "hi")
    val r3 = HubStream.processNewFiles(
      spark, hub, "raw", out, ckpt, Some(new org.apache.spark.sql.types.StructType()))
    assert(r3.count(_.action == "add") == 1)
    assert(r3.count(_.action == "skip") == 1)
    assert(new java.io.File(s"$out/2420-01-03-team-model.parquet").isFile)
  }

  test("streaming CDC merge: per-micro-batch upserts converge to the batch merge") {
    import spark.implicits._
    val changeDir = tmpDir("cdc-changes")
    val ckpt = tmpDir("cdc-ckpt")
    // initial target: keys 1..5 at ver 0
    val initial = (1L to 5L).map(k => (k, k * 10.0, 0L)).toDF("k", "v", "ver")
    // batch 1: update k=2 (incl. an intra-batch older version that must
    // lose), insert k=6; batch 2: update k=2 again, delete-free update k=5
    Seq((2L, 99.0, 2L), (2L, 55.0, 1L), (6L, 60.0, 1L))
      .toDF("k", "v", "ver").coalesce(1).write.parquet(s"$changeDir/b1")
    Seq((2L, 77.0, 3L), (5L, 51.0, 1L))
      .toDF("k", "v", "ver").coalesce(1).write.parquet(s"$changeDir/b2")
    // stage files flat (the stream watches one directory) with STRICTLY
    // increasing modification times — the file source orders micro-batches
    // by mtime, and identical stamps make batch order arbitrary (a CDC log
    // supplies ordering in production; the test must pin it)
    val dir = tmpDir("cdc-flat")
    var i = 0
    val base = System.currentTimeMillis() - 60000
    for (b <- Seq("b1", "b2"); f <- new java.io.File(s"$changeDir/$b").listFiles()
         if f.getName.endsWith(".parquet")) {
      i += 1
      val dst = java.nio.file.Paths.get(f"$dir/c$i%02d.parquet")
      java.nio.file.Files.copy(f.toPath, dst)
      assert(dst.toFile.setLastModified(base + i * 2000L))
    }
    val result = CdcMergeStream.runMerge(spark, dir, ckpt, initial)
      .orderBy("k").collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    // expected: sequential merge, highest ver per key within a batch wins
    assert(result.toSeq === Seq(
      (1L, 10.0, 0L), (2L, 77.0, 3L), (3L, 30.0, 0L),
      (4L, 40.0, 0L), (5L, 51.0, 1L), (6L, 60.0, 1L)))
  }

  test("streaming sequence packing reproduces the batch chunk table across trigger splits") {
    import spark.implicits._
    // documents arrive in commit (doc_id) order across three micro-batches;
    // the carried per-shard token totals must make the streamed packing
    // equal the one-shot batch chunk table
    val docs = graft.ops.Tables.table(spark, sf, "documents")
      .select(col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars"))
      .orderBy(col("doc_id")).collect()
    val splits = Seq(docs.take(150), docs.slice(150, 370), docs.drop(370))
    val dir = tmpDir("pack-gate")
    splits.foreach { chunk =>
      chunk.toSeq.map(r => (r.getLong(0), r.getString(1), r.getString(2),
          r.getString(3), r.getLong(4)))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("append").parquet(dir)
      Thread.sleep(60) // distinct mtimes => deterministic arrival order
    }
    val assigned = PackStream.packingGate(spark, dir, tmpDir("pack-gate-ckpt"))
    val streamed = PackStream.toChunkRows(assigned).collect().map(_.toSeq).toSeq
    val batch = graft.ops.Corpus.qPackSequences(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(streamed === batch)
    // the stream really carried state: every shard spans several batches
    assert(splits.forall(_.nonEmpty))
  }

  test("streaming session-gap state reproduces the batch sweep across time-sliced commits") {
    import spark.implicits._
    // events arrive in global ts order (per-user order follows), split
    // into three time slices — the per-user one-timestamp state must
    // bridge the slice boundaries so cross-slice gaps are still seen
    val ev = graft.ops.Tables.events(spark, sf)
      .select(col("event_id"), col("ts"), col("user_id"))
      .orderBy(col("ts"), col("event_id")).collect()
    val dir = tmpDir("session-feed")
    Seq(ev.take(300), ev.slice(300, 700), ev.drop(700)).foreach { c =>
      c.toSeq.map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2)))
        .toDF("event_id", "ts", "user_id")
        .coalesce(1).write.mode("append").parquet(dir)
      Thread.sleep(60)
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("event_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ts",
        org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("user_id",
        org.apache.spark.sql.types.LongType)))
    val gaps = SessionStream.gapAssignments(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(dir))
    val ckpt = tmpDir("session-ckpt")
    val q = gaps.writeStream.format("memory").queryName("session_gaps")
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val streamed = graft.ops.Events.sessionSweepFrom(
      spark.table("session_gaps").select(col("user_id"), col("gap_us")))
      .collect().map(_.toSeq).toSeq
    val batch = graft.ops.Events.qSessionSweep(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(streamed === batch)
  }

  test("streaming waterfill maintenance equals the batch allocation across trigger splits") {
    import spark.implicits._
    val docs = graft.ops.Tables.table(spark, sf, "documents")
      .select(col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars"))
      .orderBy(col("doc_id")).collect()
    val dir = tmpDir("waterfill-feed")
    Seq(docs.take(100), docs.slice(100, 320), docs.drop(320)).foreach { c =>
      c.toSeq.map(r => (r.getLong(0), r.getString(1), r.getString(2),
          r.getString(3), r.getLong(4)))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("append").parquet(dir)
      Thread.sleep(60)
    }
    val (standing, trace) = WaterfillStream.waterfillGate(
      spark, dir, tmpDir("waterfill-ckpt"))
    val streamed = standing.orderBy(col("source")).collect().map(_.toSeq).toSeq
    val batch = graft.ops.Corpus.qTokenWaterfill(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(streamed === batch)
    assert(trace.size == 3, s"one waterline per commit: $trace")
    // the budget floats with the corpus: the waterline grows as it fills
    assert(trace.last >= trace.head, s"trace: $trace")
  }

  test("streaming intake gate equals the one-shot batch intake across trigger splits") {
    import spark.implicits._
    val docs = graft.ops.Tables.table(spark, sf, "documents")
    val corpus = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val corpusEmb = emb.filter(pmod(col("vec_id"), lit(5)) =!= 0)
    // standing artifacts — the same builds the individual gate queries use
    val lshDir = tmpDir("intake-lsh")
    graft.ops.TextDedup.writeLshIndex(corpus, col("doc_id"), col("text"), lshDir,
      graft.ops.TextDedup.MinHashConfig(shingleK = graft.ops.Dedup.ShingleK))
    val ivfDir = tmpDir("intake-ivf")
    graft.ops.VectorSearch.writeIvfIndex(
      corpusEmb, col("vec_id"), col("embedding"), ivfDir)
    val corpusFps = corpus
      .select(md5(concat_ws(" ", graft.ops.TextOps.tokens(col("text")))).as("fp"))
      .localCheckpoint()
    val benchGrams = graft.ops.TextDedup.shingles(
      corpus.filter(pmod(col("doc_id"), lit(7)) === 0),
      col("doc_id"), col("text"), graft.ops.Dedup.ShingleK)
      .select(col("s")).distinct().localCheckpoint()
    // the feed: arrivals split across three commits
    val arrivals = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
      .select(col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars"))
      .orderBy(col("doc_id")).collect()
    val dir = tmpDir("intake-feed")
    Seq(arrivals.take(30), arrivals.slice(30, 71), arrivals.drop(71)).foreach { c =>
      c.toSeq.map(r => (r.getLong(0), r.getString(1), r.getString(2),
          r.getString(3), r.getLong(4)))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("append").parquet(dir)
      Thread.sleep(60)
    }
    val streamed = IntakeStream.intakeGate(
      spark, dir, tmpDir("intake-ckpt"), corpusFps, lshDir, emb, corpusEmb,
      ivfDir, benchGrams)
      .orderBy(col("doc_id")).collect().map(_.toSeq).toSeq
    val batch = graft.ops.Pipeline.qIntake(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(streamed === batch)
    // the feed exercised more than the per-row gates
    val reasons = streamed.map(_(2)).toSet
    assert(reasons.contains("clean") && reasons.contains("near_dup"),
      s"degenerate feed: $reasons")
  }

  test("classifier-gated intake stream equals the one-shot gated batch across trigger splits") {
    import spark.implicits._
    val docs = graft.ops.Tables.table(spark, sf, "documents")
    val corpus = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val corpusEmb = emb.filter(pmod(col("vec_id"), lit(5)) =!= 0)
    val lshDir = tmpDir("gintake-lsh")
    graft.ops.TextDedup.writeLshIndex(corpus, col("doc_id"), col("text"), lshDir,
      graft.ops.TextDedup.MinHashConfig(shingleK = graft.ops.Dedup.ShingleK))
    val ivfDir = tmpDir("gintake-ivf")
    graft.ops.VectorSearch.writeIvfIndex(
      corpusEmb, col("vec_id"), col("embedding"), ivfDir)
    // the stored NB model — the SAME artifact layout ensureQualityNb writes
    val nbDir = tmpDir("gintake-nb")
    graft.ops.TextAnalysis.nbSave(graft.ops.TextAnalysis.nbTrain(
      graft.ops.TextAnalysis.nbLabeled(spark, sf)), nbDir)
    val (weights, totals) = graft.ops.TextAnalysis.nbLoad(spark, nbDir)
    val corpusFps = corpus
      .select(md5(concat_ws(" ", graft.ops.TextOps.tokens(col("text")))).as("fp"))
      .localCheckpoint()
    val benchGrams = graft.ops.TextDedup.shingles(
      corpus.filter(pmod(col("doc_id"), lit(7)) === 0),
      col("doc_id"), col("text"), graft.ops.Dedup.ShingleK)
      .select(col("s")).distinct().localCheckpoint()
    val arrivals = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
      .select(col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars"))
      .orderBy(col("doc_id")).collect()
    // the one-shot gated batch of the whole feed
    val want = graft.ops.Pipeline.intakeBatchGated(
      docs.filter(pmod(col("doc_id"), lit(5)) === 0), weights, totals,
      corpusFps, lshDir, emb, corpusEmb, ivfDir, benchGrams)
      .collect().map(_.toSeq).toSeq
    // the classifier must actually fire on this feed
    assert(want.exists(_(2) == "classifier"), "degenerate feed: no classifier rejections")
    assert(want.exists(_(2) == "clean"), "degenerate feed: nothing clean")
    Seq(Seq(arrivals.take(44), arrivals.drop(44)),
        Seq(arrivals.take(30), arrivals.slice(30, 71), arrivals.drop(71))).foreach { split =>
      val dir = tmpDir("gintake-feed")
      split.foreach { c =>
        c.toSeq.map(r => (r.getLong(0), r.getString(1), r.getString(2),
            r.getString(3), r.getLong(4)))
          .toDF("doc_id", "text", "lang", "source", "n_chars")
          .coalesce(1).write.mode("append").parquet(dir)
        Thread.sleep(60)
      }
      val streamed = IntakeStream.intakeGateClassified(
        spark, dir, tmpDir("gintake-ckpt"), nbDir, corpusFps, lshDir, emb,
        corpusEmb, ivfDir, benchGrams)
        .orderBy(col("doc_id")).collect().map(_.toSeq).toSeq
      assert(streamed === want)
    }
  }

  test("full intake stream (repetition + classifier + geo) equals the one-shot batch across trigger splits") {
    import spark.implicits._
    val docs = graft.ops.Tables.table(spark, sf, "documents")
    val corpus = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val corpusEmb = emb.filter(pmod(col("vec_id"), lit(5)) =!= 0)
    val lshDir = tmpDir("fintake-lsh")
    graft.ops.TextDedup.writeLshIndex(corpus, col("doc_id"), col("text"), lshDir,
      graft.ops.TextDedup.MinHashConfig(shingleK = graft.ops.Dedup.ShingleK))
    val ivfDir = tmpDir("fintake-ivf")
    graft.ops.VectorSearch.writeIvfIndex(
      corpusEmb, col("vec_id"), col("embedding"), ivfDir)
    val nbDir = tmpDir("fintake-nb")
    graft.ops.TextAnalysis.nbSave(graft.ops.TextAnalysis.nbTrain(
      graft.ops.TextAnalysis.nbLabeled(spark, sf)), nbDir)
    val corpusFps = corpus
      .select(md5(concat_ws(" ", graft.ops.TextOps.tokens(col("text")))).as("fp"))
      .localCheckpoint()
    val benchGrams = graft.ops.TextDedup.shingles(
      corpus.filter(pmod(col("doc_id"), lit(7)) === 0),
      col("doc_id"), col("text"), graft.ops.Dedup.ShingleK)
      .select(col("s")).distinct().localCheckpoint()
    val arrivalsDf = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
    // PLANTED geo state: every arrival carries a photo in one hot cell
    // whose frozen admission threshold samples half the md5 buckets out —
    // forces the geo stage to fire on otherwise-clean arrivals (the real
    // corpus gates everything before geo at this SF)
    val photoCells = arrivalsDf.select(col("doc_id"),
      lit(3L).as("lat_cell"), lit(5L).as("lon_cell")).localCheckpoint()
    val geoRates = Seq((3L, 5L, 5000L)).toDF("lat_cell", "lon_cell", "thr")
    val want = graft.ops.Pipeline.intakeBatchFull(
      arrivalsDf, None,
      Some(graft.ops.TextAnalysis.nbLoad(spark, nbDir)),
      corpusFps, lshDir, emb, corpusEmb, ivfDir, benchGrams,
      photoCells, geoRates)
      .collect().map(_.toSeq).toSeq
    val reasons = want.map(_(2)).toSet
    assert(reasons.contains("repetition"), s"degenerate feed: no repetition drops ($reasons)")
    assert(reasons.contains("classifier"), s"degenerate feed: no classifier drops ($reasons)")
    assert(reasons.contains("geo_sampled"), s"planted geo state never fired ($reasons)")
    val arrivals = arrivalsDf
      .select(col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars"))
      .orderBy(col("doc_id")).collect()
    Seq(Seq(arrivals.take(44), arrivals.drop(44)),
        Seq(arrivals.take(30), arrivals.slice(30, 71), arrivals.drop(71))).foreach { split =>
      val dir = tmpDir("fintake-feed")
      split.foreach { c =>
        c.toSeq.map(r => (r.getLong(0), r.getString(1), r.getString(2),
            r.getString(3), r.getLong(4)))
          .toDF("doc_id", "text", "lang", "source", "n_chars")
          .coalesce(1).write.mode("append").parquet(dir)
        Thread.sleep(60)
      }
      val streamed = IntakeStream.intakeGateFull(
        spark, dir, tmpDir("fintake-ckpt"), nbDir, corpusFps, lshDir, emb,
        corpusEmb, ivfDir, benchGrams, photoCells, geoRates)
        .orderBy(col("doc_id")).collect().map(_.toSeq).toSeq
      assert(streamed === want)
    }
  }

  test("streaming bucket table equals the one-shot batch audit across trigger splits") {
    val docs = graft.ops.Tables.table(spark, sf, "documents")
      .select(col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars"))
      .orderBy(col("doc_id")).collect()
    val dir = tmpDir("bucket-feed")
    Seq(docs.take(180), docs.slice(180, 333), docs.drop(333)).foreach { c =>
      spark.createDataFrame(
        spark.sparkContext.parallelize(c.toSeq, 1), IngestDedup.docSchema)
        .coalesce(1).write.mode("append").parquet(dir)
      Thread.sleep(60)
    }
    // maxFilesPerTrigger=1 forces THREE commits — the cross-commit state
    // merge is the claim under test, and the default file source would
    // otherwise swallow all three files in one batch
    val feed = spark.readStream.schema(IngestDedup.docSchema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
    val got = EventStreams.runToMemory(
      PackStream.bucketTable(feed),
      "t_buckets", outputMode = "complete")
      .collect().map(_.toSeq).toSet
    val want = graft.ops.Corpus.qBatchBuckets(spark, sf)
      .collect().map(_.toSeq).toSet
    assert(got === want)
  }

  test("streaming repetition gate equals the batch Gopher filter across trigger splits") {
    val docs = graft.ops.Tables.table(spark, sf, "documents")
      .select(col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars"))
      .orderBy(col("doc_id")).collect()
    // the one-shot batch filter's verdict counts are the target
    val want = graft.ops.TextAnalysis.qRepetitionFilter(spark, sf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(want.keySet === Set("keep", "drop"), s"degenerate corpus: $want")
    Seq(Seq(docs.take(200), docs.drop(200)),
        Seq(docs.take(100), docs.slice(100, 333), docs.drop(333))).foreach { split =>
      val dir = tmpDir("rep-feed")
      split.foreach { c =>
        spark.createDataFrame(
          spark.sparkContext.parallelize(c.toSeq, 1), IngestDedup.docSchema)
          .coalesce(1).write.mode("append").parquet(dir)
        Thread.sleep(60)
      }
      val verdicts = RepetitionGateStream.run(spark, dir, tmpDir("rep-ckpt"))
      assert(verdicts.count() === docs.length.toLong)
      val got = verdicts
        .groupBy(when(col("kept"), "keep").otherwise("drop").as("verdict"))
        .agg(count(lit(1)).as("n")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got === want)
    }
  }

  test("streaming geo admission gate equals the batch temperature mix across trigger splits") {
    val photosDf = graft.ops.Multimodal.exifMetaTable(spark, sf)
      .select(col("doc_id"), col("content"))
    val rates = graft.ops.Multimodal.cellRates(
      graft.ops.Multimodal.burstKeys(photosDf))
    val want = graft.ops.Multimodal.qGeoDiversityMix(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getAs[Long]("n_photos"), r.getAs[Long]("n_kept"))).toMap
    val photos = photosDf.orderBy(col("doc_id")).collect()
    Seq(Seq(photos.take(80), photos.drop(80)),
        Seq(photos.take(40), photos.slice(40, 111), photos.drop(111))).foreach { split =>
      val dir = tmpDir("geo-feed")
      split.foreach { c =>
        spark.createDataFrame(
          spark.sparkContext.parallelize(c.toSeq, 1),
          ExifIngestStream.photoSchema)
          .coalesce(1).write.mode("append").parquet(dir)
        Thread.sleep(60)
      }
      val verdicts = GeoSampleStream.run(
        spark, dir, tmpDir("geo-ckpt"), rates)
      // every decodable arrival verdicts exactly once
      assert(verdicts.count() === photos.length.toLong)
      // the admitted stream IS the batch mix: per-cell admitted counts
      // equal the one-shot temperature sample (cells with zero admits
      // are absent from the batch rows — assert them empty streamside)
      val got = verdicts.filter(col("kept"))
        .groupBy(col("lat_cell"), col("lon_cell"))
        .agg(count(lit(1)).as("n_kept"))
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      assert(got === want.map { case (k, v) => k -> v._2 }.filter(_._2 > 0))
      // and the feed's per-cell masses match the batch n_photos
      val masses = verdicts.groupBy(col("lat_cell"), col("lon_cell"))
        .agg(count(lit(1)).as("n")).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      want.foreach { case (k, (nPhotos, _)) => assert(masses(k) === nPhotos) }
    }
  }

  test("streaming burst gate equals the one-shot batch audit across trigger splits") {
    val photos = graft.ops.Multimodal.exifMetaTable(spark, sf)
      .select(col("doc_id"), col("content"))
      .orderBy(col("doc_id")).collect()
    val want = graft.ops.Multimodal.qExifBurstDedup(spark, sf)
      .collect().map(_.toSeq).toSet
    Seq(Seq(photos.take(80), photos.drop(80)),
        Seq(photos.take(40), photos.slice(40, 111), photos.drop(111))).foreach { split =>
      val dir = tmpDir("burst-feed")
      split.foreach { c =>
        spark.createDataFrame(
          spark.sparkContext.parallelize(c.toSeq, 1),
          ExifIngestStream.photoSchema)
          .coalesce(1).write.mode("append").parquet(dir)
        Thread.sleep(60) // distinct mtimes => deterministic arrival order
      }
      val (verdicts, registry) =
        ExifIngestStream.burstGate(spark, dir, tmpDir("burst-ckpt"))
      // id-ordered arrivals ⇒ first-arrival survivors are min-id
      // survivors ⇒ the final registry's collision groups ARE the batch
      // audit's rows, under either split
      val got = registry.filter(col("n_photos") >= 2)
        .select(col("lat_cell"), col("lon_cell"), col("hour"),
          col("n_photos"), col("survivor"),
          (col("n_photos") - 1).as("n_dropped"))
        .collect().map(_.toSeq).toSet
      assert(got === want)
      // verdict discipline: every decodable arrival verdicts exactly once;
      // admitted iff it is its group's survivor; dups carry the survivor
      val vs = verdicts.collect()
      assert(vs.length === photos.length)
      val surv = registry.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2)) -> r.getAs[Long]("survivor")).toMap
      vs.foreach { r =>
        val k = (r.getLong(1), r.getLong(2), r.getLong(3))
        if (r.getAs[Boolean]("admitted")) {
          assert(r.isNullAt(4)); assert(surv(k) === r.getLong(0))
        } else assert(r.getLong(4) === surv(k))
      }
      // registry mass equals the arrival count — nothing double-counted
      assert(registry.collect().map(_.getAs[Long]("n_photos")).sum === photos.length)
    }
    // a corrupt payload is quarantined: keys drop it, registry unmoved
    val dir2 = tmpDir("burst-feed-bad")
    val bad = Array((photos.head.getLong(0) + 1000000L,
      "not a jpeg at all".getBytes("UTF-8")))
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        bad.toSeq.map(t => org.apache.spark.sql.Row(t._1, t._2)), 1),
      ExifIngestStream.photoSchema)
      .coalesce(1).write.mode("append").parquet(dir2)
    val (v2, r2) = ExifIngestStream.burstGate(spark, dir2, tmpDir("burst-ckpt-bad"))
    assert(v2.count() === 0L && r2.count() === 0L)
  }

  test("streaming IVF ingest leaves an index identical to the one-shot refresh") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val corpus = emb.filter(pmod(col("vec_id"), lit(5)) =!= 0)
    val batch = emb.filter(pmod(col("vec_id"), lit(5)) === 0)
      .orderBy(col("vec_id")).collect()
    val qids = graft.ops.Similarity.QueryIds
    // streamed: the ingest arrives in three commits
    val streamedIdx = tmpDir("ivf-ingest-stream")
    graft.ops.VectorSearch.writeIvfIndex(
      corpus, col("vec_id"), col("embedding"), streamedIdx)
    val dir = tmpDir("ivf-ingest-feed")
    val cuts = Seq(batch.take(130), batch.slice(130, 300), batch.drop(300))
    cuts.foreach { c =>
      spark.createDataFrame(spark.sparkContext.parallelize(c.toSeq, 1), emb.schema)
        .coalesce(1).write.mode("append").parquet(dir)
      Thread.sleep(60)
    }
    val n = VectorServeStream.ingestIvfBatches(
      spark, dir, tmpDir("ivf-ingest-ckpt"), streamedIdx)
    assert(n == 3, s"expected 3 micro-batches, saw $n")
    // batch reference: one-shot build + single refresh
    val oneIdx = tmpDir("ivf-ingest-oneshot")
    graft.ops.VectorSearch.writeIvfIndex(
      corpus, col("vec_id"), col("embedding"), oneIdx)
    graft.ops.VectorSearch.refreshIvfIndex(
      emb.filter(pmod(col("vec_id"), lit(5)) === 0),
      col("vec_id"), col("embedding"), oneIdx)
    val served = graft.ops.VectorSearch.ivfTopKFromIndex(
      emb, col("vec_id"), col("embedding"), streamedIdx, qids,
      graft.ops.Similarity.K).collect().toSeq
    val oneShot = graft.ops.VectorSearch.ivfTopKFromIndex(
      emb, col("vec_id"), col("embedding"), oneIdx, qids,
      graft.ops.Similarity.K).collect().toSeq
    assert(served == oneShot)
    assert(served.nonEmpty)
  }

  test("streaming PQ + LSH ingest leave indexes identical to one-shot refreshes") {
    import graft.ops.VectorSearch
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val corpus = emb.filter(pmod(col("vec_id"), lit(5)) =!= 0)
    val batch = emb.filter(pmod(col("vec_id"), lit(5)) === 0)
      .orderBy(col("vec_id")).collect()
    val qids = graft.ops.Similarity.QueryIds
    val k = graft.ops.Similarity.K
    val dir = tmpDir("pq-lsh-ingest-feed")
    val cuts = Seq(batch.take(130), batch.slice(130, 300), batch.drop(300))
    cuts.foreach { c =>
      spark.createDataFrame(spark.sparkContext.parallelize(c.toSeq, 1), emb.schema)
        .coalesce(1).write.mode("append").parquet(dir)
      Thread.sleep(60)
    }
    // PQ: frozen-codebook encode per commit
    val pqStream = tmpDir("pq-ingest-stream")
    VectorSearch.writePqIndex(corpus, col("vec_id"), col("embedding"), pqStream)
    val nPq = VectorServeStream.ingestPqBatches(
      spark, dir, tmpDir("pq-ingest-ckpt"), pqStream)
    assert(nPq == 3, s"expected 3 micro-batches, saw $nPq")
    val pqOne = tmpDir("pq-ingest-oneshot")
    VectorSearch.writePqIndex(corpus, col("vec_id"), col("embedding"), pqOne)
    VectorSearch.refreshPqIndex(
      emb.filter(pmod(col("vec_id"), lit(5)) === 0),
      col("vec_id"), col("embedding"), pqOne)
    val pqServed = VectorSearch.pqTopKFromIndex(
      emb, col("vec_id"), col("embedding"), pqStream, qids, k,
      shortlist = graft.ops.Similarity.PqShortlist).collect().toSeq
    val pqOneShot = VectorSearch.pqTopKFromIndex(
      emb, col("vec_id"), col("embedding"), pqOne, qids, k,
      shortlist = graft.ops.Similarity.PqShortlist).collect().toSeq
    assert(pqServed == pqOneShot)
    assert(pqServed.nonEmpty)
    // LSH: training-free append — streamed index ≡ one-shot BUILD of the union
    val lshStream = tmpDir("lsh-ingest-stream")
    VectorSearch.writeLshIndex(corpus, col("vec_id"), col("embedding"), lshStream)
    val nLsh = VectorServeStream.ingestLshBatches(
      spark, dir, tmpDir("lsh-ingest-ckpt"), lshStream)
    assert(nLsh == 3)
    val lshOne = tmpDir("lsh-ingest-oneshot")
    VectorSearch.writeLshIndex(emb, col("vec_id"), col("embedding"), lshOne)
    val lshServed = VectorSearch.lshTopKFromIndex(
      emb, col("vec_id"), col("embedding"), lshStream, qids, k).collect().toSeq
    val lshOneShot = VectorSearch.lshTopKFromIndex(
      emb, col("vec_id"), col("embedding"), lshOne, qids, k).collect().toSeq
    assert(lshServed == lshOneShot)
    assert(lshServed.nonEmpty)
  }

  test("streaming recluster gate fires on drift and equals the batch restore plan") {
    // the batch scenario split along the arrival axis: base = the ok%10≠0
    // rows (Hilbert-clustered table), delta = the ok%10=0 append arriving
    // in three micro-batches of ascending orderkey (commit order)
    val keyed = graft.ops.Layout.keyedLineitem(spark, sf)
    val base = keyed.filter(pmod(col("ok"), lit(10)) =!= 0)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val delta = keyed.filter(pmod(col("ok"), lit(10)) === 0)
      .orderBy(col("ok"), col("ln")).collect()
    val dir = tmpDir("recluster-gate")
    val cuts = Seq(delta.take(delta.length / 3),
      delta.slice(delta.length / 3, 2 * delta.length / 3),
      delta.drop(2 * delta.length / 3))
    cuts.zipWithIndex.foreach { case (chunk, i) =>
      val rows = spark.createDataFrame(
        spark.sparkContext.parallelize(chunk.toSeq, 1), keyed.schema)
      rows.coalesce(1).write.mode("append").parquet(dir)
      Thread.sleep(60) // distinct mtimes => deterministic arrival order
    }
    val (standing, obs) = ReclusterStream.reclusterGate(
      spark, base, dir, tmpDir("recluster-gate-ckpt"))
    // after the final commit the standing plan IS the batch decision
    val batch = graft.ops.Layout.qReclusterPlan(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(standing.collect().map(_.toSeq).toSeq === batch)
    assert(batch.nonEmpty, "scenario must exercise the firing branch")
    // drift grows with the unclustered backlog (not strictly monotone —
    // granule boundaries shift as the delta grows — but the full backlog
    // must sit well above the first commit's)
    assert(obs.size == cuts.count(_.nonEmpty))
    assert(obs.last.driftBp > obs.head.driftBp,
      s"drift trace: ${obs.map(_.driftBp)}")
    assert(obs.last.triggered)
    base.unpersist()
  }

  test("streaming recluster gate stays quiet on a still-clustered table") {
    // appends that arrive ALREADY in curve order barely widen the zone
    // maps: the delta is the table's hk-top tail re-keyed so COMMIT order
    // (ok, ln) equals curve order — a writer that pre-sorts its commits.
    // The append layout then matches the clustered counterfactual up to
    // granule-boundary alignment → drift ≈ 0, below threshold, no plan.
    val keyed = graft.ops.Layout.keyedLineitem(spark, sf)
    val inOrder = keyed.orderBy(col("hk"), col("ok"), col("ln")).collect()
    val cut = (inOrder.length * 9) / 10
    val base = spark.createDataFrame(
      spark.sparkContext.parallelize(inOrder.take(cut).toSeq, 4), keyed.schema)
    val win = org.apache.spark.sql.expressions.Window
      .orderBy(col("hk"), col("ok"), col("ln"))
    val dir = tmpDir("recluster-quiet")
    spark.createDataFrame(
      spark.sparkContext.parallelize(inOrder.drop(cut).toSeq, 1), keyed.schema)
      .withColumn("ok", lit(10000000L) + row_number().over(win).cast("long"))
      .coalesce(1).write.mode("append").parquet(dir)
    val (standing, obs) = ReclusterStream.reclusterGate(
      spark, base, dir, tmpDir("recluster-quiet-ckpt"))
    assert(standing.isEmpty, "curve-ordered appends must not schedule a rewrite")
    assert(obs.nonEmpty && obs.forall(!_.triggered),
      s"drift trace: ${obs.map(_.driftBp)}")
  }

  test("streaming recall-triggered retrain gate equals the batch composite") {
    val emb = graft.ops.Tables.table(spark, sf, "embeddings")
    val corpus = emb.filter(pmod(col("vec_id"), lit(5)) =!= 0)
    val incoming = emb.filter(pmod(col("vec_id"), lit(5)) === 0)
    // two files → two micro-batches, so the standing plan is re-decided
    // across commits before the final comparison
    val dir = tmpDir("retrain-emb")
    incoming.filter(col("vec_id") % 2 === 0).coalesce(1).write.mode("append").parquet(dir)
    incoming.filter(col("vec_id") % 2 =!= 0).coalesce(1).write.mode("append").parquet(dir)
    val scratch = tmpDir("retrain-idx")
    val (standing, obs) = RetrainStream.retrainGate(
      spark, dir, tmpDir("retrain-ckpt"),
      corpus, col("vec_id"), col("embedding"), scratch)
    val batch = graft.ops.Similarity.qRecallRetrain(spark, sf)
    assert(standing.collect().map(_.toSeq).toSeq ===
      batch.collect().map(_.toSeq).toSeq,
      "after the last commit the standing serving plan must be " +
        "bit-identical to the batch composite")
    assert(obs.last.retrained,
      s"sf0.001 refresh recall sits below the bar — the gate must fire: $obs")
    // the expensive retrain ran ONLY on firing commits: one index
    // generation per firing observation
    val gens = new java.io.File(scratch).listFiles
      .map(_.getName).count(_.startsWith("gen-"))
    assert(gens == obs.count(_.retrained), s"gens=$gens obs=$obs")
  }

  test("retrain gate keeps serving the refreshed index when recall meets the bar") {
    import graft.ops.{Similarity, VectorSearch}
    val emb = graft.ops.Tables.table(spark, sf, "embeddings")
    val corpus = emb.filter(pmod(col("vec_id"), lit(5)) =!= 0)
    val incoming = emb.filter(pmod(col("vec_id"), lit(5)) === 0)
    val dir = tmpDir("retrain-quiet-emb")
    incoming.coalesce(1).write.mode("append").parquet(dir)
    val scratch = tmpDir("retrain-quiet-idx")
    val (standing, obs) = RetrainStream.retrainGate(
      spark, dir, tmpDir("retrain-quiet-ckpt"),
      corpus, col("vec_id"), col("embedding"), scratch, barBp = 0L)
    assert(obs.nonEmpty && obs.forall(!_.retrained))
    assert(new java.io.File(scratch).listFiles
      .forall(!_.getName.startsWith("gen-")), "no generation may be trained")
    // the quiet branch serves the REFRESHED artifact over the full corpus
    val want = VectorSearch.ivfTopKFromIndex(
      emb, col("vec_id"), col("embedding"), s"$scratch/refresh",
      Similarity.QueryIds, Similarity.K)
      .withColumnRenamed("qid", "q_vec_id").withColumnRenamed("id", "vec_id")
      .withColumn("mean_recall_bp", lit(obs.last.meanRecallBp))
      .withColumn("retrained", lit(0L))
      .orderBy(col("q_vec_id"), col("rnk"))
    assert(standing.collect().map(_.toSeq).toSeq ===
      want.collect().map(_.toSeq).toSeq)
  }

  test("streaming snapshot diff drains 'deleted' per commit and ends at the batch diff") {
    import spark.implicits._
    // replay qSnapshotDiff's exact scenario: prev = docs without the
    // mod-11 additions, mod-7 docs carrying one extra trailing token;
    // the NEXT version (docs without the mod-13 deletions) arrives as
    // the stream, split across three commits
    val docs = graft.ops.Tables.table(spark, sf, "documents")
      .select(col("doc_id"), col("source"), col("text"),
        size(graft.ops.TextOps.tokens(col("text"))).cast("long").as("n_tok"))
    val prev = docs
      .filter(pmod(col("doc_id"), lit(11)) =!= 0)
      .select(col("doc_id").as("k"), col("source").as("grp"),
        md5(when(pmod(col("doc_id"), lit(7)) === 0, concat(col("text"), lit(" archived")))
          .otherwise(col("text"))).as("fp"),
        when(pmod(col("doc_id"), lit(7)) === 0, col("n_tok") + 1)
          .otherwise(col("n_tok")).as("n_tok"))
    val arrivals = graft.ops.Tables.table(spark, sf, "documents")
      .filter(pmod(col("doc_id"), lit(13)) =!= 0)
      .orderBy(col("doc_id")).collect()
    val dir = tmpDir("snapdiff-feed")
    val n = arrivals.length
    Seq(arrivals.take(n / 3), arrivals.slice(n / 3, 2 * n / 3),
        arrivals.drop(2 * n / 3)).foreach { c =>
      c.toSeq.map(r => (r.getLong(0), r.getString(1), r.getString(2),
          r.getString(3), r.getLong(4)))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("append").parquet(dir)
      Thread.sleep(60)
    }
    val ledgers = SnapshotDiffStream.run(spark, dir, tmpDir("snapdiff-ckpt"), prev)
    assert(ledgers.size === 3, "expected one ledger per trigger commit")
    // final ledger == the one-shot batch reconcile
    val got = ledgers.last.collect().map(_.toSeq).toSet
    val want = graft.ops.Checks.qSnapshotDiff(spark, sf)
      .collect().map(_.toSeq).toSet
    assert(got === want)
    // 'deleted' drains monotonically as arrivals accumulate
    val deletedPerCommit = ledgers.map(
      _.filter(col("status") === "deleted")
        .agg(coalesce(sum(col("n_docs")), lit(0L))).head().getLong(0))
    assert(deletedPerCommit.zip(deletedPerCommit.tail).forall { case (a, b) => b <= a },
      s"deleted did not drain: $deletedPerCommit")
    assert(deletedPerCommit.head > deletedPerCommit.last)
  }

  test("streaming quality gate scores arrivals identically to the one-shot batch apply") {
    import spark.implicits._
    val modelDir = graft.ops.Artifacts.ensureQualityNb(spark, sf)
    // feed: the held-out 20% split, delivered across three commits
    val arrivals = graft.ops.Tables.table(spark, sf, "documents")
      .filter(pmod(col("doc_id"), lit(5)) === 0)
      .orderBy(col("doc_id")).collect()
    val dir = tmpDir("quality-serve-feed")
    val n = arrivals.length
    Seq(arrivals.take(n / 3), arrivals.slice(n / 3, 2 * n / 3),
        arrivals.drop(2 * n / 3)).foreach { c =>
      c.toSeq.map(r => (r.getLong(0), r.getString(1), r.getString(2),
          r.getString(3), r.getLong(4)))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("append").parquet(dir)
      Thread.sleep(60)
    }
    val streamed = QualityServeStream.run(spark, dir, tmpDir("quality-serve-ckpt"), modelDir)
      .orderBy(col("doc_id")).collect().map(_.toSeq).toSeq
    val batch = QualityServeStream.scoreBatch(spark,
        graft.ops.Tables.table(spark, sf, "documents")
          .filter(pmod(col("doc_id"), lit(5)) === 0), modelDir)
      .orderBy(col("doc_id")).collect().map(_.toSeq).toSeq
    assert(streamed === batch && streamed.nonEmpty)
    // both verdicts occur — the gate actually separates
    assert(streamed.map(_(3)).toSet === Set("pos", "neg"))
    // per-doc scores fold to the same confusion matrix the oracle-gated
    // indexed query reports
    val viaQuery = graft.ops.TextAnalysis.qQualityClassifierIndexed(spark, sf)
      .agg(sum(col("n_docs"))).head().getLong(0)
    assert(viaQuery === streamed.size.toLong)
  }

  test("quality gate refuses to resume from a used checkpoint") {
    import spark.implicits._
    val modelDir = graft.ops.Artifacts.ensureQualityNb(spark, sf)
    val dir = tmpDir("quality-resume-feed")
    Seq((5L, "some text here", "en", "src0", 9L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("append").parquet(dir)
    val ckpt = tmpDir("quality-resume-ckpt")
    QualityServeStream.run(spark, dir, ckpt, modelDir)
    val e = intercept[IllegalArgumentException] {
      QualityServeStream.run(spark, dir, ckpt, modelDir)
    }
    assert(e.getMessage.contains("fresh checkpoint"))
  }

  test("snapshot diff resolves conflicting re-deliveries split-invariantly") {
    import spark.implicits._
    // key 2 arrives with TWO different contents; whichever commit carries
    // which, the standing verdict must be the max-(fp, n_tok) winner —
    // the same rule the within-batch resolve applies (last-commit-wins
    // would give two different ledgers for the two orderings)
    val prev = Seq((1L, "a", "one two"), (2L, "a", "old content"))
      .toDF("k", "grp", "text")
      .select(col("k"), col("grp"), md5(col("text")).as("fp"),
        size(split(lower(col("text")), "\\s+")).cast("long").as("n_tok"))
      .localCheckpoint()
    val vA = (2L, "version alpha of two", "en", "a", 10L)
    val vB = (2L, "version beta", "en", "a", 10L)
    val other = (1L, "one two", "en", "a", 7L)
    def ledger(first: (Long, String, String, String, Long),
        second: (Long, String, String, String, Long)): Set[Seq[Any]] = {
      val dir = tmpDir(s"snapconf-${first._2.hashCode}-${second._2.hashCode}")
      Seq(Seq(other, first), Seq(second)).foreach { c =>
        c.toDF("doc_id", "text", "lang", "source", "n_chars")
          .coalesce(1).write.mode("append").parquet(dir)
        Thread.sleep(60)
      }
      SnapshotDiffStream.run(spark, dir, tmpDir(s"snapconf-ckpt-${first._2.hashCode}"), prev)
        .last.collect().map(_.toSeq).toSet
    }
    val ab = ledger(vA, vB)
    val ba = ledger(vB, vA)
    assert(ab === ba, "final ledger depends on which commit carried which version")
    // and the winner is the max-struct one, visible through token_delta:
    // winner's tc − prev's 2 tokens must be consistent with ONE version
    val changed = ab.find(r => r(1) == "changed").get
    assert(Set(2L, 0L).contains(changed(3).asInstanceOf[Long]))
  }

  test("snapshot diff refuses to resume from a used checkpoint") {
    import spark.implicits._
    val prev = Seq((1L, "a", "x y")).toDF("k", "grp", "text")
      .select(col("k"), col("grp"), md5(col("text")).as("fp"),
        size(split(lower(col("text")), "\\s+")).cast("long").as("n_tok"))
    val dir = tmpDir("snapresume-feed")
    Seq((1L, "x y", "en", "a", 3L)).toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("append").parquet(dir)
    val ckpt = tmpDir("snapresume-ckpt")
    SnapshotDiffStream.run(spark, dir, ckpt, prev)
    val e = intercept[IllegalArgumentException] {
      SnapshotDiffStream.run(spark, dir, ckpt, prev)
    }
    assert(e.getMessage.contains("fresh checkpoint"))
  }

  test("streaming topic-drift monitor equals the batch drift after the last commit") {
    import graft.ops.TextAnalysis
    val docs = graft.ops.Tables.table(spark, sf, "documents")
    val corpus = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)
    val arrivals = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
    // three files → three micro-batches; the standing table must track
    // the ACCUMULATED arrivals, not any single batch
    val dir = tmpDir("topic-drift-docs")
    (0 to 2).foreach { r =>
      arrivals.filter(col("doc_id") % 3 === r)
        .coalesce(1).write.mode("append").parquet(dir)
    }
    val (standing, obs) = TopicDriftStream.driftGate(
      spark, dir, tmpDir("topic-drift-ckpt"), corpus)
    val batch = TextAnalysis.qTopicDrift(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(standing.orderBy(col("source")).collect().map(_.toSeq).toSeq === batch,
      "after the last commit the standing drift table IS the batch query")
    assert(obs.size === 3)
    // the trace is consistent with the standing table: the last commit's
    // worst-source reading IS the table's max. (At this fixture scale a
    // source has only ~5 arrival docs, so 10000-bp small-sample drifts
    // are genuine — production thresholds pair with a minimum-count
    // gate, which is the caller's knob, not the monitor's.)
    val worst = standing.agg(max(col("drift_bp"))).collect()(0).getLong(0)
    assert(obs.last.maxDriftBp === worst, s"trace: $obs standing max: $worst")
  }

  test("topic-drift monitor fires on a planted single-topic flood") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "join aa", "en", "srcX", 10L), (2L, "scan bb", "en", "srcX", 10L),
      (3L, "stream cc", "en", "srcX", 10L), (4L, "query dd", "en", "srcX", 10L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    // arrivals: every doc lands on ONE topic → L1 drift vs the uniform
    // 4-topic corpus mixture = |10000-2500| + 3·2500 = 15000 bp
    val flood = Seq(
      (11L, "join xx", "en", "srcX", 10L), (12L, "merge yy", "en", "srcX", 10L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = tmpDir("topic-flood-docs")
    flood.coalesce(1).write.mode("append").parquet(dir)
    val (standing, obs) = TopicDriftStream.driftGate(
      spark, dir, tmpDir("topic-flood-ckpt"), corpus)
    val row = standing.collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(row === Seq(("srcX", 4L, 15000L)), s"got $row")
    assert(obs.last.fired)
  }
}
