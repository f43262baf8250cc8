package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, sum}

import graft.{Caches, GraftSession, ServingIndexes}
import graft.hub.HubTransform

/** Benchmark harness: one workload, one fresh JVM.
  *
  * Usage: `Harness <spec.json> <result.json>`. The spec (written by
  * `perfbench/run.py`) names the workload, its inputs, the seed, the
  * measuring time and whether to trace. The harness only times calls into
  * graft's public API; it writes raw per-operation records (and, traced,
  * the spans) to the result file. `run.py` checks the results and turns
  * the records into metrics.
  *
  * Every operation is timed on its own; an operation that throws is caught
  * (`NonFatal` only), recorded with its error and kept out of the latency
  * samples by `run.py`.
  */
object Harness {

  private val mapper = new ObjectMapper()

  type Rec = java.util.LinkedHashMap[String, Any]

  def rec(kv: (String, Any)*): Rec = {
    val m = new Rec()
    kv.foreach { case (k, v) => m.put(k, v) }
    m
  }

  def now(): Long = System.nanoTime()
  def msSince(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  def main(args: Array[String]): Unit = {
    val spec = mapper.readTree(Files.readAllBytes(Paths.get(args(0))))
    val out = rec()
    val cores = spec.get("cores").asInt()
    val setups = spec.get("setups").asInt()

    // Set-up: the first from JVM start, the others from stopping the
    // session to the next one answering the warm-up query.
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val setupS = new java.util.ArrayList[Any]()
    val builderS = new java.util.ArrayList[Any]()
    var spark: SparkSession = null
    for (i <- 0 until setups) {
      val t0Wall = if (i == 0) jvmStart else System.currentTimeMillis()
      if (spark != null) spark.stop()
      val tb = now()
      spark = GraftSession.builder()
        .master(s"local[$cores]")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.warehouse.dir", spec.get("warehouse").asText())
        .getOrCreate()
      builderS.add(msSince(tb) / 1e3)
      spark.sparkContext.setLogLevel("WARN")
      spark.range(1 << 20).selectExpr("sum(id) AS s")
        .write.format("noop").mode("overwrite").save()
      setupS.add((System.currentTimeMillis() - t0Wall) / 1e3)
    }
    out.put("setup_s", setupS)
    out.put("builder_s", builderS)

    val tracer = if (spec.get("trace").asBoolean()) Some(new Tracer(spark)) else None
    val w = new Workload(spark, spec, tracer)
    val tw = now()
    w.warmup()
    out.put("warmup_s", msSince(tw) / 1e3)
    val t0 = now()
    val ops = spec.get("kind").asText() match {
      case "hub" => w.hubEvents()
      case "ops" => w.queries()
    }
    out.put("timed_s", msSince(t0) / 1e3)
    out.put("ops", ops)
    if (spec.has("ops")) {
      val oracle = graft.SparkEntry.oracleSql
      out.put("oracle_sql", rec(spec.get("ops").get("queries").elements().asScala
        .map(_.asText()).filter(oracle.contains).map(n => n -> oracle(n)).toSeq: _*))
    }
    tracer.foreach { t => t.stop(); out.put("trace", t.dump()) }
    out.put("stored_bytes", spec.get("stored_dirs").elements().asScala
      .map(d => dirBytes(Paths.get(d.asText()))).sum)
    out.put("peak_rss_mb", peakRssMb())
    mapper.writeValue(Paths.get(args(1)).toFile, out)
    spark.stop()
  }

  def dirBytes(root: Path): Long =
    if (!Files.exists(root)) 0L
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  /** Peak resident set of this process (Linux `VmHWM`). */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)
}

/** The timed loops of the two workload kinds: hub events and queries. */
final class Workload(spark: SparkSession, spec: JsonNode, tracer: Option[Tracer]) {
  import Harness._

  private var opSeq = 0

  /** Untimed: the hub workload transforms the files of a separate small
    * hub first, so its timed events meet a warmed event path, as a
    * long-running event handler's do. Query workloads start cold.
    */
  def warmup(): Unit = if (spec.has("hub")) {
    val w = spec.get("hub").get("warmup")
    w.get("events").elements().asScala.foreach { ev =>
      HubTransform.dispatch(spark, ev.get("event").asText(), w.get("hub_path").asText(),
        ev.get("key").asText(), w.get("out_dir").asText())
    }
  }

  /** Runs `body` as one operation: job group, span, error capture. */
  private def op(kind: String, name: String, r: Rec)(body: Rec => Unit): Rec = {
    opSeq += 1
    val id = s"$kind-$opSeq"
    r.put("id", id); r.put("kind", kind); r.put("name", name)
    spark.sparkContext.setJobGroup(id, name, interruptOnCancel = false)
    val t0 = now()
    r.put("start_ms", System.currentTimeMillis())
    try body(r)
    catch {
      case NonFatal(e) =>
        r.put("error", s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500))
    }
    r.put("ms", msSince(t0))
    r.put("end_ms", System.currentTimeMillis())
    spark.sparkContext.clearJobGroup()
    r
  }

  // ---------------------------------------------------------------- hub

  def hubEvents(): java.util.ArrayList[Rec] = {
    val hub = spec.get("hub")
    val hubPath = hub.get("hub_path").asText()
    val outDir = hub.get("out_dir").asText()
    val recs = new java.util.ArrayList[Rec]()
    hub.get("events").elements().asScala.zipWithIndex.foreach { case (ev, i) =>
      val event = ev.get("event").asText()
      val key = ev.get("key").asText()
      // traced runs alternate events with and without listeners, so the
      // tracing overhead is measured on the same run
      val traced = tracer.isDefined && i % 2 == 0
      if (traced) tracer.get.start() else tracer.foreach(_.stop())
      recs.add(op("event", key, rec("event" -> event, "traced" -> traced)) { r =>
        val res = HubTransform.dispatch(spark, event, hubPath, key, outDir)
        r.put("action", res.action)
        res.error.foreach(e => r.put("message", e))
      })
      if (traced) {
        // what dispatch re-derives on every event, timed apart from it
        val t0 = now()
        graft.hub.HubSchema.deriveSchema(graft.hub.HubConfig.load(
          hubPath, spark.sessionState.newHadoopConf()).get)
        recs.get(recs.size - 1).put("config_ms", msSince(t0))
      }
    }
    tracer.foreach(_.start())
    hub.get("scans").elements().asScala.foreach { s =>
      val rounds = s.get("rounds").elements().asScala.map(_.asText()).toSeq
      val models = s.get("models").elements().asScala.map(_.asText()).toSeq
      recs.add(op("scan", s.get("name").asText(), rec()) { r =>
        val t0 = now()
        val df = HubTransform.readHub(spark, hubPath, hub.get("raw_dir").asText(),
          roundIds = rounds, modelIds = models)
        r.put("plan_ms", msSince(t0))
        val t1 = now()
        val rows = df.groupBy("model_id", "round_id")
          .agg(count(lit(1)).as("n"), count(col("value")).as("n_value"),
            sum(col("value")).as("sum_value"),
            count(col("output_type_id")).as("n_output_type_id"))
          .collect()
        r.put("exec_ms", msSince(t1))
        r.put("groups", new java.util.ArrayList[Any](rows.map { row =>
          rec("model_id" -> row.getString(0), "round_id" -> String.valueOf(row.get(1)),
            "n" -> row.getLong(2), "n_value" -> row.getLong(3),
            "sum_value" -> (if (row.isNullAt(4)) null else row.getDouble(4)),
            "n_output_type_id" -> row.getLong(5))
        }.toSeq.asJava))
      })
    }
    // the whole hub backfilled more than once, each time into a new
    // directory, so its time is a median rather than one sample
    val par = hub.get("backfill_parallelism").asInt()
    hub.get("backfill_dirs").elements().asScala.map(_.asText()).foreach { dir =>
      recs.add(op("backfill", "addDirectory", rec("parallelism" -> par, "dir" -> dir)) { r =>
        val res = HubTransform.addDirectory(spark, hubPath, hub.get("raw_dir").asText(),
          dir, parallelism = par)
        r.put("results", new java.util.ArrayList[Any](res.map(e =>
          rec("key" -> e.key, "action" -> e.action)).asJava))
      })
    }
    recs
  }

  // ---------------------------------------------------------------- ops

  def queries(): java.util.ArrayList[Rec] = {
    val deadline = now() + (spec.get("seconds").asDouble() * 1e9).toLong
    val opsSpec = spec.get("ops")
    val dataDir = opsSpec.get("data_dir").asText()
    val names = opsSpec.get("queries").elements().asScala.map(_.asText()).toIndexedSeq
    val minWarm = opsSpec.get("min_warm_passes").asInt()
    val rng = new scala.util.Random(spec.get("seed").asLong())
    val byPack = Packs.byName
    val recs = new java.util.ArrayList[Rec]()
    var pass = 0
    var lastPassNs = 0L
    // pass 0 is cold (fresh JVM: every artifact is built by its first
    // user); warm passes follow while another one fits in the measuring
    // time, and at least `min_warm_passes` of them
    while (pass <= minWarm || now() + lastPassNs <= deadline) {
      val passStart = now()
      rng.shuffle(names).foreach { name =>
        // traced runs trace the cold pass and, in warm passes, every other
        // attempt of each query, so the tracing overhead is measured on
        // the same run
        val traced = tracer.isDefined && (pass == 0 || (names.indexOf(name) + pass) % 2 == 0)
        if (traced) tracer.get.start() else tracer.foreach(_.stop())
        val (pack, fn) = byPack(name)
        val before = ServingIndexes.buildLog
        var result: Option[(DataFrame, Array[Row])] = None
        val r = op("query", name, rec("pass" -> pass, "pack" -> pack, "traced" -> traced)) { r =>
          val t0 = now()
          r.put("construct_start_ms", System.currentTimeMillis())
          val df = fn(spark, dataDir)
          r.put("construct_ms", msSince(t0))
          val t1 = now()
          r.put("sink_start_ms", System.currentTimeMillis())
          val rows = df.collect()
          r.put("sink_ms", msSince(t1))
          val t2 = now()
          r.put("release_start_ms", System.currentTimeMillis())
          Caches.releaseAll(spark)
          r.put("release_ms", msSince(t2))
          result = Some((df, rows))
        }
        // bookkeeping and the digest run after the attempt's clock stops
        val after = ServingIndexes.buildLog
        val built = after.keySet -- before.keySet
        r.put("builds", built.size)
        r.put("build_s", built.toSeq.map(after).sum)
        result.foreach { case (df, rows) =>
          r.put("rows", rows.length)
          r.put("digest", Digest.of(df.schema, rows))
        }
        recs.add(r)
      }
      lastPassNs = now() - passStart
      pass += 1
    }
    recs
  }
}

/** Every registered query with the operator pack that registers it. */
object Packs {
  import graft.ops._
  private val packs: Seq[(String, Map[String, (SparkSession, String) => DataFrame])] = Seq(
    "Relational" -> Relational.queries, "RelationalExt" -> RelationalExt.queries,
    "Events" -> Events.queries, "Dedup" -> Dedup.queries,
    "Similarity" -> Similarity.queries, "TextAnalysis" -> TextAnalysis.queries,
    "Multimodal" -> Multimodal.queries, "HubQueries" -> HubQueries.queries,
    "Pipeline" -> Pipeline.queries, "JoinShapes" -> JoinShapes.queries,
    "Corpus" -> Corpus.queries, "SqlSurface" -> SqlSurface.queries,
    "Layout" -> Layout.queries, "Winnow" -> Winnow.queries, "Checks" -> Checks.queries,
    "FuzzyJoin" -> FuzzyJoin.queries, "Graph" -> Graph.queries,
    "BpeTrain" -> BpeTrain.queries, "EmbedStats" -> EmbedStats.queries,
    "Sketches" -> Sketches.queries, "SemiStructured" -> SemiStructured.queries,
    "HtmlExtract" -> HtmlExtract.queries)

  /** query name → (pack, query); the union must equal `SparkEntry.queries`. */
  lazy val byName: Map[String, (String, (SparkSession, String) => DataFrame)] = {
    val m = packs.flatMap { case (p, qs) => qs.map { case (n, f) => n -> (p, f) } }.toMap
    require(m.keySet == graft.SparkEntry.queries.keySet,
      "pack table out of step with SparkEntry.queries")
    m
  }
}
