package graft

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardOpenOption}
import java.util.concurrent.TimeUnit

import scala.annotation.tailrec
import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._
import scala.util.Try
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.functions._

import graft.ops.{Artifacts, Dedup, Pipeline, TextDedup}
import graft.ops.Tables.table
import graft.ops.TextOps.tokens

/** The one timing main: `graft.Bench [suite|decade|intake]` runs a
  * profile and prints its record as one JSON object on the last stdout
  * line (under sbt too: `build.sbt` routes the forked stdout unprefixed
  * and suppresses the success banner). The process exits non-zero when
  * anything in the record's `"failed"` list failed; a failed attempt is
  * never timed.
  *
  *  - `suite` (default): every SparkEntry query over SPARK_GRAFT_SF_DIR,
  *    best of SPARK_GRAFT_RUNS attempts, then an sf1 leg in a forked
  *    fresh JVM (this main in the `sf1` profile) that re-times the
  *    slowest and the [[Sf1Forced]] queries over the [[ScaleProbe]]
  *    corpus and reports sf1/suite ratios. The full record goes to
  *    BENCH_FULL.json and BENCH_HISTORY.jsonl; stdout gets
  *    [[compact]], ≤1500 chars, keyed `"metric":"total"`.
  *  - `decade`: [[DecadeQueries]] at sf1 and at sf10 (the sf1 corpus
  *    replicated again, over the tables they read) and the sf10/sf1
  *    ratio per query.
  *  - `intake`: one fixed arrival batch through
  *    [[graft.ops.Pipeline.intakeBatch]] against the sf0.1 corpus and
  *    against the 10× sf1 corpus, standing artifacts built untimed; a
  *    flat pair shows per-arrival cost independent of the corpus.
  *
  * Every attempt is timed the same way ([[attempt]]): a fixed-work
  * calibration sentinel first, so a reading taken under load is
  * visible in the record, then the result is materialized through the
  * `noop` sink (a bare `count()` would let Catalyst prune the work).
  * The record keeps, per query, the classes that attempt compiled and
  * its compile time, on the driver and in tasks (Spark's JVM-wide
  * generated-code cache, see [[GraftSession.CodegenCacheEntries]]).
  */
object Bench {
  type Query = (SparkSession, String) => DataFrame

  val mapper: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  lazy val cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
  lazy val sfDir: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
  lazy val sf1Dir: String = sys.env.getOrElse("SPARK_GRAFT_SF1_DIR", "/tmp/graft-sf1")
  /** Seconds of measured attempts in the sf1 leg; anything past it is
    * listed in `sf1_skipped`. */
  lazy val sf1Budget: Double = sys.env.getOrElse("SPARK_GRAFT_SF1_BUDGET", "2400").toDouble

  /** The queries named in SPARK_GRAFT_ONLY (comma-separated), else all. */
  def selected(queries: Map[String, Query]): Map[String, Query] =
    sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSet)
      .fold(queries)(only => queries.filter(q => only(q._1)))

  /** The session every measurement (and Verify) runs under: the
    * GraftSession configuration on `local[SPARK_GRAFT_CPUS]`. */
  def session(): SparkSession = {
    val spark = GraftSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** One attempt: wall seconds, calibration sentinel seconds, and the
    * generated classes compiled while it ran, with their compile seconds. */
  final case class Timing(sec: Double, calib: Double, compiles: Long, compileSec: Double)

  /** (classes compiled, compile nanoseconds) in this JVM so far. */
  private def compileCounters(): (Long, Long) =
    (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** One attempt: the calibration sentinel, the timed noop write of `df`,
    * then release of every cached block the query left behind. None when
    * `df` fails to build or run. */
  def attempt(spark: SparkSession, name: String)(df: => DataFrame): Option[Timing] = {
    val (_, calib) = timed(noop(spark.range(1L << 22).selectExpr("sum(id * 2 + 1) AS s")))
    val (n0, ns0) = compileCounters()
    val (run, sec) = timed(Try(noop(df)))
    val (n1, ns1) = compileCounters()
    Caches.releaseAll(spark)
    run.failed.foreach(e => System.err.println(s"[bench] $name failed: ${e.getMessage}"))
    run.toOption.map(_ => Timing(sec, calib, n1 - n0, (ns1 - ns0) / 1e9))
  }

  /** [[attempt]]'s seconds; `name` is added to `failed` when it fails. */
  private def secsOrFailed(spark: SparkSession, name: String, failed: ArrayBuffer[String])(
      df: => DataFrame): Option[Double] = {
    val t = attempt(spark, name)(df).map(_.sec)
    if (t.isEmpty) failed += name
    t
  }

  /** Up to `n` attempts, fewer once past `deadline`; None if one fails. */
  @tailrec private def attempts(n: Int, deadline: Long = Long.MaxValue,
      done: List[Timing] = Nil)(run: => Option[Timing]): Option[List[Timing]] =
    if (n == 0 || (done.nonEmpty && System.nanoTime() > deadline)) Some(done)
    else run match {
      case Some(t) => attempts(n - 1, deadline, t :: done)(run)
      case None    => None
    }

  private def roundTo(places: Int)(v: Double): Double = {
    val scale = math.pow(10, places)
    math.round(v * scale) / scale
  }
  private def ms(v: Double): Long = math.round(v * 1000)
  private def kv(xs: Iterable[(String, Any)]): ListMap[String, Any] = ListMap(xs.toSeq: _*)
  private def record(fields: (String, Any)*): ObjectNode = mapper.valueToTree[ObjectNode](kv(fields))

  /** The process exit status for `record`: non-zero iff anything failed. */
  def exitCode(record: JsonNode): Int = if (record.path("failed").isEmpty) 0 else 1

  /** Queries the sf1 leg re-times whatever their suite rank: the
    * composites, the pair queries whose sub-quadratic plans it audits,
    * and one query per family that reads the scaled events/orders
    * tables. */
  val Sf1Forced: Set[String] = Set(
    "q_dedup_embedding", "q_pipeline_crossmodal",
    "q_variant_extract", "q_interpolate", "q_m4_downsample",
    "q_target_encode", "q_events_funnel", "q_cusum_shift",
    "q_pipeline_full", "q_intake", "q_label_prop", "q_lm_trigram_score",
    "q_quality_classifier", "q_epoch_order",
    "q_pipeline_gated", "q_epoch_mixing", "q_batch_buckets",
    "q_exif_burst_dedup",
    "q_doc_repetition", "q_repetition_filter", "q_geo_diversity_mix",
    "q_intake_gated", "q_pq_recon_error",
    "q_intake_full", "q_html_boilerplate")
  /** How many of the slowest suite queries the sf1 leg re-times. */
  val Sf1Top = 20

  /** The `suite` profile over `queries` (SparkEntry's, in `main`). */
  def suite(spark: SparkSession, dir: String, queries: Map[String, Query],
      runs: Int, sf1: Boolean): ObjectNode = {
    val failed = ArrayBuffer.empty[String]
    // dead broadcast/checkpoint blocks are reclaimed only when the driver
    // GC collects their references; a GC every 24 queries lets the
    // ContextCleaner keep up over a long suite
    val results = queries.toSeq.sortBy(_._1).zipWithIndex.flatMap { case ((name, fn), i) =>
      val r = attempts(runs)(attempt(spark, name)(fn(spark, dir)))
      if ((i + 1) % 24 == 0) System.gc()
      if (r.isEmpty) failed += name
      r.map(name -> _)
    }
    val best = results.map { case (n, ts) => n -> ts.minBy(_.sec) }
    val calibs = results.flatMap(_._2.map(_.calib)).sorted
    def pct(p: Double): Double =
      if (calibs.isEmpty) 0.0 else calibs(math.min(calibs.size - 1, (p * calibs.size).toInt))
    // ServingIndexes/model first builds this run triggered, sorted
    val builds = ServingIndexes.buildLog.toSeq.sortBy(_._1)
    val rec = record(
      "metric" -> "total",
      "value" -> roundTo(3)(best.map(_._2.sec).sum),
      "unit" -> "sec",
      "queries" -> kv(best.map { case (n, t) => n -> roundTo(3)(t.sec) }),
      "calib_ms" -> kv(best.map { case (n, t) => n -> ms(t.calib) }),
      "compiles" -> kv(best.map { case (n, t) => n -> t.compiles }),
      "compile_ms" -> kv(best.map { case (n, t) => n -> ms(t.compileSec) }),
      "calib" -> kv(Seq("n" -> calibs.size, "median_ms" -> ms(pct(0.5)),
        "p90_ms" -> ms(pct(0.9)), "max_ms" -> ms(calibs.lastOption.getOrElse(0.0)))),
      "runs" -> runs,
      "artifact_build_sec" -> kv(builds.map { case (k, s) => k -> roundTo(3)(s) }),
      "artifact_build_total_sec" -> roundTo(3)(builds.map(_._2).sum),
      "sf" -> dir)
    if (sf1 && best.nonEmpty) {
      val byTime = best.sortBy(-_._2.sec)
      val targets = (byTime.take(Sf1Top) ++ best.filter(b => Sf1Forced(b._1))).distinct
      // a sentinel reading above twice the suite's median marks an sf1
      // measurement as taken under load
      val quietBar = math.max(0.15, 2 * pct(0.5))
      forkSf1(targets.map { case (n, t) => n -> t.sec }, quietBar) match {
        case Right(leg) =>
          leg.remove("failed").elements().asScala.foreach(f => failed += s"sf1:${f.asText}")
          rec.setAll[JsonNode](leg)
        case Left(why) =>
          System.err.println(s"[bench] sf1 fork failed: $why")
          failed += s"sf1_probe: $why"
      }
    }
    rec.set[JsonNode]("failed", mapper.valueToTree[JsonNode](failed.toSeq))
    rec
  }

  /** Runs the `sf1` profile in a fresh JVM with this JVM's flags and a
    * smaller heap (60%: this JVM stays resident meanwhile), returning
    * its record. */
  private def forkSf1(targets: Seq[(String, Double)], quietBar: Double): Either[String, ObjectNode] = {
    val flags = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      .filterNot(a => a.startsWith("-Xmx") || a.startsWith("-Xms"))
    val cmd = Seq(System.getProperty("java.home") + "/bin/java") ++ flags ++ Seq(
      s"-Xmx${Runtime.getRuntime.maxMemory * 6 / 10}",
      "-cp", System.getProperty("java.class.path"), "graft.Bench", "sf1", quietBar.toString) ++
      targets.map { case (n, s) => s"$n=$s" }
    val p = new ProcessBuilder(cmd: _*)
      .redirectError(ProcessBuilder.Redirect.INHERIT).start()
    val out = Future(new String(p.getInputStream.readAllBytes(), UTF_8))(ExecutionContext.global)
    // synthesis and JVM bring-up run outside the budget
    if (!p.waitFor((sf1Budget * 1.2 + 600).toLong, TimeUnit.SECONDS)) {
      p.destroyForcibly()
      Left("timed out, killed")
    } else {
      val last = Try(Await.result(out, 1.minute)).toOption.toSeq
        .flatMap(_.linesIterator.filter(_.startsWith("{"))).lastOption
      last.flatMap(l => Try(mapper.readTree(l)).toOption).collect {
        case o: ObjectNode if o.has("sf1_ratios") => o
      }.toRight(p.exitValue() match {
        case 137 => "exit 137 (SIGKILL, likely OOM-killed)"
        case code => s"exit $code without a record"
      })
    }
  }

  /** The `sf1` profile: re-times each `name -> suiteSec` target over the
    * sf1 corpus (synthesized first if missing), best of 2 within
    * [[sf1Budget]]. */
  def sf1(spark: SparkSession, quietBar: Double, targets: Seq[(String, Double)]): ObjectNode = {
    if (!ScaleProbe.isSynthesized(sfDir, sf1Dir, ScaleProbe.AllTables))
      ScaleProbe.synthesize(spark, sfDir, sf1Dir)
    val deadline = System.nanoTime() + (sf1Budget * 1e9).toLong
    val done = ArrayBuffer.empty[(String, Double, Timing)]
    val skipped, failed = ArrayBuffer.empty[String]
    targets.foreach { case (name, suiteSec) =>
      if (System.nanoTime() > deadline) skipped += name
      else attempts(2, deadline) {
        System.gc()
        attempt(spark, name)(SparkEntry.queries(name)(spark, sf1Dir))
      } match {
        case None => failed += name
        case Some(ts) =>
          val b = ts.minBy(_.sec)
          done += ((name, b.sec / math.max(suiteSec, 1e-3), b))
      }
    }
    record(
      "sf1_ratios" -> kv(done.map(d => d._1 -> roundTo(2)(d._2))),
      "sf1_secs" -> kv(done.map(d => d._1 -> roundTo(3)(d._3.sec))),
      "sf1_calib_ms" -> kv(done.map(d => d._1 -> ms(d._3.calib))),
      "sf1_contended" -> done.filter(_._3.calib > quietBar).map(_._1),
      "sf1_skipped" -> skipped,
      "sf1_dir" -> sf1Dir,
      "sf1_jvm" -> "fresh",
      "failed" -> failed)
  }

  val DecadeQueries: Seq[String] = Seq(
    "q_pagerank", "q_label_prop", "q_triangles",
    "q_dedup_threshold_sweep", "q_dedup_embedding")

  /** The `decade` profile. SPARK_GRAFT_SF10_QUERIES overrides
    * [[DecadeQueries]]; SPARK_GRAFT_SF10_TABLES the tables replicated to
    * sf10, which must cover everything those queries read. */
  def decade(spark: SparkSession): ObjectNode = {
    def list(k: String) = sys.env.get(k).map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .filter(_.nonEmpty)
    val queries = list("SPARK_GRAFT_SF10_QUERIES").getOrElse(DecadeQueries)
    val tables = list("SPARK_GRAFT_SF10_TABLES").map(_.toSet)
      .getOrElse(Set("lineitem", "documents", "embeddings"))
    val sf10Dir = sys.env.getOrElse("SPARK_GRAFT_SF10_DIR", "/tmp/graft-sf10")
    if (!ScaleProbe.isSynthesized(sfDir, sf1Dir, ScaleProbe.AllTables))
      ScaleProbe.synthesize(spark, sfDir, sf1Dir)
    if (!ScaleProbe.isSynthesized(sf1Dir, sf10Dir, tables))
      ScaleProbe.synthesizeTables(spark, sf1Dir, sf10Dir, tables)
    val failed = ArrayBuffer.empty[String]
    def time(q: String, dir: String): Option[Double] = {
      System.gc()
      secsOrFailed(spark, s"$q@$dir", failed)(SparkEntry.queries(q)(spark, dir))
    }
    val rows = queries.map { q =>
      val (t1, t10) = (time(q, sf1Dir), time(q, sf10Dir))
      (q, t1, t10, for (a <- t1; b <- t10) yield b / math.max(a, 1e-3))
    }
    def byQuery(f: ((String, Option[Double], Option[Double], Option[Double])) => Option[Double]) =
      kv(rows.map(r => r._1 -> f(r).map(roundTo(3))))
    record("metric" -> "sf10_probe", "cpus" -> cpus.toInt, "partitions" -> cpus.toInt,
      "sf1_secs" -> byQuery(_._2), "sf10_secs" -> byQuery(_._3), "decade_ratios" -> byQuery(_._4),
      "failed" -> failed)
  }

  /** The `intake` profile: the sf0.1 arrival split stays fixed while the
    * standing corpus grows 10×. Every standing relation (LSH and IVF
    * indexes, fingerprints, benchmark grams) is built before the timed
    * write, as a deployment would serve them from stores. */
  def intake(spark: SparkSession): ObjectNode = {
    if (!ScaleProbe.isSynthesized(sfDir, sf1Dir, ScaleProbe.AllTables))
      ScaleProbe.synthesize(spark, sfDir, sf1Dir)
    val failed = ArrayBuffer.empty[String]
    def timeAt(dir: String): Option[Double] = {
      val arrivals = table(spark, sfDir, "documents")
        .filter(pmod(col("doc_id"), lit(5)) === 0).localCheckpoint()
      val corpus = table(spark, dir, "documents").filter(pmod(col("doc_id"), lit(5)) =!= 0)
      val emb = table(spark, dir, "embeddings")
      val corpusEmb = emb.filter(pmod(col("vec_id"), lit(5)) =!= 0)
      val lshDir = Artifacts.ensureDedupLsh(spark, dir)
      val ivfDir = Artifacts.ensureSemdedupIvf(spark, dir)
      val corpusFps = corpus
        .select(md5(concat_ws(" ", tokens(col("text")))).as("fp"))
        .localCheckpoint()
      val benchSh = TextDedup.shingles(
        corpus.filter(pmod(col("doc_id"), lit(7)) === 0),
        col("doc_id"), col("text"), Dedup.ShingleK)
      val benchGrams = benchSh.select(col("s")).distinct().localCheckpoint()
      benchSh.unpersist()
      System.gc()
      secsOrFailed(spark, s"intake@$dir", failed)(Pipeline.intakeBatch(
        arrivals, corpusFps, lshDir, emb, corpusEmb, ivfDir, benchGrams))
    }
    val (a, b) = (timeAt(sfDir), timeAt(sf1Dir))
    record("metric" -> "intake_probe",
      "fixed_arrival_secs" -> kv(Seq("sf0.1" -> a.map(roundTo(3)), "sf1" -> b.map(roundTo(3)))),
      "corpus_ratio" -> (for (x <- a; y <- b) yield roundTo(3)(y / math.max(x, 1e-3))),
      "failed" -> failed)
  }

  /** The suite record's stdout form: headline numbers plus digests,
    * dropping the lowest-priority digest until it fits 1500 chars (a
    * consumer that keeps only the tail of stdout still gets it whole). */
  def compact(full: JsonNode): String = {
    def pairs(k: String) = full.path(k).properties().asScala.map(e => e.getKey -> e.getValue.asDouble).toSeq
    val queries = pairs("queries")
    val ratios = pairs("sf1_ratios")
    val base = Seq("metric" -> "total", "value" -> full.get("value"), "unit" -> "sec",
      "n_queries" -> queries.size, "runs" -> full.get("runs"), "sf" -> full.get("sf"),
      "calib" -> full.get("calib"), "full" -> "BENCH_FULL.json",
      "n_failed" -> full.path("failed").size,
      "artifact_build_total_sec" -> full.get("artifact_build_total_sec"))
    val digests = Seq(
      Seq("failed" -> full.path("failed")),
      Seq("artifact_build_sec" -> full.get("artifact_build_sec")),
      if (ratios.isEmpty) Nil
      else Seq("sf1_n" -> ratios.size, "sf1_worst_ratios" -> kv(ratios.sortBy(-_._2).take(5))),
      Seq("top10" -> kv(queries.sortBy(-_._2).take(10))))
    val lines = (digests.size to 0 by -1).map(k => mapper.writeValueAsString(kv(base ++ digests.take(k).flatten)))
    lines.find(_.length <= 1500).getOrElse(lines.last)
  }

  def main(args: Array[String]): Unit = {
    val profile = args.headOption.getOrElse("suite")
    val run: SparkSession => ObjectNode = profile match {
      case "suite" =>
        val sf1On = sys.env.getOrElse("SPARK_GRAFT_SF1_PROBE", "auto") match {
          case "0" | "off" => false
          case "auto"      => sfDir.contains("sf0.1")
          case _           => true
        }
        val runs = sys.env.getOrElse("SPARK_GRAFT_RUNS", "2").toInt.max(1)
        suite(_, sfDir, selected(SparkEntry.queries), runs, sf1On)
      case "sf1" =>
        sf1(_, args(1).toDouble, args.drop(2).toSeq.map { a =>
          val i = a.lastIndexOf('='); a.take(i) -> a.drop(i + 1).toDouble
        })
      case "decade" => decade
      case "intake" => intake
      case other => throw new IllegalArgumentException(
        s"unknown profile '$other' (expected suite, decade or intake)")
    }
    val spark = session()
    // warm the JVM, codegen and scheduler so the first query isn't charged
    noop(spark.range(1 << 20).selectExpr("sum(id) AS s"))
    val rec = run(spark)
    spark.stop()
    val full = mapper.writeValueAsString(rec)
    if (profile == "suite") {
      try {
        Files.write(Paths.get(sys.env.getOrElse("SPARK_GRAFT_BENCH_FULL", "BENCH_FULL.json")),
          (full + "\n").getBytes(UTF_8))
        Files.write(Paths.get(sys.env.getOrElse("SPARK_GRAFT_BENCH_HISTORY", "BENCH_HISTORY.jsonl")),
          (full + "\n").getBytes(UTF_8), StandardOpenOption.CREATE, StandardOpenOption.APPEND)
      } catch { case NonFatal(e) =>
        System.err.println(s"[bench] full-record persist failed: ${e.getMessage}")
      }
      println(compact(rec))
    } else println(full)
    sys.exit(exitCode(rec))
  }
}
