package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.JobCount
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType

import graft.SparkFunSuite

/** [[Tables.parquet]] reads a parquet path with the schema that
  * `spark.read.parquet` infers, taken from one footer on the driver, so
  * building the read runs no Spark job.
  */
class TablesSpec extends SparkFunSuite {

  private val sf = "/root/testdata/sf0.001"
  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  /** `body` with `NanosAsLong` set to `v` (unset for None), then restored. */
  private def withNanosAsLong[T](v: Option[String])(body: => T): T = {
    val prev = spark.conf.getOption(NanosAsLong)
    v.fold(spark.conf.unset(NanosAsLong))(spark.conf.set(NanosAsLong, _))
    try body finally prev.fold(spark.conf.unset(NanosAsLong))(spark.conf.set(NanosAsLong, _))
  }

  /** An events file whose `ts` is int64 TIMESTAMP(NANOS), as earlier
    * generators wrote it.
    */
  private def nanosEvents(): String = {
    val dir = tmpDir("tables-nanos")
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; optional int64 ts (TIMESTAMP(NANOS,false)); " +
        "optional binary event_type (STRING); }")
    val w = ExampleParquetWriter.builder(new Path(s"$dir/events.parquet")).withType(schema).build()
    val groups = new SimpleGroupFactory(schema)
    try (1 to 3).foreach { i =>
      w.write(groups.newGroup().append("event_id", i.toLong)
        .append("ts", 1700000000123456789L + i * 1000000007L).append("event_type", s"t$i"))
    } finally w.close()
    dir
  }

  test("every sf0.001 table reads with the schema and rows that inference gives") {
    val names = new java.io.File(sf).list().filter(_.endsWith(".parquet")).map(_.stripSuffix(".parquet")).sorted
    assert(names.length >= 8)
    names.foreach { name =>
      val inferred = spark.read.parquet(s"$sf/$name.parquet")
      val read = Tables.table(spark, sf, name)
      assert(read.schema === inferred.schema, name)
      assert(rows(read) === rows(inferred), name)
    }
  }

  test("events: footer schema equals inference with and without nanosAsLong") {
    val nanos = nanosEvents()
    Seq(None, Some("false"), Some("true")).foreach { v =>
      withNanosAsLong(v) {
        val path = s"$sf/events.parquet"
        assert(Tables.parquetSchema(spark, path) === spark.read.parquet(path).schema, v)
      }
      // Tables.events sets nanosAsLong itself, whatever it was before
      Seq(sf, nanos).foreach { dir =>
        val events = withNanosAsLong(v)(Tables.events(spark, dir))
        withNanosAsLong(Some("true")) {
          val raw = spark.read.parquet(s"$dir/events.parquet")
          assert(Tables.parquetSchema(spark, s"$dir/events.parquet") === raw.schema, (dir, v))
          assert(events.schema("ts").dataType === TimestampType)
          val expected = if (dir == sf) raw.withColumn("ts", col("ts").cast(TimestampType))
            else raw.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
          assert(rows(events) === rows(expected), (dir, v))
        }
      }
    }
    withNanosAsLong(Some("true")) {
      assert(rows(Tables.events(spark, nanos).select(col("ts").cast("string"))) ===
        Seq("[2023-11-14 22:13:21.123456]", "[2023-11-14 22:13:22.123456]", "[2023-11-14 22:13:23.123456]"))
    }
  }

  test("Spark-written directories: multi-part, partitioned and empty writes") {
    val base = tmpDir("tables-dirs")
    val df = spark.range(0, 40).select(col("id"), (col("id") % 4).as("band"),
      concat(lit("v"), col("id").cast("string")).as("s"), array(col("id"), lit(1L)).as("a"))
    df.repartition(3).write.parquet(s"$base/multi.parquet")
    df.repartition(col("band")).write.partitionBy("band").parquet(s"$base/banded.parquet")
    df.filter(lit(false)).write.parquet(s"$base/empty.parquet")
    assert(new java.io.File(s"$base/multi.parquet").list().count(_.endsWith(".parquet")) === 3)
    Seq("multi", "banded", "empty").foreach { name =>
      val path = s"$base/$name.parquet"
      val inferred = spark.read.parquet(path)
      val read = Tables.parquet(spark, path)
      assert(read.schema === inferred.schema, name)
      assert(rows(read) === rows(inferred), name)
    }
    // the partition column comes from the read's own partition discovery
    assert(Tables.parquetSchema(spark, s"$base/banded.parquet").fieldNames.toSeq === Seq("id", "s", "a"))
    assert(Tables.parquet(spark, s"$base/banded.parquet").columns.toSeq === Seq("id", "s", "a", "band"))
    assert(rows(Tables.parquet(spark, s"$base/empty.parquet")).isEmpty)
  }

  test("a path without a data file fails as spark.read.parquet fails") {
    val only = tmpDir("tables-success-only")
    java.nio.file.Files.write(java.nio.file.Paths.get(only, "_SUCCESS"), Array.emptyByteArray)
    Seq(only, s"$only/missing.parquet").foreach { path =>
      val expected = intercept[AnalysisException](spark.read.parquet(path)).getCondition
      assert(intercept[AnalysisException](Tables.parquet(spark, path)).getCondition === expected, path)
      assert(intercept[AnalysisException](Tables.parquetSchema(spark, path)).getCondition === expected, path)
    }
  }

  test("building a table, events, a stored artifact or the stored LSH index runs no job") {
    def jobs(body: => DataFrame): Int = JobCount(spark.sparkContext)(body)._2
    assert(jobs(Tables.table(spark, sf, "lineitem")) === 0)
    assert(jobs(Tables.events(spark, sf)) === 0)

    val key = s"tables-spec-${java.util.UUID.randomUUID}"
    val built = Artifacts.stored(spark, key, sf)(spark.range(5).toDF("x"))
    assert(jobs(Artifacts.stored(spark, key, sf)(sys.error("stored once"))) === 0)
    assert(rows(built) === Seq("[0]", "[1]", "[2]", "[3]", "[4]"))

    val indexDir = tmpDir("tables-lsh-index")
    val docs = Tables.table(spark, sf, "documents").filter(col("doc_id") < 40)
    TextDedup.writeLshIndex(docs, col("doc_id"), col("text"), indexDir)
    Seq("banded", "shingles", "sizes").foreach { name =>
      val path = s"$indexDir/$name.parquet"
      assert(jobs(Tables.parquet(spark, path)) === 0, name)
      assert(rows(Tables.parquet(spark, path)) === rows(spark.read.parquet(path)), name)
    }
  }
}
