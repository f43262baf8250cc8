package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkFunSuite

/** Pins the VARIANT lifecycle beyond the oracle gate: the stored-variant
  * serving path is bit-identical to the in-plan path, heterogeneous-field
  * absence is NULL (not an error), and the stored parquet really carries a
  * variant column (not a re-serialized string).
  */
class SemiStructuredSpec extends SparkFunSuite {

  private val sf = "/root/testdata/sf0.001"

  test("stored-variant serving is bit-identical to the in-plan path") {
    val a = SemiStructured.qVariantExtract(spark, sf).collect().map(_.toSeq).toSeq
    val b = SemiStructured.qVariantStored(spark, sf).collect().map(_.toSeq).toSeq
    assert(a === b)
  }

  test("the persisted column is VariantType and absent fields extract as NULL") {
    SemiStructured.qVariantStored(spark, sf).collect() // ensures the write ran
    val stored = SemiStructured.variantStore(spark, sf)
    assert(stored.schema("v").dataType ===
      org.apache.spark.sql.types.VariantType)
    val flags = stored.select(col("event_id"),
      expr("variant_get(v, '$.flag', 'boolean')").as("flag"),
      expr("variant_get(v, '$.no_such_field', 'long')").as("missing"))
    assert(flags.filter(col("missing").isNotNull).count() === 0L)
    // flag present iff event_id % 5 == 0 — absence is NULL, presence true
    assert(flags.filter(col("event_id") % 5 === 0 && !col("flag")).count() === 0L)
    assert(flags.filter(col("event_id") % 5 =!= 0 && col("flag").isNotNull).count() === 0L)
  }

  test("variant schema monitor sees exactly the two ingest shapes per type") {
    val rows = SemiStructured.qVariantSchema(spark, sf).collect()
    rows.groupBy(_.getString(0)).foreach { case (_, shapes) =>
      assert(shapes.length === 2)
      val schemas = shapes.map(_.getString(1)).sorted
      assert(schemas.exists(_.contains("flag: BOOLEAN")))
      assert(schemas.exists(!_.contains("flag")))
    }
  }
}
