package graft

import scala.util.control.NonFatal

/** Correctness dump: each SparkEntry.queries result → parquet, plus
  * oracle_sql.json, for the DuckDB oracle compare (`tools/parity.py`
  * runs it locally). Runs under the same session as [[Bench]]
  * (GraftSession, so the custom function, strategy and optimizer-rule
  * injection is exercised on every query); SPARK_GRAFT_ONLY selects a
  * subset for local iteration. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Bench.session()
    new java.io.File(outDir).mkdirs()
    Bench.selected(SparkEntry.queries).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      catch { case NonFatal(e) =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      Caches.releaseAll(spark)
    }
    Bench.mapper.writeValue(new java.io.File(s"$outDir/oracle_sql.json"), SparkEntry.oracleSql)
    spark.stop()
  }
}
