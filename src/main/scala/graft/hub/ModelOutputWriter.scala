package graft.hub

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame

/** Single-file, exact-name parquet sink + delete (SURVEY.md §2 ops 4-5).
  *
  * The reference writes `<output_path>/<file_name>.parquet`
  * (model_output.py:312-322) — one file in, one file out. Spark controls part
  * file names, so we write to a hidden temp dir and rename the single part
  * file into place via the Hadoop FileSystem (works for file:// and s3a://).
  *
  * Scale note: the one-file-per-input contract is the reference's API, so the
  * `coalesce(1)` here is semantic, not accidental — each model-output file is
  * small (Lambda envelope). Bulk backfills parallelize across files, not
  * within one.
  */
object ModelOutputWriter {

  /** Write `df` as exactly `<outputDir>/<fileName>.parquet`; returns the path. */
  def writeSingleParquet(df: DataFrame, outputDir: String, fileName: String): String = {
    val conf = df.sparkSession.sessionState.newHadoopConf()
    val outDir = new Path(outputDir)
    val fs = outDir.getFileSystem(conf)
    val target = new Path(outDir, s"$fileName.parquet")
    val tmp = new Path(outDir, s".tmp-graft-$fileName-${java.util.UUID.randomUUID}")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    try {
      val part = fs.globStatus(new Path(tmp, "part-*.parquet")) match {
        case parts if parts.nonEmpty => parts.head.getPath
        case _ => throw new IllegalStateException(s"no part file written under $tmp")
      }
      if (fs.exists(target)) fs.delete(target, false)
      if (!fs.rename(part, target))
        throw new IllegalStateException(s"rename $part -> $target failed")
      // local Hadoop FS tracks renamed checksum sidecars — the contract is
      // ONE file out, so drop them (no-op on S3A)
      val crc = new Path(target.getParent, s".${target.getName}.crc")
      if (fs.exists(crc)) fs.delete(crc, false)
    } finally fs.delete(tmp, true)
    target.toString
  }

  /** Delete `<outputDir>/<fileName>.parquet`; missing file → UserWarning
    * (reference delete_model_output, model_output.py:333-340).
    */
  def deleteSingleParquet(
      spark: org.apache.spark.sql.SparkSession,
      outputDir: String,
      fileName: String): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val target = new Path(new Path(outputDir), s"$fileName.parquet")
    val fs = target.getFileSystem(conf)
    if (!fs.exists(target) || !fs.delete(target, false))
      throw new PathParser.UserWarning("Model output file not found for deletion")
  }
}
