package graft

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs (one per suite via lazy singleton). */
object SparkTestBase {
  lazy val spark: SparkSession = {
    val s = SparkSession
      .builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", GraftSession.CodegenCacheEntries.toLong)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

abstract class SparkFunSuite extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkTestBase.spark

  def resource(rel: String): String =
    new java.io.File(s"src/test/resources/$rel").getAbsolutePath

  private val tmpDirs = new java.util.concurrent.ConcurrentLinkedQueue[String]

  /** A fresh temp directory, deleted with its contents after the suite. */
  def tmpDir(prefix: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toString
    tmpDirs.add(dir)
    dir
  }

  override protected def afterAll(): Unit =
    try tmpDirs.forEach(d => FileUtils.deleteQuietly(new java.io.File(d)))
    finally super.afterAll()
}
