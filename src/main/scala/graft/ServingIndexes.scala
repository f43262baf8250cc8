package graft

import java.util.concurrent.locks.ReentrantLock
import scala.collection.concurrent.TrieMap

/** Session-scoped build-once registry for every reusable artifact: stored
  * directories (vector and dedup indexes, trained tables, stored
  * relations, see [[graft.ops.Artifacts]]) and JVM-object models (trained
  * IVF centroids, PQ codebooks). The first caller of `key` over data
  * directory `dataDir` builds it; every later caller in the same JVM,
  * whichever query it serves, gets the memoized value. JVM objects survive
  * [[Caches.releaseAll]] between queries, and stored directories are read
  * back as plain parquet scans.
  *
  * Sharing is safe because every builder is deterministic in its input
  * relation and config (the stored==in-session specs pin this), so the
  * value does not depend on which query triggered the build. The memo key
  * is (artifact, data directory): another corpus gets its own build, while
  * re-reads of the same directory serve the first build until the JVM
  * exits, as a production index serves until an explicit refresh.
  */
object ServingIndexes {

  private val built = TrieMap.empty[(String, String), Any]

  // First builds run under this lock: two concurrent builders of one key
  // would interleave half-written files. It is reentrant because a build
  // may need another artifact (intake-arrivals builds on the NB model).
  private val lock = new ReentrantLock()

  // guarded by `lock`
  private val buildSecs = scala.collection.mutable.HashMap.empty[(String, String), Double]
  private var nestedNs = 0L // time spent in builds nested inside the running one

  /** Per-artifact first-build seconds observed in this JVM, summed over
    * data directories. A build's time excludes builds nested inside it,
    * so each second is counted under one key only.
    */
  def buildLog: Map[String, Double] = {
    lock.lock()
    try buildSecs.toSeq.groupBy(_._1._1).map { case (k, rows) => k -> rows.map(_._2).sum }
    finally lock.unlock()
  }

  /** Full MD5 hex of `s`: names scratch paths, catalog tables and
    * parameterized keys, so two inputs never share an artifact.
    */
  private[graft] def digest(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** The value of artifact `key` over `dataDir`, running `build` on first
    * use only. A failed build is not memoized: the next caller retries.
    */
  def model[T](key: String, dataDir: String)(build: => T): T =
    built.getOrElse((key, dataDir), {
      lock.lock()
      try built.getOrElse((key, dataDir), {
        val outerNested = nestedNs
        nestedNs = 0L
        val t0 = System.nanoTime()
        try {
          val v = build
          buildSecs((key, dataDir)) = (System.nanoTime() - t0 - nestedNs) / 1e9
          built((key, dataDir)) = v
          v
        } finally nestedNs = outerNested + (System.nanoTime() - t0)
      })
      finally lock.unlock()
    }).asInstanceOf[T]

  /** The stored directory of artifact `key` over `dataDir`: `build` writes
    * it into a fresh scratch directory on first use only.
    */
  def ensure(key: String, dataDir: String)(build: String => Unit): String =
    model(key, dataDir) {
      val dir = ScratchDirs(key + "-" + digest(dataDir))
      build(dir)
      dir
    }
}
