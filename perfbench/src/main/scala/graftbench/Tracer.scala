package graftbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.BenchBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's recorder: a `SparkListener` for jobs and tasks and a
  * `QueryExecutionListener` for the Catalyst phases. Records stay in
  * memory and are written once, with the operation records, at exit.
  * Jobs carry their operation through the job group the harness sets;
  * query executions are matched to operations by time in `run.py`.
  */
final class Tracer(spark: SparkSession) {
  import Harness.rec

  private val sc = spark.sparkContext
  private val jobs = new ConcurrentLinkedQueue[Harness.Rec]()
  private val jobEnds = new java.util.concurrent.ConcurrentHashMap[Integer, java.lang.Long]()
  // stageId, launch ms, finish ms, run ms, cpu ns, gc ms,
  // shuffle write bytes, shuffle read bytes, disk spill bytes
  private val tasks = new ConcurrentLinkedQueue[Array[Long]]()
  private val qes = new ConcurrentLinkedQueue[Harness.Rec]()
  private var attached = false

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      jobs.add(rec("job" -> e.jobId, "group" -> group, "start_ms" -> e.time,
        "stages" -> new java.util.ArrayList[Any](e.stageIds.asJava)))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = jobEnds.put(e.jobId, e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val i = e.taskInfo
      if (m != null) tasks.add(Array(e.stageId.toLong, i.launchTime, i.finishTime,
        m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
        m.diskBytesSpilled))
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def phases(funcName: String, qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      if (ph.nonEmpty) {
        val r = rec("func" -> funcName, "start_ms" -> ph.values.map(_.startTimeMs).min)
        Seq("analysis", "optimization", "planning").foreach { p =>
          r.put(s"${p}_ms", ph.get(p).map(_.durationMs).getOrElse(0L))
        }
        qes.add(r)
      }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      phases(funcName, qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      phases(funcName, qe)
  }

  def start(): Unit = if (!attached) {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    attached = true
  }

  /** Detach after every queued event has reached the listeners. */
  def stop(): Unit = if (attached) {
    BenchBus.drain(sc)
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    attached = false
  }

  def dump(): Harness.Rec = {
    jobs.asScala.foreach(j => j.put("end_ms", jobEnds.get(j.get("job"))))
    rec("jobs" -> new java.util.ArrayList[Any](jobs),
      "tasks" -> new java.util.ArrayList[Any](tasks),
      "qes" -> new java.util.ArrayList[Any](qes))
  }
}
