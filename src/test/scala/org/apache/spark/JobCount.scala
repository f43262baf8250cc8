package org.apache.spark

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Runs a block and counts the Spark jobs it submits: the block runs under
  * a job group of its own and a `SparkListener` counts the jobs started in
  * that group.
  * Lives under `org.apache.spark` to drain the `private[spark]` listener bus
  * before reading the count.
  */
object JobCount {

  def apply[T](sc: SparkContext)(body: => T): (T, Int) = {
    val (result, tasks) = tasksPerJob(sc)(body)
    (result, tasks.size)
  }

  /** The block's result and, per job it started (in job id order), the
    * number of tasks of the job's stages.
    */
  def tasksPerJob[T](sc: SparkContext)(body: => T): (T, Seq[Int]) = {
    val group = s"job-count-${java.util.UUID.randomUUID}"
    val jobs = new ConcurrentLinkedQueue[(Int, Int)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(SparkContext.SPARK_JOB_GROUP_ID) == group))
          jobs.add(e.jobId -> e.stageInfos.map(_.numTasks).sum)
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "job count", interruptOnCancel = false)
      val result = try body finally sc.clearJobGroup()
      sc.listenerBus.waitUntilEmpty()
      (result, jobs.asScala.toSeq.sortBy(_._1).map(_._2))
    } finally sc.removeSparkListener(listener)
  }
}
