package org.apache.spark

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted,
  SparkListenerTaskStart, StageInfo}

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
    val (result, jobs, _, _) = observe(sc)(body)
    (result, jobs.map(_.stageInfos.map(_.numTasks).sum))
  }

  /** The block's result and, per job it started (in job id order), the
    * number of tasks and the number of RDDs in the lineage of its stages
    * (`StageInfo.rddInfos`: what its task binaries hold).
    */
  def tasksAndRddsPerJob[T](sc: SparkContext)(body: => T): (T, Seq[(Int, Int)]) = {
    val (result, jobs, _, _) = observe(sc)(body)
    (result, jobs.map(j => (j.stageInfos.map(_.numTasks).sum, j.stageInfos.map(_.rddInfos.size).sum)))
  }

  /** The block's result and the partition of each task its jobs launched,
    * in launch order.
    */
  def taskLaunchOrder[T](sc: SparkContext)(body: => T): (T, Seq[Int]) = {
    val (result, jobs, tasks, _) = observe(sc)(body)
    val stages = jobs.flatMap(_.stageIds).toSet
    (result, tasks.filter(t => stages(t.stageId)).map(_.taskInfo.partitionId))
  }

  /** The block's result and the number of shuffle-map stages its jobs
    * ran (a stage a job skips, its shuffle output already written, is
    * not run and not counted).
    */
  def shuffleMapStages[T](sc: SparkContext)(body: => T): (T, Int) = {
    val (result, jobs, _, submitted) = observe(sc)(body)
    val stages = jobs.flatMap(_.stageIds).toSet
    (result, submitted.count(s => stages(s.stageId) && s.shuffleDepId.isDefined))
  }

  /** The block's result, the start of each job it started (in job id
    * order), and every task start and stage submission the bus saw
    * meanwhile (in order).
    */
  private def observe[T](sc: SparkContext)(body: => T)
      : (T, Seq[SparkListenerJobStart], Seq[SparkListenerTaskStart], Seq[StageInfo]) = {
    val group = s"job-count-${java.util.UUID.randomUUID}"
    val jobs = new ConcurrentLinkedQueue[SparkListenerJobStart]()
    val tasks = new ConcurrentLinkedQueue[SparkListenerTaskStart]()
    val stages = new ConcurrentLinkedQueue[StageInfo]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(SparkContext.SPARK_JOB_GROUP_ID) == group)) jobs.add(e)
      override def onTaskStart(e: SparkListenerTaskStart): Unit = tasks.add(e)
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = stages.add(e.stageInfo)
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "job count", interruptOnCancel = false)
      val result = try body finally sc.clearJobGroup()
      sc.listenerBus.waitUntilEmpty()
      (result, jobs.asScala.toSeq.sortBy(_.jobId), tasks.asScala.toSeq, stages.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }
}
