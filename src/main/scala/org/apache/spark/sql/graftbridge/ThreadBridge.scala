package org.apache.spark.sql.graftbridge

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.SparkSession
import org.apache.spark.util.Utils

/** Bridge into the `private[spark]` local properties of the Spark context,
  * for driver work fanned out over threads the caller did not start
  * (sibling of [[WriteBridge]]; lives under `org.apache.spark` solely to
  * satisfy the access modifier).
  */
object ThreadBridge {

  /** `f` over `xs` concurrently on the global execution context; results
    * in input order. Each call runs with a copy of the calling thread's
    * local properties (job group, SQL execution id, scheduler pool), as
    * Spark's own broadcast futures do, so a job it starts is the caller's.
    */
  def parMap[A, B](spark: SparkSession, xs: Seq[A])(f: A => B): Seq[B] = {
    val sc = spark.sparkContext
    val props = sc.getLocalProperties
    implicit val ec: ExecutionContext = ExecutionContext.global
    Await.result(Future.traverse(xs) { x =>
      Future {
        val saved = sc.getLocalProperties
        sc.setLocalProperties(Utils.cloneProperties(props))
        try f(x) finally sc.setLocalProperties(saved)
      }
    }, Duration.Inf)
  }
}
