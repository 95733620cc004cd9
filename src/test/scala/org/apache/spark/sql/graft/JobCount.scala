package org.apache.spark.sql.graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.Success
import org.apache.spark.scheduler.{JobFailed, SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs `body` starts from the calling thread. Jobs are
  * tagged with a one-off job group, so jobs of other threads (a streaming
  * query still draining, another suite's cleanup) never count; the listener
  * bus is drained before and after so no event is missed or left over.
  */
object JobCount {
  def apply[T](spark: SparkSession)(body: => T): (T, Int) =
    tagged(spark)((group, n) => new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (inGroup(e, group)) n.incrementAndGet()
    })(body)

  private[graft] def inGroup(e: SparkListenerJobStart, group: String): Boolean =
    Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group)

  /** Runs `body` under a one-off job group with the listener `count` makes
    * for that group, and returns what the listener counted.
    */
  private[graft] def tagged[T](spark: SparkSession)(
      count: (String, AtomicInteger) => SparkListener)(body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"jobcount-${java.util.UUID.randomUUID()}"
    val n = new AtomicInteger
    val listener = count(group, n)
    sc.listenerBus.waitUntilEmpty()
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "job count probe")
    try {
      val r = body
      sc.listenerBus.waitUntilEmpty()
      (r, n.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}

/** Counts the tasks that finish successfully in the jobs `body` starts from
  * the calling thread, tagged and drained like [[JobCount]].
  */
object SucceededTasks {
  def apply[T](spark: SparkSession)(body: => T): (T, Int) = {
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    JobCount.tagged(spark)((group, n) => new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (JobCount.inGroup(e, group)) e.stageIds.foreach(stages.add)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stages.contains(e.stageId) && e.reason == Success) n.incrementAndGet()
    })(body)
  }
}

/** The failure messages of the jobs `body` starts from the calling thread
  * that did not succeed (a cancelled job fails with its cancel reason),
  * tagged and drained like [[JobCount]].
  */
object JobFailures {
  def apply[T](spark: SparkSession)(body: => T): (T, Seq[String]) = {
    val jobs = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val (r, _) = JobCount.tagged(spark)((group, _) => new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (JobCount.inGroup(e, group)) jobs.add(e.jobId)
      override def onJobEnd(e: SparkListenerJobEnd): Unit = e.jobResult match {
        case JobFailed(err) if jobs.contains(e.jobId) => failures.add(err.getMessage)
        case _ =>
      }
    })(body)
    (r, failures.toArray(Array.empty[String]).toSeq)
  }
}
