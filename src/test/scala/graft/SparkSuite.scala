package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session via
  * getOrCreate; suites must not stop() it).
  */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = Tables.localSession(4, "graft-test")
  val sf0001 = "/root/testdata/sf0.001"
  val sf001 = "/root/testdata/sf0.01"

  /** `body`'s result and the jobs, stages and tasks that ran while it
    * ran, with each job's call site. Stages count only those submitted: a
    * stage a job skips because its shuffle output already exists is not
    * counted. */
  def jobsDuring[T](body: => T): (T, SparkSuite.Sched) = {
    import org.apache.spark.scheduler._
    val jobs, stages, tasks = new java.util.concurrent.atomic.AtomicInteger
    val sites = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        // the result stage, the job's last, is named after the job's call site
        sites.add(e.stageInfos.maxBy(_.stageId).name)
      }
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        stages.incrementAndGet()
      override def onTaskStart(e: SparkListenerTaskStart): Unit = tasks.incrementAndGet()
    }
    org.apache.spark.sql.GraftColumnBridge.waitForListeners(spark, 10000)
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = body
      org.apache.spark.sql.GraftColumnBridge.waitForListeners(spark, 10000)
      (out, SparkSuite.Sched(jobs.get, stages.get, tasks.get, sites.asScala.toList))
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** The AdaptiveJoin degrade-arm pin, shared by every call-site spec
    * (boilerplate, ownership, soft-weight, corpus-prep, leakproof
    * split): the two arms are row-identical AND the physical join
    * actually swaps broadcast -> shuffle-hash. One definition so a
    * change to the pinning recipe (e.g. if the executed-plan string
    * stops naming the join node) edits one place. */
  def assertArmsIdentical(bcast: org.apache.spark.sql.DataFrame,
      degraded: org.apache.spark.sql.DataFrame): Unit = {
    assert(bcast.exceptAll(degraded).count() == 0 &&
      degraded.exceptAll(bcast).count() == 0,
      "degraded arm changed the output")
    assert(bcast.queryExecution.executedPlan.toString
      .contains("BroadcastHashJoin"))
    val dp = degraded.queryExecution.executedPlan.toString
    assert(dp.contains("ShuffledHashJoin"), dp)
  }
}

object SparkSuite {
  /** Scheduler work counted by [[SparkSuite.jobsDuring]]. */
  final case class Sched(jobs: Int, stages: Int, tasks: Int, callSites: Seq[String])
}
