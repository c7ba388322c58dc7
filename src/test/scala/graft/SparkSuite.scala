package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session via
  * getOrCreate; suites must not stop() it).
  */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = Tables.localSession(4, "graft-test")
  val sf0001 = "/root/testdata/sf0.001"
  val sf001 = "/root/testdata/sf0.01"

  /** `body`'s result and the number of jobs started while it ran. */
  def jobsDuring[T](body: => T): (T, Int) = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.sql.GraftColumnBridge.waitForListeners(spark, 10000)
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = body
      org.apache.spark.sql.GraftColumnBridge.waitForListeners(spark, 10000)
      (out, jobs.get)
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
