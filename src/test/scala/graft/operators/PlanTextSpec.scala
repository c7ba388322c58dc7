package graft.operators

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}

import graft.SparkSuite

/** The plan text Spark builds while a curation chain runs. Under AQE,
  * `AdaptiveSparkPlanExec` re-describes the whole running query after every
  * query stage, and a persisted frame prints its full cached plan under each
  * reference to it, so nested persisted intermediates multiply that text.
  * The curation operators store their intermediates with `materialize`,
  * whose leaf prints as one line; this spec bounds the text they cause.
  */
class PlanTextSpec extends SparkSuite {

  /** Characters of physical-plan description posted while `body` runs
    * ([[graft.Profile.planChars]]). */
  private def planTextDuring(body: => Unit): Long = {
    val chars = new AtomicLong
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit =
        chars.addAndGet(graft.Profile.planChars(e))
    }
    org.apache.spark.sql.GraftColumnBridge.waitForListeners(spark, 10000)
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      org.apache.spark.sql.GraftColumnBridge.waitForListeners(spark, 10000)
      chars.get
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("pipeline_e2e_curate stores no cached relation and bounds its plan text") {
    var executed = ""
    val chars = planTextDuring {
      val out = graft.SparkEntry.queries("pipeline_e2e_curate")(spark, sf0001)
      out.write.format("noop").mode("overwrite").save()
      executed = out.queryExecution.executedPlan.toString
    }
    spark.catalog.clearCache()
    graft.CheckpointUtil.releaseStragglers()
    assert(!executed.contains("InMemoryRelation"), executed)
    // measured 399,870 chars with every intermediate materialized; with
    // them persisted the same run posted 21,973,588
    assert(chars < 2L * 399870, s"$chars chars of plan text")
  }
}
