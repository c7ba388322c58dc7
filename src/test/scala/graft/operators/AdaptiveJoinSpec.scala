package graft.operators

import org.apache.spark.sql.functions._

import graft.CheckpointUtil.{materialize, releaseStragglers}
import graft.SparkSuite

/** Unit pins for the shared size-adaptive join: the arm flips at
  * EXACTLY maxRows (<=: broadcast, maxRows+1: shuffle-hash), both arms
  * agree row-for-row on every join type the call sites use, the arm is
  * read off the small side's stored row count without a job of its own,
  * and a small side that was not materialized is rejected loudly. The
  * call-site specs pin each production frame; this suite pins the helper
  * itself. */
class AdaptiveJoinSpec extends SparkSuite {
  import spark.implicits._

  private def big = (1L to 100L).map(i => (i, i % 7)).toDF("k", "v")
  private def small(n: Int) =
    materialize((1L to n.toLong).map(i => (i, i * 10)).toDF("k", "w"))._1

  test("the arm flips at exactly the budget") {
    val s5 = small(5)
    val atBudget = AdaptiveJoin(big, s5, Seq("k"), "left", maxRows = 5L)
    assert(atBudget.queryExecution.executedPlan.toString
      .contains("BroadcastHashJoin"), "n == maxRows must broadcast")
    val overBudget = AdaptiveJoin(big, s5, Seq("k"), "left", maxRows = 4L)
    assert(overBudget.queryExecution.executedPlan.toString
      .contains("ShuffledHashJoin"), "n == maxRows+1 must degrade")
    assert(atBudget.exceptAll(overBudget).count() == 0 &&
      overBudget.exceptAll(atBudget).count() == 0)
    releaseStragglers()
  }

  test("arms agree on every call-site join type") {
    val s3 = small(3)
    for (jt <- Seq("inner", "left", "left_outer", "left_anti", "left_semi")) {
      val b = AdaptiveJoin(big, s3, Seq("k"), jt, maxRows = 100L)
      val d = AdaptiveJoin(big, s3, Seq("k"), jt, maxRows = 0L)
      assert(b.exceptAll(d).count() == 0 && d.exceptAll(b).count() == 0,
        s"arms diverge for $jt")
    }
    releaseStragglers()
  }

  test("the arm is picked without a job") {
    val s5 = small(5)
    for (maxRows <- Seq(5L, 4L)) {
      val (_, sched) = jobsDuring(AdaptiveJoin(big, s5, Seq("k"), "left", maxRows))
      assert(sched.jobs == 0, sched)
    }
    releaseStragglers()
  }

  test("a small side that is not materialized is rejected") {
    val unstored = (1L to 3L).map(i => (i, i * 10)).toDF("k", "w")
    intercept[IllegalArgumentException] {
      AdaptiveJoin(big, unstored, Seq("k"), "inner", maxRows = 10L)
    }
  }
}
