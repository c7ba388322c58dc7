package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Dev utility (guide §1: measure first): run queries with a stage-metrics
  * listener and report, per query, the job count, stage count, task count,
  * total executor run time, shuffle bytes, and the slowest stages — the
  * numbers that say whether a query's wall-clock is scheduling overhead,
  * shuffle latency, or real compute. Each line also carries the Janino
  * compiles and compile time the query caused: the warm line reads 0 while
  * the codegen cache holds the query's classes, and `planKB`, the plan
  * text Spark described while it ran (see [[planChars]]).
  * Usage: sbt "runMain graft.Profile <query> [query...]"
  */
object Profile {
  /** Plan-description characters `e` carries: an execution start, or an AQE
    * update, which re-describes the whole running query after each stage. */
  def planChars(e: SparkListenerEvent): Long = e match {
    case s: SparkListenerSQLExecutionStart => s.physicalPlanDescription.length
    case u: SparkListenerSQLAdaptiveExecutionUpdate => u.physicalPlanDescription.length
    case _ => 0L
  }

  def main(args: Array[String]): Unit = {
    val spark = Tables.localSession()
    spark.sparkContext.setLogLevel("ERROR")
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    case class St(id: Int, name: String, tasks: Int, wallMs: Long,
                  execMs: Long, shufReadB: Long, shufWriteB: Long, inputB: Long)
    val stages = scala.collection.mutable.ArrayBuffer.empty[St]
    var jobs = 0
    var plan = 0L
    // listener writes and main-thread reads share stages' own monitor so
    // the snapshot after waitUntilEmpty is never torn (ADVICE r16)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        stages.synchronized { jobs += 1 }
      override def onOtherEvent(e: SparkListenerEvent): Unit =
        stages.synchronized { plan += planChars(e) }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
        stages.synchronized {
          val si = sc.stageInfo
          val m = si.taskMetrics
          val wall = (for {s <- si.submissionTime; c <- si.completionTime} yield c - s).getOrElse(0L)
          stages += St(si.stageId, si.name.takeWhile(_ != '\n'), si.numTasks, wall,
            m.executorRunTime, m.shuffleReadMetrics.totalBytesRead,
            m.shuffleWriteMetrics.bytesWritten, m.inputMetrics.bytesRead)
        }
    }
    spark.sparkContext.addSparkListener(listener)
    for (q <- args) {
      for (round <- Seq("cold", "warm")) {
        stages.synchronized { stages.clear(); jobs = 0; plan = 0 }
        val (cg0, cgNs0) = (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)
        val t0 = System.nanoTime()
        SparkEntry.queries(q)(spark, sf).write.format("noop").mode("overwrite").save()
        val wall = (System.nanoTime() - t0) / 1e9
        val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cg0
        val compileMs = (CodeGenerator.compileTime - cgNs0) / 1e6
        CheckpointUtil.releaseStragglers()
        // drain listener events deterministically (ADVICE r16: the fixed
        // sleep could read a short buffer on a loaded box)
        org.apache.spark.sql.GraftColumnBridge.waitForListeners(spark, 10000)
        val (snap, nJobs, nPlan) = stages.synchronized { (stages.toList, jobs, plan) }
        val totTasks = snap.map(_.tasks).sum
        val totExec = snap.map(_.execMs).sum
        val totStageWall = snap.map(_.wallMs).sum
        val shufW = snap.map(_.shufWriteB).sum
        println(f"== $q [$round] wall=$wall%.2fs jobs=$nJobs stages=${snap.size} tasks=$totTasks execCpu=${totExec / 1e3}%.2fs stageWallSum=${totStageWall / 1e3}%.2fs shufWrite=${shufW / 1e6}%.1fMB compiles=$compiles compileMs=$compileMs%.0f planKB=${nPlan / 1024}")
        if (round == "warm") {
          for (s <- snap.sortBy(-_.wallMs).take(12))
            println(f"   stage ${s.id}%4d wall=${s.wallMs / 1e3}%6.2fs exec=${s.execMs / 1e3}%6.2fs tasks=${s.tasks}%4d in=${s.inputB / 1e6}%7.1fMB sr=${s.shufReadB / 1e6}%6.1fMB sw=${s.shufWriteB / 1e6}%6.1fMB  ${s.name.take(60)}")
        }
      }
    }
    spark.stop()
  }
}
