package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans recorded around the benchmark's calls into graft, plus the Spark
  * counters underneath them.
  *
  * Before each public call the benchmark opens a span; the span's name is
  * set as a job-group local property, so every job, stage and task Spark
  * runs inside the call is attributed to the innermost open span. A
  * [[SparkListener]] collects the scheduler, executor, shuffle and storage
  * numbers and a [[QueryExecutionListener]] the Catalyst phase times. The
  * listeners stay registered for the whole run; [[begin]] starts a fresh
  * record and [[end]] drains the listener bus and returns it. */
final class Trace(spark: SparkSession) {
  import Trace._

  private val sc = spark.sparkContext
  private val lock = new Object

  // ---- driver-side spans -------------------------------------------
  private val open = mutable.Stack.empty[String]
  private val spans = mutable.ArrayBuffer.empty[Span]

  /** Run `body` inside span `name`: its wall time is recorded and the
    * Spark work it starts is attributed to it. */
  def span[T](name: String)(body: => T): T = {
    open.push(name)
    sc.setLocalProperty(SpanKey, name)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      open.pop()
      sc.setLocalProperty(SpanKey, open.headOption.orNull)
      lock.synchronized { spans += Span(name, t0, t1, open.size) }
    }
  }

  // ---- listener-side record ----------------------------------------
  private val jobSpan = mutable.HashMap.empty[Int, String]
  private val jobSite = mutable.HashMap.empty[Int, String]
  private val stageSpan = mutable.HashMap.empty[Int, String]
  private var collectJobs = 0
  private val finalStages = mutable.HashSet.empty[Int]
  private val stages = mutable.ArrayBuffer.empty[StageRec]
  private val cached = mutable.HashMap.empty[String, Long]
  private var cachedNow = 0L
  private var cachedPeak = 0L
  private var analysisMs, optimizationMs, planningMs = 0L
  private var executions = 0

  private val listener = new SparkListener {
    override def onJobStart(j: SparkListenerJobStart): Unit = lock.synchronized {
      val props = Option(j.properties)
      val span = props.flatMap(p => Option(p.getProperty(SpanKey))).getOrElse(NoSpan)
      jobSpan(j.jobId) = span
      // the result stage's name is the action's call site, e.g.
      // "collect at Workloads.scala:130" or "treeAggregate at Summarizer.scala:238"
      val site = if (j.stageInfos.isEmpty) "" else j.stageInfos.maxBy(_.stageId).name
      if (j.stageIds.nonEmpty) finalStages += j.stageIds.max
      jobSite(j.jobId) = site
      // RDD actions that return results to the driver (ML fits run these);
      // Dataset actions are counted by the query listener below
      val sqlJob = props.exists(_.getProperty("spark.sql.execution.id") != null)
      if (!sqlJob && RddCollects.exists(a => site.startsWith(a + " at "))) collectJobs += 1
      j.stageIds.foreach(s => stageSpan.getOrElseUpdate(s, span))
    }
    override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit = lock.synchronized {
      Option(s.properties).flatMap(p => Option(p.getProperty(SpanKey)))
        .foreach(span => stageSpan(s.stageInfo.stageId) = span)
    }
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = lock.synchronized {
      val si = sc.stageInfo
      val m = si.taskMetrics
      val start = si.submissionTime.getOrElse(0L)
      val end = si.completionTime.getOrElse(start)
      stages += StageRec(si.stageId, stageSpan.getOrElse(si.stageId, NoSpan), si.numTasks,
        start, end,
        if (m == null) 0L else m.executorCpuTime,
        if (m == null) 0L else m.jvmGCTime,
        if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
        if (m == null) 0L else m.shuffleReadMetrics.totalBytesRead,
        if (m == null) 0L else m.shuffleReadMetrics.fetchWaitTime,
        if (m == null) 0L else m.diskBytesSpilled,
        if (m == null || !finalStages.contains(si.stageId)) 0L else m.resultSize)
    }
    override def onBlockUpdated(b: SparkListenerBlockUpdated): Unit = lock.synchronized {
      val info = b.blockUpdatedInfo
      if (info.blockId.isRDD) {
        val bytes = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
        cachedNow += bytes - cached.getOrElse(info.blockId.name, 0L)
        if (bytes == 0L) cached.remove(info.blockId.name) else cached(info.blockId.name) = bytes
        cachedPeak = math.max(cachedPeak, cachedNow)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(funcName, qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(funcName, qe)
    private def record(funcName: String, qe: QueryExecution): Unit = lock.synchronized {
      if (SqlCollects(funcName)) collectJobs += 1
      val phases = qe.tracker.phases
      def ms(p: String): Long = phases.get(p).map(_.durationMs).getOrElse(0L)
      analysisMs += ms("analysis")
      optimizationMs += ms("optimization")
      planningMs += ms("planning")
      executions += 1
    }
  }

  sc.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  /** Start a fresh record (cached-block accounting carries over: blocks
    * cached before the mark still occupy storage). */
  def begin(): Unit = {
    drain()
    lock.synchronized {
      spans.clear(); jobSpan.clear(); jobSite.clear(); stageSpan.clear()
      finalStages.clear(); stages.clear(); collectJobs = 0
      cachedPeak = cachedNow
      analysisMs = 0; optimizationMs = 0; planningMs = 0; executions = 0
    }
  }

  /** Drain the listener bus and return everything recorded since [[begin]]. */
  def end(wallNs: Long): Record = {
    drain()
    lock.synchronized {
      Record(wallNs, spans.toList, jobSpan.toMap, jobSite.toMap, stages.toList, collectJobs,
        cachedPeak, analysisMs, optimizationMs, planningMs, executions)
    }
  }

  private def drain(): Unit = org.apache.spark.sql.GraftColumnBridge.waitForListeners(spark, 60000)

  def close(): Unit = {
    drain()
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }
}

object Trace {
  val SpanKey = "perfbench.span"
  /** Dataset actions that bring rows back to the driver. */
  val SqlCollects = Set("collect", "collectAsList", "head", "take", "first", "tail",
    "toLocalIterator", "takeAsList")
  /** RDD actions that bring results back to the driver. */
  val RddCollects = Seq("collect", "take", "first", "reduce", "treeReduce", "aggregate",
    "treeAggregate")
  val NoSpan = "(none)"

  case class Span(name: String, startNs: Long, endNs: Long, depth: Int) {
    def ms: Double = (endNs - startNs) / 1e6
  }

  case class StageRec(id: Int, span: String, tasks: Int, startMs: Long, endMs: Long,
                      cpuNs: Long, gcMs: Long, shuffleWrite: Long, shuffleRead: Long,
                      fetchWaitMs: Long, spillDisk: Long, resultBytes: Long)

  case class Record(wallNs: Long, spans: List[Span], jobSpan: Map[Int, String],
                    jobSite: Map[Int, String],
                    stages: List[StageRec], collectJobs: Int, peakCachedBytes: Long,
                    analysisMs: Long, optimizationMs: Long, planningMs: Long,
                    executions: Int) {

    /** Milliseconds of the pass covered by at least one running stage. */
    def stageUnionMs: Long = {
      val iv = stages.map(s => (s.startMs, s.endMs)).filter(x => x._2 > x._1).sortBy(_._1)
      var total = 0L
      var curS = -1L
      var curE = -1L
      for ((s, e) <- iv) {
        if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
        else curE = math.max(curE, e)
      }
      if (curE > curS) total += curE - curS
      total
    }

    /** A span's time minus the time its directly nested spans cover. */
    def selfMs(name: String): Double = {
      val mine = spans.filter(_.name == name)
      mine.map { s =>
        val kids = spans.filter(k => k.depth == s.depth + 1 &&
          k.startNs >= s.startNs && k.endNs <= s.endNs)
        s.ms - kids.map(_.ms).sum
      }.sum
    }

    def totalMs(name: String): Double = spans.filter(_.name == name).map(_.ms).sum
    def count(name: String): Int = spans.count(_.name == name)

    /** Scheduler, executor, shuffle, storage, driver and Catalyst totals
      * for the whole record. */
    def sparkLayers: Seq[(String, Double)] = {
      val wallMs = wallNs / 1e6
      Seq(
        "sched.jobs" -> jobSpan.size.toDouble,
        "sched.stages" -> stages.size.toDouble,
        "sched.tasks" -> stages.map(_.tasks.toLong).sum.toDouble,
        "sched.driver_gap_ms" -> math.max(0.0, wallMs - stageUnionMs),
        "driver.collect_jobs" -> collectJobs.toDouble,
        "driver.result_bytes" -> stages.map(_.resultBytes).sum.toDouble,
        "catalyst.analysis_ms" -> analysisMs.toDouble,
        "catalyst.optimization_ms" -> optimizationMs.toDouble,
        "catalyst.planning_ms" -> planningMs.toDouble,
        "catalyst.executions" -> executions.toDouble,
        "exec.cpu_ms" -> stages.map(_.cpuNs).sum / 1e6,
        "exec.gc_ms" -> stages.map(_.gcMs).sum.toDouble,
        "shuffle.write_bytes" -> stages.map(_.shuffleWrite).sum.toDouble,
        "shuffle.read_bytes" -> stages.map(_.shuffleRead).sum.toDouble,
        "shuffle.fetch_wait_ms" -> stages.map(_.fetchWaitMs).sum.toDouble,
        "spill.disk_bytes" -> stages.map(_.spillDisk).sum.toDouble,
        "storage.peak_cached_bytes" -> peakCachedBytes.toDouble)
    }

    /** Jobs, tasks and executor CPU attributed to span `name`. */
    def spanCounts(name: String): (Int, Long, Double) = {
      val st = stages.filter(_.span == name)
      (jobSpan.values.count(_ == name), st.map(_.tasks.toLong).sum, st.map(_.cpuNs).sum / 1e6)
    }
  }
}
