package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

import graft.operators.Dedup
import graft.pu.PUExpressions.{IterMetrics, iterMetricCols}
import graft.pu.TwoStepPULearner.IterationState

/** Pins [[CheckpointUtil.materialize]] as the one way an iterative loop
  * stores a generation: one job per generation, no CacheManager copy, a
  * plan leaf that carries the generation's real row count, the
  * superseded generation freed as soon as the next exists, and every
  * stored RDD released exactly once. */
class MaterializeSpec extends SparkSuite {

  private def cacheIsEmpty: Boolean =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.isEmpty

  private def checkpointRddId(df: DataFrame): Int =
    df.queryExecution.logical.collectFirst { case lr: LogicalRDD => lr.rdd.id }.get

  test("connected components stores each round once, in one job, with its real row count") {
    CheckpointUtil.releaseStragglers()
    spark.catalog.clearCache()
    // AQE and broadcast joins off (on a child session): then an action is
    // exactly one job — no AQE stage jobs, no broadcast builds — so the
    // job count is the count of stored generations
    val plain = Tables.scopedSession(spark,
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val n = 64
    val chain = plain.range(1, n).select(col("id").as("id_a"), (col("id") + 1).as("id_b"))
    val ((labels, rounds), jobs) = jobsDuring(Dedup.connectedComponentsWithStats(chain))
    // the edge list and the first labels, then one job per round
    assert(jobs == rounds + 2, s"$jobs jobs for $rounds rounds")
    assert(cacheIsEmpty, "a CC generation was stored a second time, in the CacheManager")
    assert(labels.queryExecution.optimizedPlan.stats.rowCount.contains(BigInt(n)))
    assert(labels.count() == n && labels.filter(col("canonical_id") =!= 1L).isEmpty)
    CheckpointUtil.releaseStragglers()
  }

  test("a PU iteration advance is one job carrying its metrics, and frees its predecessor") {
    val df = spark.range(0, 300).select(
      when(col("id") % 5 === 0, 1).otherwise(-1).as("prev"),
      when(col("id") % 5 === 0, 1).when(col("id") % 3 === 0, 0).otherwise(-1).as("cur"))
    val ms = iterMetricCols("prev", "cur")
    val state = new IterationState("prev", "cur")
    val ((first, metrics), jobs) = jobsDuring(state.advance(df))
    assert(jobs == 1, s"$jobs jobs")
    assert(metrics == IterMetrics(df.agg(ms.head, ms.tail: _*).head()))
    assert(metrics == IterMetrics(newRelNeg = 80, totalPos = 60, totalRelNeg = 80,
      totalUndef = 160))
    val firstRdd = checkpointRddId(first)
    val (second, _) = state.advance(first.withColumn("cur", col("prev")))
    assert(!spark.sparkContext.getPersistentRDDs.contains(firstRdd))
    assert(second.count() == 300)
    CheckpointUtil.releaseStragglers()
  }

  test("release frees each stored RDD once, even under a tracked persist built over it") {
    import java.util.concurrent.ConcurrentHashMap
    import java.util.concurrent.atomic.AtomicInteger
    import org.apache.spark.scheduler.{SparkListener, SparkListenerUnpersistRDD}
    CheckpointUtil.releaseStragglers()
    // the curate_corpus shape: a materialized generation, and a tracked
    // persist whose plan reads it (semantic survivors over CC labels)
    val (gen, _) = CheckpointUtil.materialize(spark.range(0, 100).toDF("id"))
    val derived = CheckpointUtil.track(
      gen.withColumn("sq", col("id") * col("id")).persist())
    assert(derived.count() == 100)
    val releases = new ConcurrentHashMap[Int, AtomicInteger]
    val listener = new SparkListener {
      override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit =
        releases.computeIfAbsent(e.rddId, _ => new AtomicInteger).incrementAndGet()
    }
    org.apache.spark.sql.GraftColumnBridge.waitForListeners(spark, 10000)
    spark.sparkContext.addSparkListener(listener)
    try {
      CheckpointUtil.releaseStragglers()
      org.apache.spark.sql.GraftColumnBridge.waitForListeners(spark, 10000)
    } finally spark.sparkContext.removeSparkListener(listener)
    val genRdd = checkpointRddId(gen)
    val counts = scala.jdk.CollectionConverters.MapHasAsScala(releases).asScala
      .map { case (id, n) => id -> n.get }
    assert(counts.get(genRdd).contains(1), s"generation RDD $genRdd releases: $counts")
    assert(counts.values.forall(_ == 1), s"an RDD was released twice: $counts")
    assert(!spark.sparkContext.getPersistentRDDs.contains(genRdd))
  }
}
