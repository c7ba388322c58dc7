package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerBlockUpdated,
  SparkListenerUnpersistRDD}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.GraftColumnBridge.waitForListeners
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.storage.RDDBlockId

import graft.operators.Dedup
import graft.pu.{LogisticRegressionConfig, PU, TraditionalPULearnerConfig}
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
    val ((labels, rounds), sched) = jobsDuring(Dedup.connectedComponentsWithStats(chain))
    val jobs = sched.jobs
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
    val ((first, metrics), sched) = jobsDuring(state.advance(df))
    assert(sched.jobs == 1, s"${sched.jobs} jobs")
    assert(metrics == IterMetrics(df.agg(ms.head, ms.tail: _*).head()))
    assert(metrics == IterMetrics(newRelNeg = 80, totalPos = 60, totalRelNeg = 80,
      totalUndef = 160))
    val firstRdd = checkpointRddId(first)
    val (second, _) = state.advance(first.withColumn("cur", col("prev")))
    assert(!spark.sparkContext.getPersistentRDDs.contains(firstRdd))
    assert(second.count() == 300)
    CheckpointUtil.releaseStragglers()
  }

  /** What a listener saw while a body ran: the RDD ids whose blocks were
    * stored, in first-store order, and the unpersists per RDD id, each
    * read as of the call. Every stored RDD is held until the body returns:
    * Spark's ContextCleaner unpersists a persisted RDD again once it is
    * garbage collected, which would count as a second release. */
  private final class StorageLog {
    import scala.jdk.CollectionConverters._
    private val storedQ = new java.util.concurrent.ConcurrentLinkedQueue[Int]
    private val held = new java.util.concurrent.ConcurrentLinkedQueue[AnyRef]
    private val releaseCounts =
      new java.util.concurrent.ConcurrentHashMap[Int, java.util.concurrent.atomic.AtomicInteger]
    val listener: SparkListener = new SparkListener {
      override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
        e.blockUpdatedInfo.blockId match {
          case RDDBlockId(id, _) if e.blockUpdatedInfo.storageLevel.isValid &&
              !storedQ.contains(id) =>
            storedQ.add(id)
            spark.sparkContext.getPersistentRDDs.get(id).foreach(held.add)
          case _ =>
        }
      override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit =
        releaseCounts.computeIfAbsent(e.rddId,
          _ => new java.util.concurrent.atomic.AtomicInteger).incrementAndGet()
    }
    def stored(): List[Int] = { waitForListeners(spark, 10000); storedQ.asScala.toList }
    def releases(): Map[Int, Int] = {
      waitForListeners(spark, 10000)
      releaseCounts.asScala.map { case (id, n) => id -> n.get }.toMap
    }
  }

  private def withStorageLog[T](body: StorageLog => T): T = {
    val log = new StorageLog
    waitForListeners(spark, 10000)
    spark.sparkContext.addSparkListener(log.listener)
    try body(log) finally spark.sparkContext.removeSparkListener(log.listener)
  }

  test("release frees each stored RDD once, even under a frame stored from it") {
    CheckpointUtil.releaseStragglers()
    // the curate_corpus shape: a materialized generation, and a stored
    // frame computed from it (semantic survivors over CC labels)
    val (gen, _) = CheckpointUtil.materialize(spark.range(0, 100).toDF("id"))
    val (derived, _) = CheckpointUtil.materialize(gen.withColumn("sq", col("id") * col("id")))
    assert(derived.count() == 100)
    val counts = withStorageLog { log =>
      CheckpointUtil.releaseStragglers()
      log.releases()
    }
    val genRdd = checkpointRddId(gen)
    assert(counts.get(genRdd).contains(1), s"generation RDD $genRdd releases: $counts")
    assert(counts.values.forall(_ == 1), s"an RDD was released twice: $counts")
    assert(!spark.sparkContext.getPersistentRDDs.contains(genRdd))
  }

  test("a PU weight() call frees every RDD it stores once, and its input before it returns") {
    CheckpointUtil.releaseStragglers()
    val learner = TraditionalPULearnerConfig(0.5, 3, LogisticRegressionConfig()).build()
    val in = PU.puEmbeddings(spark, sf0001)
    withStorageLog { log =>
      // stored: the zero-step input, each generation, the classifier's own
      // training blocks
      val out = learner.weight(in, "puLabel", "features", "out")
      val input = log.stored().head // stored before any fit or generation
      val atReturn = log.releases()
      assert(atReturn.get(input).contains(1), s"input RDD $input releases at return: $atReturn")
      assert(out.count() > 0)
      CheckpointUtil.releaseStragglers()
      val all = log.releases()
      val once = log.stored().map(id => id -> all.getOrElse(id, 0))
      assert(once.size > 2 && once.forall(_._2 == 1), s"releases per stored RDD: $once")
    }
  }
}
