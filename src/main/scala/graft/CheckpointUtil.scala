package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge, Row}
import org.apache.spark.sql.functions.{count, lit}

/** How operators store a generation of intermediate state, and how that
  * storage is freed.
  *
  * [[materialize]] is the one way a generation is stored: one eager
  * `localCheckpoint` job, its loop metrics observed in that same job, and a
  * plan leaf that carries the generation's measured size. A materialized
  * generation is lineage-free — its plan is a bare `LogicalRDD` leaf — so
  * nothing reads the generation before it once it exists: a loop frees the
  * superseded generation with [[releaseCheckpoint]] as soon as its
  * successor is materialized. (Only then: a locally-checkpointed RDD cannot
  * be recomputed after its blocks are freed.)
  *
  * A multiply-read intermediate is materialized, not persisted: Spark 4.1's
  * AQE re-describes the whole running query after every stage, and a
  * persisted frame prints its cached plan under each reference, doubling
  * the text per nesting level (a materialized leaf is one line). In one
  * curation-chain update an InMemoryRelation printed 1,120 times (2.67 MB);
  * materializing three of its persists cut a run's plan text from 42.6 MB
  * to 7.3 MB, text the driver had spent 45% of its samples building.
  *
  * Storage that outlives its builder (a returned result's checkpoint, a
  * loop's last generation, helper-scoped persists) is registered by
  * [[track]] and freed BETWEEN queries via [[releaseStragglers]] — after the
  * query's output is fully materialized — because
  * `spark.catalog.clearCache()` never reaches checkpoint blocks (ADVICE
  * r01). References are STRONG: release must be deterministic (a round-9
  * weak-ref design raced the GC — a collected weak entry could never be
  * unpersisted again, because the CacheManager's InMemoryRelation pins
  * cached RDDs against ContextCleaner forever). A caller that never drains
  * leaks exactly what an unreleased cache always leaked; the Verify and
  * Bench mains and every spec drain between queries.
  */
object CheckpointUtil {

  private val stragglers =
    scala.collection.mutable.ArrayBuffer.empty[DataFrame]

  private val observeIds = new AtomicLong

  /** Record a frame whose storage outlives its builder; anything not
    * explicitly released by its loop is freed at the next
    * [[releaseStragglers]]. */
  def track(df: DataFrame): DataFrame = synchronized {
    stragglers += df
    df
  }

  /** Store `df` as a tracked, eager localCheckpoint and return it with the
    * row observed in the same job: `graft_rows` (the row count), then the
    * caller's `metrics` (aggregate columns over `df`), readable by name.
    *
    * The checkpoint's `LogicalRDD` leaf is rebuilt with the stored bytes of
    * its RDD and the observed row count. Spark 4.1 otherwise carries the
    * ORIGIN plan's estimated statistics into the leaf, and a loop whose
    * round plan references the previous generation several times (connected
    * components) MULTIPLIES that estimate every round — measured: BigInt
    * stats reaching millions of bits by round 16, round-11 planning alone
    * taking 110 s in BigInteger math, and the inflated sizes disqualifying
    * every static broadcast join. Measured stats plan each round against
    * real (tiny) sizes.
    *
    * The metrics ride a NAMED observe (a CollectMetrics node) read back from
    * the executed plan's accumulators. NOT the Observation helper:
    * registering an Observation poisons the session's ObservationManager
    * into every later closure that captures the SparkSession (e.g. an ML
    * model's training summary) — "Task not serializable" for unrelated
    * queries (Spark 4.1.2).
    */
  def materialize(df: DataFrame, metrics: Column*): (DataFrame, Row) = {
    val name = s"graft_materialize_${observeIds.incrementAndGet()}"
    val observed = df.observe(name, count(lit(1)).as("graft_rows"), metrics: _*)
    val checkpointed = observed.localCheckpoint(eager = true)
    val row = observed.queryExecution.observedMetrics(name)
    (track(GraftColumnBridge.withMeasuredStats(checkpointed, row.getLong(0))), row)
  }

  /** Free a superseded generation now. Only call when NO live frame's
    * lineage can reach it anymore. */
  def releaseCheckpoint(df: DataFrame): Unit = {
    synchronized { stragglers.filterInPlace(_ ne df) }
    freeBlocks(df)
  }

  /** Free every tracked df. Call between queries, once the previous
    * query's output is fully materialized. */
  def releaseStragglers(): Unit = {
    val pending = synchronized {
      val p = stragglers.toList
      stragglers.clear()
      p
    }
    pending.foreach(freeBlocks)
  }

  /** A frame's OWN storage: its CacheManager entry, plus its checkpoint
    * blocks when its plan IS the `LogicalRDD` leaf [[materialize]] returns.
    * Leaves deeper in the plan belong to other generations, each tracked or
    * released on its own; freeing them here too released a generation
    * twice when a tracked persist was built over it. */
  private def freeBlocks(df: DataFrame): Unit = {
    df.unpersist(blocking = false)
    df.queryExecution.logical match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ =>
    }
  }
}
