package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge, Row}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.{count, lit}

/** How operators store an intermediate, and how that storage is freed.
  *
  * [[materialize]] is the one storage verb: one eager `localCheckpoint`
  * job, the caller's metrics observed in that same job, and a plan leaf
  * that carries the stored frame's measured size and row count
  * ([[measuredLeaf]] reads them back). Every intermediate that more than
  * one consumer reads — a loop's generation, a shared corpus, a join's
  * small side — is materialized; nothing under `src/main` persists or
  * caches. A materialized frame is lineage-free — its plan is a bare
  * `LogicalRDD` leaf — so nothing reads what came before it once it
  * exists: a loop frees the superseded generation with
  * [[releaseCheckpoint]] as soon as its successor is materialized. (Only
  * then: a locally-checkpointed RDD cannot be recomputed after its blocks
  * are freed.)
  *
  * Why not `persist()`: Spark 4.1's AQE re-describes the whole running
  * query after every stage, and a persisted frame prints its cached plan
  * under each reference, doubling the text per nesting level (a
  * materialized leaf is one line). In one curation-chain update an
  * InMemoryRelation printed 1,120 times (2.67 MB); materializing three of
  * its persists cut a run's plan text from 42.6 MB to 7.3 MB, text the
  * driver had spent 45% of its samples building.
  *
  * Storage that outlives its builder (a returned result's leaf, a loop's
  * last generation, a query's shared intermediates) is registered when
  * stored and freed BETWEEN queries, once the query's output is fully
  * materialized, by [[releaseStragglers]]: a library caller's one release
  * call. References are STRONG so release is deterministic (a round-9
  * weak-ref design raced the GC). The Verify and Bench mains and every
  * spec drain between queries.
  */
object CheckpointUtil {

  private val stragglers =
    scala.collection.mutable.ArrayBuffer.empty[DataFrame]

  private val observeIds = new AtomicLong

  /** Record a stored frame; anything not explicitly released by its loop
    * is freed at the next [[releaseStragglers]]. */
  private def track(df: DataFrame): DataFrame = synchronized {
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

  /** The `LogicalRDD` leaf of a frame [[materialize]] returned: its RDD,
    * and the stored bytes and row count `materialize` measured as its
    * `stats`. Fails loudly on any other frame — a derived frame's
    * statistics are optimizer estimates, never measurements. */
  def measuredLeaf(stored: DataFrame): LogicalRDD = stored.queryExecution.logical match {
    case lr: LogicalRDD => lr
    case other => throw new IllegalArgumentException(
      s"a measured size needs a materialized frame, got ${other.nodeName}")
  }

  /** A frame's OWN storage: the checkpoint blocks of the leaf
    * [[materialize]] returned. Leaves deeper in a derived plan belong to
    * other generations, each tracked or released on its own. */
  private def freeBlocks(df: DataFrame): Unit =
    measuredLeaf(df).rdd.unpersist(blocking = false)
}
