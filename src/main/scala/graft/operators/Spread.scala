package graft.operators

import org.apache.spark.network.util.JavaUtils
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.internal.SQLConf

/** Parallelism gate for the ingest-side "spreading" repartition.
  *
  * The bench fixtures are single-row-group parquet files, so their scan is
  * ONE task — without a spread, every per-row signature/vector pipeline
  * (CPU-heavy hash/dot kernels) runs on one core. A hash repartition fixes
  * that locally, but applied unconditionally it is a FULL data-sized
  * shuffle that buys nothing at scale: a 100 TB corpus scan already has
  * tens of thousands of splits, and when the scan already parallelizes,
  * the "spread" is not dwarfed by the compute — it IS the largest shuffle
  * in the plan.
  *
  * [[ifNarrow]] therefore repartitions ONLY when the scan's parallelism is
  * below the session's default parallelism — true for the single-row-group
  * fixtures, false for any real multi-split corpus — so "the corpus is
  * never shuffled" holds literally on wide inputs (pinned by
  * SpreadGateSpec).
  *
  * [[toMeasuredSize]] goes the other way: it narrows a stored frame to the
  * partition count its measured bytes warrant.
  */
object Spread {

  /** `df` hash-repartitioned on `key` iff its physical scan has fewer
    * partitions than the session's default parallelism. The partition-count
    * probe plans the query but runs no job — and planning isn't free
    * (~60 ms warm per probe: analysis + physical planning of the scan), so
    * the result is MEMOIZED per (session, canonical plan): the gated bases
    * are a handful of raw table reads asked about once per query build,
    * and without the cache the probe tax showed up as a 1.7x bench
    * regression on the cheapest dedup queries. Stale only if the files
    * under an identical plan change mid-session, which no caller does.
    */
  def ifNarrow(df: DataFrame, key: Column): DataFrame = {
    // no explicit partition count: the spread exchange stays AQE-coalescible,
    // so its width adapts to the frame's measured bytes (floor =
    // coalescePartitions.minPartitionSize) instead of pinning full
    // parallelism onto cheap frames
    spreadIfNarrow(df, w => if (w) df.repartition(key) else df)
  }

  /** [[ifNarrow]] with the spread width PINNED to the session's default
    * parallelism (an explicit-count repartition is not AQE-coalescible).
    * For the handful of compute-dense frames whose downstream kernels run
    * tens of CPU-seconds per MB: AQE's byte-based coalescing (stock 1 MB
    * `coalescePartitions.minPartitionSize` floor) re-serializes a keyed
    * spread of a small-byte frame to ONE task — bytes are the wrong cost
    * proxy for kernel work (r16/r17 measured: the PCA power-iteration scan
    * lost 1.6x when its spread coalesced). Do NOT use on cheap frames: the
    * same pin measured as a regression when applied to every ifNarrow site
    * (32 tasks of dispatch on sub-millisecond work). Same gate as
    * [[ifNarrow]], so a real multi-split corpus never repartitions. */
  def pinIfNarrow(df: DataFrame, key: Column): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    spreadIfNarrow(df, w => if (w) df.repartition(target, key) else df)
  }

  /** `stored`, a frame [[graft.CheckpointUtil.materialize]] returned,
    * coalesced to ceil(stored bytes / the session's
    * `spark.sql.adaptive.advisoryPartitionSizeInBytes`) partitions, clamped
    * to [1, its current partitions]: the size AQE treats as one task's
    * input. Narrow, so never a shuffle, and never wider; a frame whose
    * partitions already average the advisory size comes back as it is.
    *
    * The bytes are the ones `materialize` measured from the stored blocks
    * and put on the `LogicalRDD` leaf, never an optimizer estimate:
    * Catalyst sizes a vector column at `VectorUDT.defaultSize`, 17 bytes,
    * whatever its length (a 64-dim dense vector holds 512 bytes of values
    * alone), so estimates of derived frames undercount by about the vector
    * width.
    *
    * Why it matters for the PU fits: Spark ML's tree aggregations (one
    * per LBFGS loss evaluation, with `finalAggregateOnExecutor`) add a
    * shuffle to a single task whenever their input has more than one
    * partition, and a logistic regression whose input fills at most one
    * advisory partition fits in one task
    * ([[org.apache.spark.ml.classification.LocalLogisticFit]]). */
  def toMeasuredSize(stored: DataFrame): DataFrame = {
    val have = storedLeaf(stored).rdd.getNumPartitions
    val want = measuredPartitions(stored).min(have).max(1).toInt
    if (want < have) stored.coalesce(want) else stored
  }

  /** ceil(`stored`'s measured bytes / the session's advisory partition
    * size), unclamped: the number of advisory partitions its bytes fill, a
    * frame [[graft.CheckpointUtil.materialize]] returned. 1 means one task
    * may hold all of it, which is when a PU logistic regression fits in one
    * task. */
  def measuredPartitions(stored: DataFrame): BigInt = {
    val advisory = JavaUtils.byteStringAsBytes(
      stored.sparkSession.conf.get(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES.key))
    (storedLeaf(stored).stats.sizeInBytes + advisory - 1) / advisory
  }

  private def storedLeaf(stored: DataFrame): LogicalRDD = stored.queryExecution.logical match {
    case lr: LogicalRDD => lr
    case other => throw new IllegalArgumentException(
      s"a measured size needs a materialized frame, got ${other.nodeName}")
  }

  private def spreadIfNarrow(df: DataFrame, apply: Boolean => DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    val n = probes.getOrBuild(df.sparkSession,
      planKey(df.queryExecution.analyzed.canonicalized))(df.rdd.getNumPartitions)
    apply(n < target)
  }

  /** Session-free fingerprint of a canonicalized plan. The canonical tree
    * string alone is NOT enough — LogicalRelation renders as
    * `Relation[cols] parquet` with no path, so two same-schema tables
    * would collide — so every file-backed leaf contributes its root paths
    * and schema. Deliberately a String, never the plan object: a
    * LogicalRelation retains its HadoopFsRelation's SparkSession, and a
    * plan-object key in the inner map would chain the weak session key
    * strongly to itself (see [[graft.SessionMemo]]). */
  private[operators] def planKey(
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): String = {
    val leaves = plan.collectLeaves().map {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            fs.location.rootPaths.mkString(",") + ":" + fs.schema.catalogString
          case other => other.toString
        }
      // non-file leaves (LocalRelation, views over in-memory data) render
      // WITHOUT their data — two same-schema LocalRelations would collide
      // and silently reuse each other's partition count — so mix in the
      // leaf's semanticHash (canonicalized equality, includes the data)
      case leaf => leaf.toString + "#" + leaf.semanticHash()
    }
    plan.treeString + leaves.mkString("|")
  }

  private val probes = new graft.SessionMemo[Int]

  /** Number of sessions currently holding probe memos (test hook). */
  private[operators] def probeSessionCount: Int = probes.sessionCount
}
