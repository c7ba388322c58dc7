package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge between raw Catalyst [[Expression]]s and the public [[Column]]
  * API. Spark 4's `classic.ExpressionUtils` is `private[sql]` (the Connect
  * refactor hid the classic constructor), so third-party native expressions
  * use this in-package shim — the conventional technique for Spark
  * extension libraries that ship codegen expressions without going through
  * SparkSessionExtensions function registration.
  */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Spark's ANSI CAST_OVERFLOW error for double → tinyint, so a fused
    * kernel raises what the cast it replaces raises. */
  def byteCastOverflow(d: Double): ArithmeticException =
    org.apache.spark.sql.errors.QueryExecutionErrors.castingCauseOverflowError(
      d, org.apache.spark.sql.types.DoubleType, org.apache.spark.sql.types.ByteType)

  /** Deterministic listener-event drain for dev tooling (graft.Profile):
    * `SparkContext.listenerBus` is `private[spark]`, so the wait goes
    * through this in-package shim. */
  def waitForListeners(spark: SparkSession, timeoutMs: Long): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty(timeoutMs)

  /** `df`'s plan as a frame of `session` — e.g. a child session with its
    * own conf (`Dataset.ofRows` is `private[sql]`). */
  def ofRows(session: SparkSession, df: DataFrame): DataFrame =
    classic.Dataset.ofRows(session.asInstanceOf[classic.SparkSession],
      df.queryExecution.analyzed)

  /** An eager checkpoint (a bare `LogicalRDD` leaf) rebuilt with the same
    * RDD and ordering, but planned against the bytes its RDD actually
    * stores and `rowCount` instead of its origin plan's estimate. A
    * one-partition RDD declares `SinglePartition`: the checkpoint otherwise
    * carries `UnknownPartitioning`, and an aggregate over it plans an
    * `Exchange SinglePartition` and a second job for data already in one
    * place. The block-manager status is `private[spark]`; the master holds
    * every block's status synchronously once the checkpoint job has
    * finished. */
  def withMeasuredStats(checkpointed: DataFrame, rowCount: Long): DataFrame = {
    val leaf = checkpointed.queryExecution.logical
      .asInstanceOf[org.apache.spark.sql.execution.LogicalRDD]
    val session = checkpointed.sparkSession.asInstanceOf[classic.SparkSession]
    val rddId = leaf.rdd.id
    val bytes = session.sparkContext.env.blockManager.master.getStorageStatus
      .iterator.flatMap(_.rddBlocks).collect {
        case (org.apache.spark.storage.RDDBlockId(`rddId`, _), st) => st.memSize + st.diskSize
      }.sum
    val stats = org.apache.spark.sql.catalyst.plans.logical.Statistics(
      sizeInBytes = BigInt(bytes), rowCount = Some(BigInt(rowCount)))
    val partitioning = if (leaf.rdd.getNumPartitions != 1) leaf.outputPartitioning
      else org.apache.spark.sql.catalyst.plans.physical.SinglePartition
    classic.Dataset.ofRows(session,
      leaf.copy(outputPartitioning = partitioning)(session, Some(stats), Some(leaf.constraints)))
  }

  /** Register a function into a LIVE session's registry (the
    * SparkSessionExtensions path only applies at session construction). */
  def registerFunction(
      spark: SparkSession,
      ident: org.apache.spark.sql.catalyst.FunctionIdentifier,
      info: org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[classic.SparkSession].sessionState.functionRegistry
      .registerFunction(ident, info, builder)
}
