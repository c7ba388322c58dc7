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
