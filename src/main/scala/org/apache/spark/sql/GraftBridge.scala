package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Thin bridge into `private[sql]` Spark internals so the graft engine can
  * build [[Column]]s from custom Catalyst [[Expression]]s and register
  * SQL-callable functions on an already-built session (the driver constructs
  * the SparkSession, so `SparkSessionExtensions` injection is not available).
  */
object GraftBridge {

  /** Wrap a Catalyst expression as a user-facing Column. */
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  /** Extract the Catalyst expression backing a Column. */
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Register a SQL-callable function on this session (idempotent). */
  def registerFunction(
      spark: SparkSession,
      name: String,
      builder: Seq[Expression] => Expression): Unit = {
    val registry = spark.sessionState.functionRegistry
    val ident = FunctionIdentifier(name)
    registry.registerFunction(
      ident,
      new ExpressionInfo("graft.functions", name),
      builder)
  }

  /** Block until every listener-bus queue has delivered its pending events
    * (listeners run on the bus threads, so a reader that does not wait can
    * miss the tail of the last execution). */
  def drainListenerBus(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
