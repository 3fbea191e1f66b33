package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{ColumnNodeToExpressionConverter, ExpressionColumnNode}

/** Expression/Column and LogicalPlan/DataFrame bridge for custom Catalyst
  * extensions.
  *
  * Spark 4 moved the `new Column(Expression)` constructor behind the
  * sql-api/classic split and scoped the converters `private[sql]`, so an
  * extension library needs one object inside the `org.apache.spark.sql`
  * namespace to lift its own expressions into the public Column API —
  * the same technique Spark-native connectors use. No Spark internals are
  * modified; this only re-exports conversions.
  */
object GraftBridge {
  /** Wrap a custom Catalyst expression as a user-facing Column. */
  def column(e: Expression): Column = new Column(ExpressionColumnNode(e))

  /** Resolve a Column back to its Catalyst expression tree. */
  def expression(c: Column): Expression = ColumnNodeToExpressionConverter(c.node)

  /** Lift a logical plan (e.g. a custom operator node wrapping a child
    * DataFrame's plan) back into a user-facing DataFrame — the plan-level
    * twin of [[column]], needed by custom operators planned through an
    * injected `SparkStrategy`. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** A DataFrame's analyzed logical plan, for embedding as a child. */
  def analyzedPlan(df: DataFrame): LogicalPlan = df.queryExecution.analyzed

  /** Block until every listener event posted so far has been delivered
    * (the bus is `private[spark]`), so counters reset or read afterwards
    * neither miss the last run's late task-end events nor bleed them into
    * the next run. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
