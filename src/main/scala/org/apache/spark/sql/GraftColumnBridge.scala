package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge to the sql-private Column <-> catalyst Expression conversions
  * (Spark 4 moved them behind `private[sql]` in
  * org.apache.spark.sql.classic.ExpressionUtils), and to the
  * `private[spark]` listener bus. Same technique Spark extension
  * libraries use to register expression-backed SQL functions. */
object GraftColumnBridge {
  /** Build a DataFrame from a (possibly transformed) parsed logical plan —
    * used by the SLT runner to swap `Divide` for SQLite-semantics division
    * before analysis. */
  def ofRows(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  def parsePlan(spark: SparkSession, sql: String):
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    spark.sessionState.sqlParser.parsePlan(sql)

  /** Eager conversion — resolves the column node immediately (the lazy
    * ColumnNodeExpression wrapper is Unevaluable if it escapes analysis,
    * e.g. when produced inside a functionRegistry builder). */
  def toExpression(c: Column): Expression =
    classic.ColumnNodeToExpressionConverter(c.node)
  def toColumn(e: Expression): Column =
    classic.ExpressionUtils.column(e)

  /** Block until the listener bus (`private[spark]`) has delivered every
    * event posted so far. */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
