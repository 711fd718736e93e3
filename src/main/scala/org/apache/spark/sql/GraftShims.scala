package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Access shim: `classic.ExpressionUtils` is `private[sql]`, but
  * building a Column from a programmatically-constructed Catalyst
  * Expression (no function-registry dependency) requires it. Placing
  * this one-file bridge in the org.apache.spark.sql package is the
  * standard pattern Spark extension libraries use for exactly this.
  */
object GraftShims {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Build a DataFrame from a custom LogicalPlan (Dataset.ofRows is
    * private[sql]) — needed to expose custom operators as plain API.
    */
  def ofRows(spark: SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Float normalization (-0.0 -> 0.0, canonical NaN) for custom
    * operators' group keys — the optimizer rule's helper is
    * private[sql], but any node doing byte-level key equality needs it.
    */
  def normalizeFloats(e: Expression): Expression =
    org.apache.spark.sql.catalyst.optimizer.NormalizeFloatingNumbers.normalize(e)

  /** Drain the shared listener bus (private[spark]): tests asserting on
    * async listener callbacks (QueryExecutionListener action counts,
    * observed metrics) need a deterministic barrier, not sleeps.
    */
  def waitListenerBusEmpty(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** The action name and QueryExecution of a finished action, as a
    * `QueryExecutionListener` receives them (both fields are
    * private[sql]), but for an action of any session on the context.
    * Executions without a name (nested ones) are not actions.
    */
  def finishedAction(e: execution.ui.SparkListenerSQLExecutionEnd)
      : Option[(String, execution.QueryExecution)] =
    e.executionName.filter(_ => e.qe != null).map(_ -> e.qe)
}
