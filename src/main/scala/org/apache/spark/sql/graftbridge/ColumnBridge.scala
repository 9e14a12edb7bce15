package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ↔ Expression and session bridge.
  *
  * Spark 4 unified `Column` around ColumnNode and made the conversion
  * helpers `private[sql]`; extension libraries conventionally reach
  * them via a small shim in the `org.apache.spark.sql` namespace
  * (the same pattern third-party connectors/extensions use). Only this
  * file lives in the Spark namespace; all engine code stays in `graft`.
  */
object ColumnBridge {
  /** Eagerly convert the ColumnNode tree to a catalyst Expression tree.
    * (`ExpressionUtils.expression` wraps lazily in a
    * `ColumnNodeExpression` that FunctionRegistry builders can't use —
    * the analyzer never unwraps it inside a registered function, so
    * planning hits an Unevaluable. The classic converter unwraps to
    * plain `UnresolvedFunction`s the analyzer resolves normally.)
    */
  def expression(c: Column): Expression =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter(c.node)
  def column(e: Expression): Column = ExpressionUtils.column(e)

  /** Build a DataFrame from a logical plan (`Dataset.ofRows` is
    * `private[sql]` in Spark 4) — needed to hand custom logical nodes
    * to the session.
    */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** A clone of `spark` — same SparkContext, shared state and session
    * state at clone time — with `overrides` set on the clone's conf
    * only, for the few settings that have no plan-level device.
    */
  def isolatedSession(spark: org.apache.spark.sql.SparkSession,
      overrides: Map[String, String]): org.apache.spark.sql.SparkSession = {
    val clone = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].cloneSession()
    overrides.foreach { case (k, v) => clone.conf.set(k, v) }
    clone
  }

  /** `df`'s analyzed plan as a DataFrame of `spark`: moves a
    * checkpointed frame between sessions without touching its rows.
    */
  def rebind(spark: org.apache.spark.sql.SparkSession,
      df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    ofRows(spark, df.queryExecution.analyzed)
}
