package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal bridge into the classic Column <-> catalyst Expression
  * converters and the classic Dataset factory, which are `private[sql]`
  * since the Spark Connect column refactor. Everything else in the engine lives under `graft.*`. */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Eager Column -> Expression conversion (UnresolvedFunction nodes
    * the analyzer then resolves) — what a FunctionRegistry builder must
    * return; [[expression]]'s lazy `ColumnNodeExpression` wrapper is
    * Unevaluable and never re-enters analysis from there. */
  def resolvableExpression(c: Column): Expression =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter(c.node)

  /** Scala-external -> catalyst-internal value converter for `dt`
    * (String -> UTF8String, Timestamp -> micros, ...): what an `InSet`
    * literal set must hold to match the column's runtime values. */
  def toCatalyst(dt: org.apache.spark.sql.types.DataType): Any => Any =
    org.apache.spark.sql.catalyst.CatalystTypeConverters.createToCatalystConverter(dt)

  /** Catalyst-internal -> Scala-external value converter for `dt`, the
    * inverse of [[toCatalyst]]. */
  def toScala(dt: org.apache.spark.sql.types.DataType): Any => Any =
    org.apache.spark.sql.catalyst.CatalystTypeConverters.createToScalaConverter(dt)

  /** The session's column-name resolver (case-insensitive by default). */
  def resolver(spark: SparkSession): org.apache.spark.sql.catalyst.analysis.Resolver =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState.conf.resolver

  /** The rows of `plan`, collected as internal rows through one SQL
    * execution (what `Dataset.collect` runs, without the conversion to
    * external rows). */
  def collectInternal(spark: SparkSession, plan: LogicalPlan)
      : Array[org.apache.spark.sql.catalyst.InternalRow] = {
    val qe = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.executePlan(plan)
    org.apache.spark.sql.execution.SQLExecution.withNewExecutionId(qe, Some("collect"))(
      qe.executedPlan.executeCollect())
  }

  /** A DataFrame over `plan` in `spark` (the classic session every
    * engine frame lives in): how a custom logical node such as
    * `graft.expr.BatchTopK` becomes a frame. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)
}
