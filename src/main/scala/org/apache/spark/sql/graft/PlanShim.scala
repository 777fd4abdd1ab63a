package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic

/** Minimal bridge into Spark's `private[sql]` plan-construction surface.
  *
  * Building a [[DataFrame]] from a custom [[LogicalPlan]] requires
  * `Dataset.ofRows`, which Spark scopes to the `org.apache.spark.sql`
  * package — the standard third-party-extension pattern is a one-object
  * shim inside that package. Nothing else may live here; all graft logic
  * stays in `graft.*`.
  */
object PlanShim {

  /** Wrap a custom logical plan as a DataFrame on `spark`. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** The analyzed logical plan backing `df`. */
  def analyzed(df: DataFrame): LogicalPlan =
    df.queryExecution.analyzed

  /** Wrap a catalyst Expression as a user-facing Column
    * (`ExpressionUtils.column` is `private[sql]` in Spark 4). Needed by
    * native expressions that cannot register through the function
    * registry because they carry non-SQL constructor state (e.g.
    * [[graft.functions.BloomMightContain]]'s bitset). */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression): org.apache.spark.sql.Column =
    classic.ExpressionUtils.column(e)

  /** The catalyst Expression behind a Column (same `private[sql]` shim
    * rationale as [[column]]). */
  def expression(c: org.apache.spark.sql.Column): org.apache.spark.sql.catalyst.expressions.Expression =
    classic.ExpressionUtils.expression(c)

  /** True when the session's shared plan cache holds no entries
    * (`sharedState` is `private[sql]`). Lets tests assert an operator
    * released every frame it persisted. */
  def cacheIsEmpty(spark: SparkSession): Boolean =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager.isEmpty

  /** Parse SQL to its unresolved logical plan WITHOUT executing it
    * (`sessionState` is `private[sql]`, hence here). Lets callers vet a
    * statement's shape — command vs query, relations referenced —
    * before deciding to run it. */
  def parsePlan(spark: SparkSession, sql: String): LogicalPlan =
    spark.asInstanceOf[classic.SparkSession].sessionState.sqlParser.parsePlan(sql)

  /** Spark's own DIVIDE_BY_ZERO error (`QueryExecutionErrors` is
    * `private[sql]`), so a native expression fails exactly as the ANSI
    * `Divide` it replaces. */
  def divideByZero(): ArithmeticException =
    org.apache.spark.sql.errors.QueryExecutionErrors.divideByZeroError(null)
}
