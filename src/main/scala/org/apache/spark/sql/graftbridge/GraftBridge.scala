package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{DataFrame, SparkSession, classic}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.SparkStrategy

/** Minimal bridge to the `private[sql]` constructors needed to turn a
  * custom `LogicalPlan` back into a `DataFrame` and to inject a custom
  * `SparkStrategy` into a session that is ALREADY BUILT (the driver
  * hands graft an existing session, so the `withExtensions` builder hook
  * is not available; `ExperimentalMethods` is the runtime-mutable,
  * public-API injection point for planner strategies).
  *
  * This package placement is the standard pattern for Spark library
  * extensions (same technique as spark-packages that expose
  * `Dataset.ofRows`); it uses only stable internal entry points.
  */
object GraftBridge {

  /** `DataFrame` from a custom logical plan (runs the full analyzer/
    * optimizer/planner pipeline, so injected rules and strategies see it).
    */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** The analyzed (attribute-resolved) plan of a DataFrame — custom
    * logical nodes are built over this so their expressions can bind to
    * real `Attribute`s instead of going through name resolution.
    */
  def analyzed(df: DataFrame): LogicalPlan =
    df.queryExecution.analyzed

  /** `Column` over a raw Catalyst expression (r22 — the
    * [[graft.ext.BoundedCollectList]] aggregate is constructed in Scala
    * rather than registered as a SQL function; `ExpressionUtils` is
    * `private[sql]` in Spark 4).
    */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression): org.apache.spark.sql.Column =
    classic.ExpressionUtils.column(e)

  /** The Catalyst expression behind a `Column`. */
  def expression(c: org.apache.spark.sql.Column): org.apache.spark.sql.catalyst.expressions.Expression =
    classic.ExpressionUtils.expression(c)

  /** The session's UUID (`private[sql]`): a key that, unlike the
    * session itself, keeps nothing reachable.
    */
  def sessionUUID(spark: SparkSession): String =
    spark.asInstanceOf[classic.SparkSession].sessionUUID

  /** Idempotently add a planner strategy to a live session: a no-op when
    * the session's planner already holds it, from an earlier call or from
    * the session's `SparkSessionExtensions`.
    */
  def ensureStrategy(spark: SparkSession, s: SparkStrategy): Unit = {
    val cs = spark.asInstanceOf[classic.SparkSession]
    if (!cs.sessionState.planner.strategies.contains(s))
      cs.experimental.extraStrategies = cs.experimental.extraStrategies :+ s
  }

  /** Idempotently add an optimizer rule to a live session: a no-op when the
    * session already runs it, from an earlier call or from the session's
    * `SparkSessionExtensions`.
    */
  def ensureOptimization(
      spark: SparkSession,
      r: org.apache.spark.sql.catalyst.rules.Rule[LogicalPlan]): Unit = {
    val cs = spark.asInstanceOf[classic.SparkSession]
    if (!cs.experimental.extraOptimizations.contains(r) &&
        !cs.sessionState.optimizer.extendedOperatorOptimizationRules.contains(r))
      cs.experimental.extraOptimizations = cs.experimental.extraOptimizations :+ r
  }
}

/** The raise-mode refusal of [[graft.ext.BoundedCollectList]]: a
  * `SparkRuntimeException` (a `private[spark]` class, hence
  * this package) of Spark's user-raised error class, SQLSTATE P0001,
  * with the caller's mega-bucket wording. `cap` is the bound and `size`
  * the group size seen when it tripped, a lower bound on the full group
  * because counting stops at the cap.
  */
final class BoundedCollectOverflow(msg: String, val cap: Int, val size: Int)
  extends org.apache.spark.SparkRuntimeException("USER_RAISED_EXCEPTION",
    Map("errorMessage" -> s"$msg (cap $cap, group size at least $size)"))
