package org.apache.spark.sql.graft

import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic

/** Bridge into the `private[sql]` constructor for a DataFrame over an
  * arbitrary logical plan.
  *
  * Spark's own extension ecosystem (Delta Lake, Iceberg's Spark module,
  * Sedona, …) uses exactly this technique — a one-object shim placed in
  * an `org.apache.spark.sql` subpackage — because `Dataset.ofRows` is
  * the only way to hand a custom `LogicalPlan` node (here:
  * [[pystreamsspark.plans.AsofJoinPlan]]) to the analyzer/optimizer/
  * planner pipeline. Nothing else private is touched; the plan node
  * itself and its physical operator use only public extension points
  * (`SparkStrategy`, `BinaryExecNode`, `SparkSessionExtensions`).
  */
object PlanBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** A VANILLA SparkSqlParser — what view-statement fallbacks and
    * view-body parsing use: re-parsing through `sessionState.sqlParser`
    * would recurse into the injected interceptor on extensions
    * sessions. Same shim rationale as [[ofRows]] (`SparkSqlParser` is
    * `private[sql]` at the Scala level). */
  private lazy val vanillaParser =
    new org.apache.spark.sql.execution.SparkSqlParser()
  def vanillaParsePlan(text: String): LogicalPlan =
    vanillaParser.parsePlan(text)

  /** Block until every event posted so far has reached every listener
    * (`listenerBus` is `private[spark]`): how a listener-based job count
    * reads a settled total instead of sleeping on the async bus. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
