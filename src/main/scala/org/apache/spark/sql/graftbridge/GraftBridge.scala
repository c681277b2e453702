package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Minimal bridge into `private[sql]` surface: building a DataFrame
  * from a custom LogicalPlan has no public constructor, so extension
  * libraries host this one call inside the org.apache.spark.sql
  * namespace (the established pattern for Spark extension packages).
  * Everything else in this repo stays on public API.
  */
object GraftBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** `plan` with its cached subtrees swapped for their
    * `InMemoryRelation`s, as query execution sees it. */
  def useCachedData(spark: SparkSession, plan: LogicalPlan): LogicalPlan =
    spark.sharedState.cacheManager.useCachedData(plan)

  /** Column ⇄ Expression, for expressions that carry non-literal
    * driver state (a broadcast handle) and therefore cannot go
    * through the function registry's Expression-only builders. */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression)
  : org.apache.spark.sql.Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)

  def expression(c: org.apache.spark.sql.Column)
  : org.apache.spark.sql.catalyst.expressions.Expression =
    org.apache.spark.sql.classic.ExpressionUtils.expression(c)
}
