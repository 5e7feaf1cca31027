package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge to the `private[sql]` Dataset constructor — the standard
  * technique a third-party Spark extension uses to materialize a
  * custom [[LogicalPlan]] node (here: [[graft.plans.AsOfJoinPlan]])
  * as a DataFrame. Everything else about the custom operator goes
  * through public extension points (`injectPlannerStrategy`); this is
  * the one hop Spark does not yet expose publicly.
  */
object GraftSqlBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Surface the `private[sql]` joinAsOf so tests can exercise the
    * [[graft.plans.RewriteSparkAsOfJoin]] interception of Spark's own
    * AsOfJoin node (tolerance=null, allowExactMatches=true, backward —
    * the merge_asof defaults the rule targets).
    */
  def joinAsOf(left: DataFrame, right: DataFrame, leftAsOf: Column,
      rightAsOf: Column, condition: Column, joinType: String): DataFrame =
    left.asInstanceOf[classic.Dataset[Row]].joinAsOf(
      right.asInstanceOf[classic.Dataset[_]], leftAsOf, rightAsOf, condition,
      joinType, null, allowExactMatches = true, "backward")

  /** Full-parameter form: every direction, exact-match flag, and
    * tolerance the API accepts — for specs driving each shape through
    * the rewrite.
    */
  def joinAsOf(left: DataFrame, right: DataFrame, leftAsOf: Column,
      rightAsOf: Column, condition: Column, joinType: String,
      tolerance: Column, allowExactMatches: Boolean,
      direction: String): DataFrame =
    left.asInstanceOf[classic.Dataset[Row]].joinAsOf(
      right.asInstanceOf[classic.Dataset[_]], leftAsOf, rightAsOf, condition,
      joinType, tolerance, allowExactMatches, direction)
}
