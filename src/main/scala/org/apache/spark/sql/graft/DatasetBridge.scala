package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Bridge into Spark 4's `private[sql]` Dataset construction — needed to
  * hand a custom LogicalPlan (graft.plans.GroupTopKNode) back to the
  * session as a DataFrame. Companion of [[ColumnBridge]]. */
object DatasetBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** A new session over the same context, starting from a copy of
    * `spark`'s state: its runtime confs, temp views and functions.
    * `newSession` would start from the static confs only. */
  def cloneSession(spark: SparkSession): SparkSession =
    spark.asInstanceOf[classic.SparkSession].cloneSession()

  /** `s` with every field nullable, as a file source reports a data
    * schema (`StructType.asNullable` is `private[spark]`). */
  def asNullable(s: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = s.asNullable

  def logicalPlan(df: DataFrame): LogicalPlan =
    df.asInstanceOf[classic.Dataset[_]].logicalPlan

  /** Eager Column → catalyst Expression conversion (UnresolvedAttribute
    * etc. as plain analyzer-resolvable nodes). ColumnBridge.expression's
    * lazy ColumnNodeExpression wrapper is opaque to the analyzer when
    * embedded in a CUSTOM logical plan — its inner UnresolvedAttribute
    * never resolves; this converter unwraps to the real expression tree. */
  def resolvableExpression(c: org.apache.spark.sql.Column)
      : org.apache.spark.sql.catalyst.expressions.Expression =
    classic.ColumnNodeToExpressionConverter(c.node)
}
