package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{DataFrame => ClassicDataFrame, Dataset => ClassicDataset}
import org.apache.spark.sql.execution.LogicalRDD

/** Bridge into `private[sql]` Spark internals the public API does not
  * expose: constructing a DataFrame from a custom LogicalPlan. Lives in the
  * org.apache.spark.sql package for access; contains no logic. */
object GraftInternal {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    ClassicDataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** `df`'s executed rows under a single `LogicalRDD` leaf, built the way
    * `Dataset.checkpoint` builds its own: same output attributes, and the
    * executed plan's partitioning, ordering and statistics, so the planner
    * knows what it knew about `df`. No row conversion, no job, no
    * checkpoint; over a cached `df` the leaf scans the cached blocks. */
  def leafOf(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[ClassicDataFrame]
    ClassicDataset.ofRows(ds.sparkSession,
      LogicalRDD.fromDataset(ds.queryExecution.toRdd, ds, isStreaming = false))
  }

  def logicalPlan(df: DataFrame): LogicalPlan =
    df.asInstanceOf[ClassicDataFrame].queryExecution.analyzed

  def expression(c: org.apache.spark.sql.Column)
      : org.apache.spark.sql.catalyst.expressions.Expression =
    org.apache.spark.sql.classic.ExpressionUtils.expression(c)

  def column(e: org.apache.spark.sql.catalyst.expressions.Expression)
      : org.apache.spark.sql.Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)

  def wrongNumArgs(name: String, expected: Int, actual: Int): Throwable =
    org.apache.spark.sql.errors.QueryCompilationErrors
      .wrongNumArgsError(name, Seq(expected), actual)
}
