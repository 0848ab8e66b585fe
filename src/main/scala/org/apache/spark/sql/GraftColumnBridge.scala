package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.plans.physical.Partitioning
import org.apache.spark.sql.execution.LogicalRDD

/** Bridge into the `private[sql]` Column ⇄ Expression converters and the
  * plan→DataFrame constructor of the classic (non-Connect) API, needed to
  * expose graft's custom Catalyst expressions and logical operators through
  * the public DataFrame DSL. */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
  def analyzedPlan(df: DataFrame): LogicalPlan = df.queryExecution.analyzed

  /** A leaf frame over `rdd`, whose rows the caller guarantees are laid out
    * by `partitioning` and sorted by `ordering` within each partition (the
    * form `Dataset.checkpoint` gives its result), so plans over it need no
    * exchange or sort to get them. */
  def laidOut(spark: SparkSession, output: Seq[Attribute], rdd: RDD[InternalRow],
              partitioning: Partitioning, ordering: Seq[SortOrder]): DataFrame =
    ofRows(spark, LogicalRDD(output, rdd, partitioning, ordering)(
      spark.asInstanceOf[classic.SparkSession]))
}
