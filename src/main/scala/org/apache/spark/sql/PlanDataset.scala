package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridges between the public API and Catalyst that Spark keeps private
  * to its SQL package. `ofRows` lets a source hand Spark a relation it
  * built itself (for example a DSv2 table carrying accumulators, which
  * no option string can express); `expression` lets a source evaluate a
  * `Column` predicate itself, as a file index does per listed file;
  * `column` is its inverse, so an expression that carries a value no
  * SQL argument can (a broadcast handle) still composes as a `Column`.
  */
object PlanDataset {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  def expression(column: Column): Expression =
    classic.ColumnNodeToExpressionConverter(column.node)

  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
}
