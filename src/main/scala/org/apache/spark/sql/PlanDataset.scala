package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** A DataFrame over a hand-built logical plan. `Dataset.ofRows` is
  * private to Spark's SQL package; this lets a source hand Spark a
  * relation it built itself (for example a DSv2 table carrying
  * accumulators, which no option string can express).
  */
object PlanDataset {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
}
