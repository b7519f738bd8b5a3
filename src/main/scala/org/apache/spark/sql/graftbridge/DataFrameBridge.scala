package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic

/** Bridge into Spark's `private[sql]` DataFrame <-> LogicalPlan
  * conversions, so graft can hand out a new DataFrame over an already
  * resolved plan (see `graft.Tables`) without going back through the
  * reader. Lives beside [[ColumnBridge]] for the same reason.
  */
object DataFrameBridge {
  def plan(df: DataFrame): LogicalPlan = df.asInstanceOf[classic.Dataset[Row]].logicalPlan

  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
}
