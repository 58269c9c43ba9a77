package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{DataFrame, Dataset, SparkSession}

/** Bridge to `private[sql]` Dataset construction for custom logical plans
  * (classic mode).
  */
object DatasetBridge {
  def ofRows(spark: org.apache.spark.sql.SparkSession, plan: LogicalPlan): DataFrame =
    Dataset.ofRows(spark.asInstanceOf[SparkSession], plan)

  def analyzed(df: org.apache.spark.sql.DataFrame): LogicalPlan =
    df.queryExecution.analyzed
}
