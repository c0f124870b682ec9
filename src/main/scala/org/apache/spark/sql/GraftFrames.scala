package org.apache.spark.sql

import org.apache.spark.sql.execution.SparkPlan

/** Accessor for the private[sql] DataFrame-over-internal-rows constructor:
  * the sync verbs read back a shuffle stage an action already wrote. */
object GraftFrames {
  /** A DataFrame over the rows `plan` produces, with `plan`'s schema. */
  def ofPlan(spark: SparkSession, plan: SparkPlan): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(plan.execute(), plan.schema)
}
