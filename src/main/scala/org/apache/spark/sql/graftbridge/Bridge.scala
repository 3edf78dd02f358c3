package org.apache.spark.sql.graftbridge

import org.apache.spark.rdd.{LocalRDDCheckpointData, RDD}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal bridge into `private[sql]` Column↔Expression and
  * LogicalPlan↔DataFrame conversion, plus `private[spark]` removal of
  * a local checkpoint's blocks — the supported mechanisms for
  * third-party native expressions and custom logical plans (the same
  * calls `functions._` and the Dataset API use internally). Lives in an
  * `org.apache.spark.sql` subpackage solely for access; contains no
  * Spark code. */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)
  def analyzed(df: DataFrame): LogicalPlan = df.queryExecution.analyzed
  /** Drop `rdd`'s blocks asynchronously if it is locally checkpointed
    * — what `RDD.unpersist` does, without the WARN it logs for every
    * locally checkpointed RDD. */
  def dropLocalCheckpoint(rdd: RDD[_]): Unit =
    if (rdd.checkpointData.exists(_.isInstanceOf[LocalRDDCheckpointData[_]]))
      rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)
}
