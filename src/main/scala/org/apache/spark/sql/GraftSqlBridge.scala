/* Bridge into private[sql] helpers. Lives in the org.apache.spark.sql
 * package for access only — the same technique the reference uses to reach
 * Spark-private RPC from `org.apache.spark.delta.sharing`
 * (reference `client/src/main/scala/org/apache/spark/delta/sharing/
 * PreSignedUrlCache.scala:16-17`).
 */
package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

object GraftSqlBridge {
  /** Wrap a Catalyst expression as a user-facing Column. */
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  /** Unwrap a Column to its Catalyst expression. */
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Analyzed logical plan of a DataFrame (e.g. to embed it as a scalar
    * subquery — the same shape `InjectRuntimeFilter` builds).
    */
  def analyzed(df: Dataset[_]): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[classic.Dataset[_]].queryExecution.analyzed

  /** DataFrame over a logical plan (used to wrap streaming relations). */
  def ofRowsStreaming(
      spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** The internal RDD behind a checkpointed Dataset's `LogicalRDD`: its
    * blocks (`localCheckpoint`) or its files (`checkpoint`) hold the
    * data. `Dataset.unpersist()` only uncaches CacheManager entries and
    * never touches this RDD, so releasing a checkpoint goes through it.
    */
  def checkpointRdd(ds: Dataset[_]): Option[org.apache.spark.rdd.RDD[_]] =
    ds.asInstanceOf[classic.Dataset[_]].queryExecution.analyzed match {
      case lr: execution.LogicalRDD => Some(lr.rdd)
      case _                        => None
    }

  /** Streaming-flagged DataFrame over a computed InternalRow RDD — how a
    * Source hands a micro-batch whose rows come from arbitrary (non-file-
    * relation) computation to the stream execution, which asserts
    * isStreaming on every getBatch result. Kafka's source does the same
    * via `internalCreateDataFrame(rdd, schema, isStreaming = true)`.
    */
  def streamingDataFrameFromRdd(
      spark: SparkSession,
      rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession]
      .internalCreateDataFrame(rdd, schema, isStreaming = true)
}
