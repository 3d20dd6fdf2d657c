package org.apache.spark.sql.graft

import org.apache.spark.sql.{classic, Column, DataFrame, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into Spark's `private[sql]` Column ⇄ Expression converters.
  *
  * Spark 4 rebased `Column` on ColumnNode, so a library can no longer
  * construct a `Column` from a Catalyst `Expression` directly — the only
  * public path is the session FunctionRegistry, which can't close over
  * runtime objects (a Broadcast[BloomFilter] has no SQL literal form).
  * The sanctioned community workaround is this one-file package shim, the
  * same shape Spark-native libraries (ML feature libs, spatial engines)
  * ship. Keep it minimal: forwarding calls, no state.
  */
object ColumnBridge {
  /** Wrap a Catalyst expression as a user-facing Column. */
  def column(e: Expression): Column = ExpressionUtils.column(e)

  /** Extract the Catalyst expression backing a (classic) Column. */
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Wrap a logical plan as a DataFrame (classic `Dataset.ofRows`) — the
    * construction path for custom plan nodes like `graft.plans.TopKPerGroup`.
    */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** The analyzed logical plan backing a DataFrame. */
  def analyzed(df: DataFrame): LogicalPlan =
    df.asInstanceOf[classic.Dataset[_]].queryExecution.analyzed

  /** The planner strategies an extensions instance would inject (the
    * builder is private[sql]; tests assert wiring through this).
    */
  def plannerStrategies(
      ext: SparkSessionExtensions,
      spark: SparkSession): Seq[org.apache.spark.sql.execution.SparkStrategy] =
    ext.buildPlannerStrategies(spark)

  /** RDD's `private[rdd]` isLocallyCheckpointed, on its checkpoint data. */
  def isLocalCheckpoint(rdd: org.apache.spark.rdd.RDD[_]): Boolean =
    rdd.checkpointData.exists(_.isInstanceOf[org.apache.spark.rdd.LocalRDDCheckpointData[_]])
}
