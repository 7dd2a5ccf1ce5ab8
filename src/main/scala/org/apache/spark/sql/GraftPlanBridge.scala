package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.internal.SQLConf

/** Bridge to the `private[sql]` plan and session internals graft's
  * iterative operators need (the same technique as
  * [[GraftExpressionBridge]]; no Spark internals are modified).
  */
object GraftPlanBridge {

  /** The session's AQE advisory partition size in bytes, resolved
    * through its fallback chain exactly as AQE itself reads it. */
  def advisoryPartitionBytes(spark: SparkSession): Long =
    spark.asInstanceOf[classic.SparkSession].sessionState.conf
      .getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)

  /** Re-plan a checkpointed frame with statistics MEASURED from its
    * own row count. `localCheckpoint` stamps the new `LogicalRDD` with
    * the size estimate of the plan that produced it, and a join's
    * estimate is the product of its children's, so in an iterative
    * loop whose every round joins the previous round's checkpoint the
    * estimate squares each round — its digit count doubles until the
    * planner stalls in BigInteger arithmetic. The rebuilt frame
    * carries `rows × row width` instead, the size the data actually
    * has. Frames that are not a checkpoint pass through unchanged.
    */
  def withMeasuredStats(df: DataFrame, rows: Long): DataFrame =
    df.queryExecution.analyzed match {
      case l: LogicalRDD =>
        val session = df.sparkSession.asInstanceOf[classic.SparkSession]
        val stats = Statistics(
          sizeInBytes = EstimationUtils.getSizePerRow(l.output) * rows,
          rowCount = Some(BigInt(rows)))
        classic.Dataset.ofRows(session, l.copy()(session, Some(stats), None))
      case _ => df
    }
}
