package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.classic
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.LogicalRDD

/** Minimal bridge to the `private[sql]` Column ⇄ Expression converters in
  * Spark 4.x (`org.apache.spark.sql.classic.ExpressionUtils`) and to the
  * package-private `Dataset.ofRows`. Lives under the `org.apache.spark.sql`
  * package namespace purely for access; contains no Spark-internal logic of
  * its own. */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** `df` — a frame whose plan is one `LogicalRDD` leaf, as
    * `localCheckpoint` returns it — rebuilt over the same leaf with
    * `rowCount` as its statistics: that many rows of the schema's
    * per-row size (`EstimationUtils.getOutputSize`). The leaf otherwise
    * carries the pre-execution estimate of the plan it was cut from. */
  def withRowCount(df: DataFrame, rowCount: Long): DataFrame = {
    val session = df.sparkSession.asInstanceOf[classic.SparkSession]
    val leaf = df.queryExecution.logical.asInstanceOf[LogicalRDD]
    val stats = Statistics(
      sizeInBytes = EstimationUtils.getOutputSize(leaf.output, BigInt(rowCount)),
      rowCount = Some(BigInt(rowCount)))
    classic.Dataset.ofRows(session,
      leaf.copy()(session, Some(stats), Some(leaf.constraints)))
  }
}
