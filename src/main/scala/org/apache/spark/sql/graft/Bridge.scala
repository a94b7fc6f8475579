package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ catalyst Expression bridge. Spark 4 made the converters
  * `private[sql]` (`org.apache.spark.sql.classic.ExpressionUtils`), so
  * graft's custom expressions (e.g. `FloatDotProduct`) reach them through
  * this one-file shim living in the sql package namespace — the standard
  * technique for libraries that extend Catalyst.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** DataFrame from a logical plan (classic `Dataset.ofRows` is
    * `private[sql]`) — used by graft's custom operators (TopKPerKey).
    */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Block until `spark`'s listener bus has delivered every queued event
    * (`SparkContext.listenerBus` is `private[spark]`); throws if it does
    * not drain within Spark's timeout. */
  def drainBus(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** `cut` (a `localCheckpoint` result) with the optimizer's statistics
    * set to its measured row count. A checkpoint otherwise keeps the
    * estimate of the plan it cut, so a loop whose step joins each
    * generation with itself compounds that estimate every generation until
    * planning stalls in the size arithmetic. */
  def measured(cut: org.apache.spark.sql.DataFrame, rows: Long): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical.Statistics
    import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
    val r = cut.queryExecution.logical.asInstanceOf[org.apache.spark.sql.execution.LogicalRDD]
    val stats = Statistics(sizeInBytes = EstimationUtils.getSizePerRow(r.output) * rows,
                           rowCount = Some(BigInt(rows)))
    ofRows(cut.sparkSession, r.copy()(
      cut.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      Some(stats), Some(r.constraints)))
  }
}
