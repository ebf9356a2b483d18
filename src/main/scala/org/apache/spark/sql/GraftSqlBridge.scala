package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** The one `private[sql]` bridge a library defining its own logical
  * plan nodes needs: turn a constructed `LogicalPlan` back into a
  * `DataFrame` (the as-of join node; `Par.widen`'s repartition inserted
  * below a narrow operator chain, which the public API can only stack
  * on top). This is the standard technique extension libraries
  * use (a single object compiled into the `org.apache.spark.sql`
  * package scope); everything else in graft goes through fully
  * public APIs (`SparkSessionExtensions`, `Strategy`, `SparkPlan`).
  */
object GraftSqlBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  def analyzedPlan(df: DataFrame): LogicalPlan =
    df.queryExecution.analyzed

  def expr(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    classic.ExpressionUtils.expression(c)
}
