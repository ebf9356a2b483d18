package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** The one `private[sql]` bridge a library defining its own logical
  * plan nodes needs: turn a constructed `LogicalPlan` back into a
  * `DataFrame` (the as-of join node) and a `Column` into its catalyst
  * `Expression`. This is the standard technique extension libraries
  * use (a single object compiled into the `org.apache.spark.sql`
  * package scope); everything else in graft goes through fully
  * public APIs (`SparkSessionExtensions`, `Strategy`, `SparkPlan`) —
  * the corpus parallelism floor included, which is a plain
  * `repartition` in [[graft.tables.Tables]].
  */
object GraftSqlBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  def expr(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    classic.ExpressionUtils.expression(c)
}
