package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge to Spark's package-private Column <-> Expression conversions
  * (Spark 4 moved Column onto ColumnNode; `classic.ExpressionUtils` is
  * the supported classic-backend bridge but is private[sql]). Living in
  * org.apache.spark.sql is the conventional extension-library shim.
  */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  def logicalPlan(df: DataFrame): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.queryExecution.analyzed

  /** A catalog table's metadata — bucket spec, location — as the
    * session catalog holds it (`sessionState` is classic-only). */
  def tableMetadata(spark: SparkSession,
      table: String): org.apache.spark.sql.catalyst.catalog.CatalogTable = {
    val state = spark.asInstanceOf[classic.SparkSession].sessionState
    state.catalog.getTableMetadata(state.sqlParser.parseTableIdentifier(table))
  }

  def ofRows(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
}
