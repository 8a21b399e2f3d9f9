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

  /** A checkpointed frame whose carried size estimate is capped at
    * `spark.sql.defaultSizeInBytes`, the size the planner assumes for
    * a relation it knows nothing about. A checkpoint keeps its input's
    * estimate, and a join's estimate is the product of its children's:
    * in a loop of cut-and-join rounds the products compound into
    * numbers with ever more digits, and planning a round spends
    * minutes multiplying them. Estimates under the cap — every frame
    * small enough to broadcast — are kept as they are. */
  def capCheckpointStats(cut: DataFrame): DataFrame = cut.queryExecution.logical match {
    case r: execution.LogicalRDD =>
      val spark = cut.sparkSession.asInstanceOf[classic.SparkSession]
      val cap = BigInt(spark.sessionState.conf.defaultSizeInBytes)
      val st = r.stats
      if (st.sizeInBytes <= cap) cut
      else classic.Dataset.ofRows(spark,
        execution.LogicalRDD(r.output, r.rdd, r.outputPartitioning,
          r.outputOrdering, r.isStreaming)(
          spark, Some(st.copy(sizeInBytes = cap)), Some(r.constraints)))
    case _ => cut
  }

  def ofRows(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
}
