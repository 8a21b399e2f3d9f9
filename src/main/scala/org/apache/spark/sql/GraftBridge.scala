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

  /** `df` materialized by one job, as a local checkpoint or, when
    * `reliable`, a checkpoint in the context's checkpoint directory,
    * and re-planned as a relation whose size is the bytes of the rows
    * that job produced. A checkpoint made through `Dataset` keeps its
    * input's estimate instead, and a join's estimate is the product of
    * its children's: a batch-sized frame cut above a join was never
    * broadcast by the static planner, and a loop of cut-and-join rounds
    * compounded the products into numbers planning spent minutes
    * multiplying. No row count is reported: given one, cost-based
    * estimation sizes every projection above the cut as rows × default
    * column widths (20 bytes a string), which drops the measured text
    * bytes. The job is the one `Dataset.checkpoint(eager = true)` runs,
    * with one accumulator. */
  def cut(df: DataFrame, reliable: Boolean): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val spark = ds.sparkSession
    val bytes = spark.sparkContext.longAccumulator
    val qe = ds.queryExecution
    val rowBytes = 8L + ds.schema.map(_.dataType.defaultSize.toLong).sum
    val rdd = execution.SQLExecution.withNewExecutionId(qe,
        Some(if (reliable) "checkpoint" else "localCheckpoint")) {
      val r = qe.executedPlan.execute().map { row =>
        val c = row.copy()
        bytes.add(c match {
          case u: catalyst.expressions.UnsafeRow => u.getSizeInBytes.toLong
          case _ => rowBytes
        })
        c
      }
      if (reliable) r.checkpoint() else r.localCheckpoint()
      r.doCheckpoint()
      r
    }
    val l = execution.LogicalRDD.fromDataset(rdd, ds, ds.isStreaming)
    val stats = catalyst.plans.logical.Statistics(sizeInBytes = BigInt(math.max(1L, bytes.value)))
    classic.Dataset.ofRows(spark,
      execution.LogicalRDD(l.output, l.rdd, l.outputPartitioning, l.outputOrdering,
        l.isStreaming)(spark, Some(stats), Some(l.constraints)))
  }

  /** The largest shuffle adaptive execution coalesces into ONE
    * partition. It packs partitions up to
    * `max(min(advisory, total / minPartitions), minPartitionSize)`,
    * where `minPartitions` is `coalescePartitions.minPartitionNum` or,
    * unset, the default parallelism under `parallelismFirst` (Spark's
    * default) and 1 without it. So with more than one minimum partition
    * a shuffle above `minPartitionSize` (1 MB by default) is split, and
    * with one a shuffle up to the advisory size (64 MB) is not. */
  def onePartitionShuffleBytes(spark: SparkSession): Long = {
    val conf = spark.asInstanceOf[classic.SparkSession].sessionState.conf
    import internal.SQLConf._
    val minPartitions = conf.getConf(COALESCE_PARTITIONS_MIN_PARTITION_NUM).getOrElse(
      if (conf.getConf(COALESCE_PARTITIONS_PARALLELISM_FIRST))
        spark.sparkContext.defaultParallelism
      else 1)
    val minSize = conf.getConf(COALESCE_PARTITIONS_MIN_PARTITION_SIZE)
    if (minPartitions > 1) minSize
    else math.max(minSize, conf.getConf(ADVISORY_PARTITION_SIZE_IN_BYTES))
  }

  def ofRows(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
}
