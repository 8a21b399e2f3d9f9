package graft.sources

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.execution.PartitionedFileUtil
import org.apache.spark.sql.execution.datasources.{FilePartition, HadoopFsRelation,
  LogicalRelation}
import org.apache.spark.sql.types.StructType

/** Parquet table loaders — graft's session catalog. Like keenwa's
  * catalog (reference src/catalog/mod.rs: schemas, tables, indexes),
  * table metadata stays resident: each (dir, table)'s parquet schema is
  * inferred once per session, and every later load reads with that
  * schema, so it runs no schema-inference job and no footer read; it
  * still lists the table's files on the driver, so a rewrite with the
  * same schema is seen at once. At interactive scale that fixed
  * per-query cost is the latency (Dremel, VLDB 2020). A writer that
  * replaces a table under a Tables directory with a different schema
  * calls [[refresh]]. Index support maps to bucketed layout (see
  * BucketedStore).
  *
  * Scans stay plain parquet relations, so Catalyst gives filter
  * pushdown and column pruning for free; at 100 TB the same relation
  * reads a partitioned directory tree and prunes partitions from the
  * predicate. Short SQL queries read through [[interactive]] instead.
  */
object Tables extends TableSet {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  private val schemas =
    new java.util.WeakHashMap[SparkSession, ConcurrentHashMap[(String, String), StructType]]

  private def schemasOf(spark: SparkSession) = schemas.synchronized {
    schemas.computeIfAbsent(spark, _ => new ConcurrentHashMap)
  }

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val schema = schemasOf(spark)
      .computeIfAbsent((dir, name), _ => spark.read.parquet(path).schema)
    spark.read.schema(schema).parquet(path)
  }

  /** Forget the schema of `dir/name`: the next load infers it again. */
  def refresh(spark: SparkSession, dir: String, name: String): Unit =
    schemasOf(spark).remove((dir, name))

  /** The tables for short SQL queries (the Relational and SqlMatrix
    * families): a table whose files form exactly one read split (Spark's
    * own split rule, evaluated on every load so `spark.sql.files.*`
    * settings hold) is returned as `coalesce(1)`. Its scan already runs
    * as one task; with the relation reporting a single partition,
    * EnsureRequirements adds no aggregate, window, sort or join exchange
    * above it. Multi-split tables plan as from [[load]], and an explicit
    * `repartition` still shuffles. Operators with a CPU-heavy stage above
    * the scan read through [[load]]: there the shuffle above a one-task
    * scan is what spreads the work over the cores (in a Bench run on 4
    * cores at sf0.1, coalescing every caller's one-split tables made
    * pr02_personalized_pr 1.6x slower). */
  val interactive: TableSet = new TableSet {
    def load(spark: SparkSession, dir: String, name: String): DataFrame = {
      val df = Tables.load(spark, dir, name)
      if (oneSplit(df)) df.coalesce(1) else df
    }
  }

  /** Spark's split rule (as FileSourceScanExec applies it) over the
    * relation's listing: the files form at most one read partition. */
  private def oneSplit(df: DataFrame): Boolean = GraftBridge.logicalPlan(df) match {
    case LogicalRelation(rel: HadoopFsRelation, _, _, _, _) =>
      val spark = rel.sparkSession
      val dirs = rel.location.listFiles(Nil, Nil)
      val maxSplit = FilePartition.maxSplitBytes(spark, dirs)
      val splits = dirs.flatMap(d => d.files.flatMap(f =>
        PartitionedFileUtil.splitFiles(f, f.getPath,
          rel.fileFormat.isSplitable(spark, rel.options, f.getPath), maxSplit, d.values)))
      FilePartition.getFilePartitions(spark, splits.sortBy(-_.length), maxSplit).size <= 1
  }
}

/** The test tables, each read through one `load`. */
sealed abstract class TableSet {
  def load(spark: SparkSession, dir: String, name: String): DataFrame

  def region(s: SparkSession, d: String): DataFrame = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  /** events.ts contract: downstream always sees `ts` (TIMESTAMP, µs,
    * UTC instant) plus `ts_ns` (epoch-nanos BIGINT). The on-disk type
    * has shipped in two generations, so the loader adapts on schema:
    *   - TIMESTAMP(NANOS) — read as a nanos long (nanosAsLong conf);
    *     `ts div 1000` is integer division because ns values (~1.7e18)
    *     exceed double precision.
    *   - TIMESTAMP(MICROS) — read as a timestamp (NTZ under the
    *     default inferTimestampNTZ); cast to an instant under the UTC
    *     session zone and derive ts_ns = unix_micros * 1000 (no
    *     overflow: |µs| < 2^53 for any realistic date, ×1000 < 2^63).
    */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{LongType, TimestampType}
    val raw = load(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts_ns", col("ts"))
          .withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ =>
        raw.withColumn("ts_ns",
            unix_micros(col("ts").cast(TimestampType)) * lit(1000L))
          .withColumn("ts", col("ts").cast(TimestampType))
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
