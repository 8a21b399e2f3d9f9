package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.{BucketingUtils, FilePartition}
import org.apache.spark.sql.functions._
import org.scalatest.Assertions._

import graft.operators.Similarity
import graft.sources.BucketedStore

/** What an executed stored IVF-PQ search read of its index's codes
  * table: probing is bucket pruning, so the scan must read exactly the
  * files of the buckets the probed cells hash to. */
object IndexScan {
  /** Every file scan of an executed plan, through AQE and its stages. */
  def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case s: QueryStageExec => scans(s.plan)
    case f: FileSourceScanExec => Seq(f)
    case other => other.children.flatMap(scans)
  }

  /** The executed plan's one scan of the codes table of the index at `path`. */
  def codesScan(spark: SparkSession, df: DataFrame, path: String): FileSourceScanExec = {
    val table = Similarity.indexTable(spark, path)
    scans(df.queryExecution.executedPlan)
      .filter(_.tableIdentifier.exists(_.table == table)) match {
      case Seq(s) => s
      case ss => fail(s"expected one scan of $table, found ${ss.size}")
    }
  }

  /** Assert the executed `df` read exactly the codes files of the
    * buckets `cells` hash to, and fewer than all of the index's files. */
  def assertReadsOnlyCells(spark: SparkSession, df: DataFrame, path: String,
      cells: Set[Int]): Unit = {
    val read = codesScan(spark, df, path).inputRDD.partitions.toSeq
      .flatMap { case p: FilePartition => p.files.map(_.toPath.getName).toSeq }.toSet
    val l = BucketedStore.layout(spark, Similarity.indexTable(spark, path))
    import spark.implicits._
    val buckets = cells.toSeq.toDF("cell")
      .select(pmod(hash(col("cell")), lit(l.buckets))).as[Int].collect().toSet
    val all = new java.io.File(l.location.toUri).listFiles().map(_.getName)
      .filter(_.endsWith(".parquet")).toSet
    val probed = all.filter(f => BucketingUtils.getBucketId(f).exists(buckets))
    assert(read === probed, s"cells $cells hash to buckets $buckets")
    assert(probed.size < all.size, s"cells $cells cover every one of ${all.size} files")
  }
}
