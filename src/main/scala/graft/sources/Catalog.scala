package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session-catalog surface (reference: /root/reference/src/catalog/
  * mod.rs:1 — schemas, tables, indexes). graft maps schemas/tables to
  * Spark's session catalog views and index support to bucketed layout
  * (see BucketedStore).
  */
object Catalog {

  /** Register every test table of `dir` as a temp view `prefix<name>`. */
  def registerAll(spark: SparkSession, dir: String, prefix: String = ""): Unit =
    Tables.all.foreach { n =>
      Tables.load(spark, dir, n).createOrReplaceTempView(prefix + n)
    }

  /** SQL over the registered catalog (the keenwa sql-frontend analog). */
  def sql(spark: SparkSession, dir: String, query: String): DataFrame = {
    registerAll(spark, dir)
    spark.sql(query)
  }
}
