package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.GraftSparkBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.types.{LongType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftTestSession.multiSplit
import graft.sources.{TableSet, Tables}

/** The session catalog: a table resolves once per session, each load is
  * a fresh relation, refresh re-resolves a replaced table, events adapts
  * to both footer generations, and an interactive one-split table plans
  * as a single partition.
  */
class TablesSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private lazy val spark = GraftTestSession.spark
  private val sf = GraftTestSession.sf
  import spark.implicits._

  /** Spark jobs `body` launches, counted by a listener. */
  private def jobsOf(body: => Unit): Int = {
    val n = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    GraftSparkBridge.waitListenerBus(spark.sparkContext, 10000)
    spark.sparkContext.addSparkListener(l)
    try {
      body
      GraftSparkBridge.waitListenerBus(spark.sparkContext, 10000)
      n.get
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("a second load of a table launches no Spark job") {
    val dir = Files.createTempDirectory("graft-tables-a").toString
    (1L to 50L).toDF("k").write.parquet(s"$dir/t.parquet")
    assert(jobsOf(Tables.load(spark, dir, "t")) >= 1,
      "the first load infers the schema")
    assert(jobsOf(Tables.load(spark, dir, "t")) === 0,
      "a resolved table must load with no listing or schema job")
  }

  test("a self-join of two loads of one table returns the uncached rows") {
    def selfJoin(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame) =
      a.join(b, a("n_regionkey") === b("n_regionkey") && a("n_nationkey") < b("n_nationkey"))
        .select(a("n_name"), b("n_name")).collect().map(r => (r.getString(0), r.getString(1)))
        .sorted.toSeq
    val path = s"$sf/nation.parquet"
    val want = selfJoin(spark.read.parquet(path), spark.read.parquet(path))
    assert(want.nonEmpty)
    assert(selfJoin(Tables.nation(spark, sf), Tables.nation(spark, sf)) === want)
  }

  test("refresh makes the next load see a table replaced in place") {
    val dir = Files.createTempDirectory("graft-tables-c").toString
    (1L to 3L).toDF("k").write.parquet(s"$dir/t.parquet")
    assert(Tables.load(spark, dir, "t").count() === 3L)
    (1L to 5L).map(k => (k, k * 2)).toDF("k", "v")
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    Tables.refresh(spark, dir, "t")
    val t = Tables.load(spark, dir, "t")
    assert(t.columns.toSeq === Seq("k", "v"), "the replaced table's new column")
    assert(t.agg(sum("k"), sum("v")).head() === org.apache.spark.sql.Row(15L, 30L))
  }

  test("events yields ts TIMESTAMP plus ts_ns BIGINT over both footer generations") {
    val micros = Seq(1700000000123456L, 1700000100000001L, 1L)
    def generation(unit: String): String = {
      val dir = Files.createTempDirectory(s"graft-tables-$unit").toString
      val schema = MessageTypeParser.parseMessageType(
        s"message events { required int64 user_id; required int64 ts (TIMESTAMP($unit,true)); }")
      val w = ExampleParquetWriter.builder(new Path(s"$dir/events.parquet"))
        .withType(schema).withConf(new Configuration).build()
      val rows = new SimpleGroupFactory(schema)
      try micros.zipWithIndex.foreach { case (us, i) =>
        w.write(rows.newGroup().append("user_id", i.toLong)
          .append("ts", if (unit == "NANOS") us * 1000L else us))
      } finally w.close()
      dir
    }
    val got = Seq("NANOS", "MICROS").map { unit =>
      val ev = Tables.events(spark, generation(unit))
      assert(ev.schema("ts").dataType === TimestampType, unit)
      assert(ev.schema("ts_ns").dataType === LongType, unit)
      ev.select(col("user_id"), unix_micros(col("ts")), col("ts_ns")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    }
    assert(got.head === micros.zipWithIndex.map { case (us, i) => (i.toLong, us, us * 1000L) })
    assert(got(1) === got.head)
  }

  test("interactive groupBy: no shuffle over one split; several splits or a plain load keep it") {
    def shuffles(t: TableSet): Int = {
      val df = t.orders(spark, sf).groupBy("o_custkey").agg(count(lit(1)))
      df.collect()
      collect(df.queryExecution.executedPlan) { case e: ShuffleExchangeExec => e }.size
    }
    assert(shuffles(Tables.interactive) === 0)
    assert(multiSplit(shuffles(Tables.interactive)) >= 1)
    assert(shuffles(Tables) >= 1, "a plain load keeps the shuffle that spreads the work")
  }
}
