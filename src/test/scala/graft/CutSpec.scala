package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Cut

/** A cut frame's size estimate: chained cut-and-join rounds (the
  * connected-components loop's shape, each round joining frames derived
  * from the previous cut) must not compound the planner's join-size
  * products from round to round. */
class CutSpec extends AnyFunSuite {
  private lazy val spark = GraftTestSession.spark
  import spark.implicits._

  /** Size estimate after `n` rounds of `Cut(prev ⋈ prev)`. */
  private def chainedRounds(n: Int): BigInt = {
    var df = Cut((0L until 8L).toDF("k").select(col("k"), (col("k") * 2).as("v")))
    for (_ <- 1 to n)
      df = Cut(df.join(df.select(col("k"), col("v").as("w")), "k")
        .select(col("k"), (col("v") + col("w")).as("v")))
    df.queryExecution.optimizedPlan.stats.sizeInBytes
  }

  test("chained cut-and-join rounds keep the size estimate bounded") {
    val cap = BigInt(spark.sessionState.conf.defaultSizeInBytes)
    assert(chainedRounds(10) <= cap, "local cuts compound the estimate")
    val sc = spark.sparkContext
    sc.setCheckpointDir(java.nio.file.Files.createTempDirectory("graft-cut").toString)
    try assert(chainedRounds(10) <= cap, "reliable cuts compound the estimate")
    finally sc.setCheckpointDir(null)
  }

  test("a cut frame under the cap keeps its estimate, so it still broadcasts") {
    val small = (0L until 8L).toDF("k")
    val cut = Cut(small)
    assert(cut.queryExecution.optimizedPlan.stats.sizeInBytes ===
      small.queryExecution.optimizedPlan.stats.sizeInBytes)
    val j = (0L until 1000L).toDF("k").repartition(4).join(cut, "k")
    j.collect()
    assert(j.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"))
  }

  test("a cut frame reports the bytes its job measured, and a projection keeps them") {
    // a join's estimate is the product of its sides'; the cut's is
    // its 100 rows of two longs (8-byte null bitset + 2 × 8 bytes)
    val joined = (0L until 100L).toDF("k")
      .join((0L until 100L).toDF("k").select(col("k"), (col("k") * 2).as("v")), "k")
    def measured() = {
      val st = Cut(joined).queryExecution.optimizedPlan.stats
      (st.rowCount, st.sizeInBytes)
    }
    assert(measured() === (None, BigInt(100 * 24)), "local cut")
    val sc = spark.sparkContext
    sc.setCheckpointDir(java.nio.file.Files.createTempDirectory("graft-cut").toString)
    try assert(measured() === (None, BigInt(100 * 24)), "reliable cut")
    finally sc.setCheckpointDir(null)
    assert(Cut(joined.filter(col("k") < 0)).queryExecution.optimizedPlan.stats.sizeInBytes ===
      BigInt(1), "an empty cut")
    // 100 strings of 1000 characters: a same-width projection keeps the
    // measured bytes (with a row count, cost-based estimation would
    // size it as 100 rows × a 20-byte default string)
    val text = Cut((0L until 100L).toDF("k").select(col("k"), repeat(lit("x"), 1000).as("s")))
    val size = text.queryExecution.optimizedPlan.stats.sizeInBytes
    assert(size >= 100 * 1000)
    assert(text.select(col("s"), (col("k") + 1).as("k1"))
      .queryExecution.optimizedPlan.stats.sizeInBytes === size)
  }
}
