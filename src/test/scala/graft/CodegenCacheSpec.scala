package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Search

/** Spark's compiled-class cache holds graft's working set: a query
  * shape compiled once is served from the cache after many other
  * compilations, where Spark's default of 100 entries evicted it and
  * every repeat compiled again.
  */
class CodegenCacheSpec extends AnyFunSuite {
  private lazy val spark = GraftTestSession.spark
  import spark.implicits._

  test("the session carries GraftSession's codegen cache size") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ===
      GraftSession.CodegenCacheEntries.toString)
  }

  test("a repeated search compiles nothing after 150 other compilations") {
    // the counters are JVM-wide: a background stream batch would count
    assert(spark.streams.active.isEmpty, spark.streams.active.map(_.name).mkString(", "))
    val table = "cc_postings"
    val path = Files.createTempDirectory("graft-codegen").toString + "/cc"
    try {
      val docs = Seq((1L, "a b c a b"), (2L, "b a b"), (3L, "c c c"), (4L, "a a a"))
        .toDF("doc_id", "text")
      Search.writePostingsStore(docs, path, table, nBuckets = 4)
      def search() = Search.rankedSearch(spark, table, Seq("a", "c"), 10)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val first = search()
      val before = Codegen.compiles()
      // an integral literal is inlined into the generated code, so each
      // multiplier is a class of its own
      (1 to 150).foreach(i => spark.range(10).select(col("id") * i).collect())
      val between = Codegen.compiles()
      assert(between - before >= 150, "the filler did not compile")
      assert(search() === first)
      assert(Codegen.compiles() === between,
        "the search's classes were evicted and compiled again")
    } finally Seq(table, s"${table}_docs", s"${table}_tombstones")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }
}
