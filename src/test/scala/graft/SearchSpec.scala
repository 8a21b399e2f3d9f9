package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Search

/** Constructed-frame semantics + stored-index plan shape for the
  * inverted-index family (ix01/ix02 cover sf-data parity).
  */
class SearchSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private lazy val spark = GraftTestSession.spark
  import spark.implicits._

  private def docs = Seq(
    (1L, "a b c a b"),
    (2L, "b a  b"), // double space: positions stable, no phantom token
    (3L, "c c c"),
    (4L, "a a a")
  ).toDF("doc_id", "text")

  test("postings: raw-stream positions survive repeated separators") {
    val got = Search.postings(docs).filter(col("doc_id") === 2L)
      .collect().map(r => (r.getString(0), r.getLong(2))).toSet
    // split of "b a  b" = [b, a, "", b] — empty dropped, pos 3 kept
    assert(got === Set(("b", 0L), ("a", 1L), ("b", 3L)))
  }

  test("conjunctiveSearch: ALL terms required, duplicates don't double-count") {
    val p = Search.postings(docs)
    assert(Search.conjunctiveSearch(p, Seq("a", "b")).collect()
      .map(_.getLong(0)).toSet === Set(1L, 2L))
    assert(Search.conjunctiveSearch(p, Seq("a", "b", "c")).collect()
      .map(_.getLong(0)).toSet === Set(1L))
  }

  test("phraseSearch: anchor trick counts overlapping hits of a repeated-word phrase") {
    val p = Search.postings(docs)
    // "a a" in doc 4 ("a a a"): anchors 0 and 1 — overlapping hits
    assert(Search.phraseSearch(p, Seq("a", "a")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap === Map(4L -> 2L))
    // "a b" occurs twice in doc 1; doc 2's a..b gap (pos 1→3) is NOT
    // adjacent in the raw stream, so it must not match
    assert(Search.phraseSearch(p, Seq("a", "b")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap === Map(1L -> 2L))
  }

  test("stored postings: term lookup prunes buckets; store side of the query reads bucketed") {
    val path = Files.createTempDirectory("graft-postings").toString + "/ix"
    try {
      Search.writePostingsStore(docs, path, "b_postings", nBuckets = 8)
      val q = Search.conjunctiveSearch(
        spark.table("b_postings"), Seq("a", "b"))
      assert(q.collect().map(_.getLong(0)).toSet === Set(1L, 2L))
      val plan = q.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      assert(plan.contains("Bucketed: true"), plan)
      // bucket pruning: the scan must read only the buckets 'a' and
      // 'b' hash to, not all 8
      val sel = "SelectedBucketsCount: (\\d+) out of 8".r
        .findFirstMatchIn(plan)
      assert(sel.nonEmpty, s"no bucket pruning in plan:\n$plan")
      assert(sel.get.group(1).toInt <= 2, plan)
    } finally dropStore("b_postings")
  }

  private def dropStore(table: String): Unit =
    Seq(table, s"${table}_docs", s"${table}_tombstones")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))

  private def storeFiles(table: String): Int =
    graft.sources.BucketedStore.stats(spark, table).files

  test("rankedSearch: store-served BM25 equals the direct scorer and tracks maintenance") {
    val path = Files.createTempDirectory("graft-postings").toString + "/rk"
    try {
      Search.writePostingsStore(docs.filter(col("doc_id") <= 2L),
        path, "r_postings", nBuckets = 4)
      // registry carries dl = token count of the SAME tokenization
      assert(spark.table("r_postings_docs").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap === Map(1L -> 5L, 2L -> 3L))
      Search.appendToPostingsStore(docs.filter(col("doc_id") > 2L), "r_postings")
      def served = Search.rankedSearch(spark, "r_postings", Seq("a", "c"), 10)
        .collect().map(r => (r.getLong(0), r.getDouble(1)))
      // equals bm25Rank over the live corpus computed directly
      val direct = Search.bm25Rank(Search.postings(docs),
        docs.select(col("doc_id"),
          size(split(trim(col("text")), " +")).cast("bigint").as("dl")),
        Seq("a", "c"), 10).collect().map(r => (r.getLong(0), r.getDouble(1)))
      assert(served.toSeq === direct.toSeq)
      // doc 3 is all-c: top hit for 'c'; retire it and the ranking,
      // df AND corpus stats all shift — N drops, so scores move too
      assert(served.head._1 === 3L)
      Search.deleteFromPostingsStore(spark, "r_postings", Seq(3L).toDF("doc_id"))
      val after = Search.rankedSearch(spark, "r_postings", Seq("a", "c"), 10)
        .collect().map(r => (r.getLong(0), r.getDouble(1)))
      assert(!after.map(_._1).contains(3L))
      val expectAfter = Search.bm25Rank(
        Search.postings(docs.filter(col("doc_id") =!= 3L)),
        docs.filter(col("doc_id") =!= 3L).select(col("doc_id"),
          size(split(trim(col("text")), " +")).cast("bigint").as("dl")),
        Seq("a", "c"), 10).collect().map(r => (r.getLong(0), r.getDouble(1)))
      assert(after.toSeq === expectAfter.toSeq)
    } finally dropStore("r_postings")
  }

  test("rankedSearch reads the postings once: df comes from the tf scan's word partitioning") {
    val path = Files.createTempDirectory("graft-postings").toString + "/sc"
    try {
      Search.writePostingsStore(docs.filter(col("doc_id") <= 2L),
        path, "s_postings", nBuckets = 4)
      Search.appendToPostingsStore(docs.filter(col("doc_id") > 2L), "s_postings")
      /** Postings scans in the executed (AQE final) plan, and the ranking. */
      def served() = {
        val q = Search.rankedSearch(spark, "s_postings", Seq("a", "c"), 10)
        val ranked = q.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
        val scans = collect(q.queryExecution.executedPlan) {
          case s: FileSourceScanExec
              if s.relation.location.rootPaths.exists(_.toString.endsWith(path)) => s
        }
        (scans.size, ranked)
      }
      def direct(live: org.apache.spark.sql.DataFrame) =
        Search.bm25Rank(Search.postings(live),
          live.select(col("doc_id"),
            size(split(trim(col("text")), " +")).cast("bigint").as("dl")),
          Seq("a", "c"), 10).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(served() === (1, direct(docs)))
      // a tombstone adds an anti-join above the scan, not a second read
      Search.deleteFromPostingsStore(spark, "s_postings", Seq(3L).toDF("doc_id"))
      assert(served() === (1, direct(docs.filter(col("doc_id") =!= 3L))))
    } finally dropStore("s_postings")
  }

  test("postings store maintenance: append / tombstone / compact keep queries exact") {
    val path = Files.createTempDirectory("graft-postings").toString + "/mx"
    try {
      Search.writePostingsStore(docs.filter(col("doc_id") <= 2L),
        path, "m_postings", nBuckets = 4)
      // --- append: docs 3,4 land; queries see them through the store
      Search.appendToPostingsStore(docs.filter(col("doc_id") > 2L), "m_postings")
      def conj(terms: String*) =
        Search.conjunctiveSearch(Search.readPostings(spark, "m_postings"),
          terms).collect().map(_.getLong(0)).toSet
      assert(conj("c") === Set(1L, 3L))
      assert(conj("a", "b") === Set(1L, 2L))
      // replayed append is a no-op (registry anti-join)
      val nRows = spark.table("m_postings").count()
      Search.appendToPostingsStore(docs, "m_postings")
      assert(spark.table("m_postings").count() === nRows)
      // --- tombstone doc 1: every read path excludes it
      import spark.implicits._
      Search.deleteFromPostingsStore(spark, "m_postings",
        Seq(1L).toDF("doc_id"))
      assert(conj("c") === Set(3L))
      assert(Search.phraseSearch(Search.readPostings(spark, "m_postings"),
        Seq("a", "b")).collect().map(_.getLong(0)).toSet === Set.empty[Long])
      // a replayed append cannot resurrect the retired doc
      Search.appendToPostingsStore(docs.filter(col("doc_id") === 1L), "m_postings")
      assert(conj("c") === Set(3L))
      // --- compact: ONE file per non-empty bucket again (empty
      //     buckets write no file), tombstoned rows physically gone,
      //     queries unchanged, pruning intact
      val before = storeFiles("m_postings")
      Search.compactPostingsStore(spark, "m_postings")
      val nonEmpty = spark.table("m_postings")
        .select(pmod(hash(col("word")), lit(4))).distinct().count().toInt
      assert(storeFiles("m_postings") === nonEmpty)
      assert(storeFiles("m_postings") <= before)
      val docBuckets = spark.table("m_postings_docs")
        .select(pmod(hash(col("doc_id")), lit(4))).distinct().count().toInt
      assert(storeFiles("m_postings_docs") === docBuckets)
      assert(spark.table("m_postings")
        .filter(col("doc_id") === 1L).isEmpty)
      assert(conj("c") === Set(3L) && conj("a") === Set(2L, 4L))
      val q = Search.conjunctiveSearch(
        Search.readPostings(spark, "m_postings"), Seq("a"))
      q.collect()
      val plan = q.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      assert(plan.contains("Bucketed: true"), plan)
      assert("SelectedBucketsCount: (\\d+) out of 4".r
        .findFirstMatchIn(plan).exists(_.group(1).toInt <= 1), plan)
    } finally dropStore("m_postings")
  }
}
