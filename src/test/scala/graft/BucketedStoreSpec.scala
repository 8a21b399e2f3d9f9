package graft

import java.nio.file.Files

import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, Search}
import graft.sources.{BucketedStore, Sinks}

/** The shared bucketed-store contract: aligned writes land at most one
  * file per bucket, a compaction interrupted at any point heals on the
  * next store operation with answers unchanged, and the catalog's sort
  * spec survives append + compaction.
  */
class BucketedStoreSpec extends AnyFunSuite {
  private lazy val spark = GraftTestSession.spark
  import spark.implicits._

  /** Seeded corpus: `n` docs of 20 words over a 150-word vocabulary. */
  private def corpus(ids: Range, seed: Int): Seq[(Long, String)] = {
    val rnd = new scala.util.Random(seed)
    ids.map(i => i.toLong -> Seq.fill(20)(s"w${rnd.nextInt(150)}").mkString(" "))
  }
  /** `text` with its last word replaced — a near-duplicate at
    * 3-shingle jaccard 17/19. */
  private def nearOf(text: String): String =
    text.split(" ").updated(19, "edited").mkString(" ")

  private val seedDocs = corpus(1 to 40, 7)
  private val batch1 = corpus(100 to 119, 8)
  private val batch2 = corpus(200 to 209, 9) ++
    seedDocs.take(5).map { case (i, t) => (i + 300L, nearOf(t)) } ++
    batch1.take(3).map { case (i, t) => (i + 400L, nearOf(t)) }

  private def df(rows: Seq[(Long, String)]): DataFrame =
    rows.toDF("doc_id", "text").repartition(4)

  private def dropAll(sig: String, post: String): Unit =
    Seq(s"${sig}_bands", s"${sig}_shingles", post, s"${post}_docs")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))

  test("one append adds at most `buckets` files per store table") {
    val post = Files.createTempDirectory("graft-bs-a").toString + "/post"
    try {
      Dedup.writeSignatureStore(df(seedDocs), "bsa_sig", 4)
      Search.writePostingsStore(df(seedDocs), post, "bsa_post", nBuckets = 4)
      val tables = Seq("bsa_sig_bands", "bsa_sig_shingles", "bsa_post", "bsa_post_docs")
      def files() = tables.map(t => t -> BucketedStore.stats(spark, t).files).toMap
      val before = files()
      // a four-partition batch: unaligned, each task writes its own
      // file for every bucket it holds rows of
      Dedup.signatureStore("bsa_sig", 0.5).ingest(spark, df(batch1))
      Search.appendToPostingsStore(df(batch1), "bsa_post")
      val after = files()
      for (t <- tables) {
        val added = after(t) - before(t)
        assert(added > 0 && added <= 4, s"$t: one append added $added files for 4 buckets")
        assert(BucketedStore.stats(spark, t).filesPerBucket <= 2, t)
      }
    } finally dropAll("bsa_sig", "bsa_post")
  }

  /** Build both stores from the seed corpus and ingest batch 1; `crash`
    * then leaves its state on disk; batch 2 is the next store
    * operation. Returns batch 2's classification and a ranked search. */
  private def episode(tag: String)(crash: Seq[String] => Unit): (Set[(Long, String, Long)], Seq[(Long, Double)]) = {
    val sig = s"bsc_${tag}_sig"
    val post = s"bsc_${tag}_post"
    val path = Files.createTempDirectory("graft-bs-c").toString + "/post"
    try {
      Dedup.writeSignatureStore(df(seedDocs), sig, 4)
      Search.writePostingsStore(df(seedDocs), path, post, nBuckets = 4)
      Dedup.signatureStore(sig, 0.5).ingest(spark, df(batch1)).collect()
      Search.appendToPostingsStore(df(batch1), post)
      crash(Seq(s"${sig}_bands", s"${sig}_shingles", post, s"${post}_docs"))
      val classified = Dedup.signatureStore(sig, 0.5).ingest(spark, df(batch2))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      Search.appendToPostingsStore(df(batch2), post)
      val ranked = Search.rankedSearch(spark, post, Seq("w3", "w17", "edited"), 10)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      // every crash leftover is gone once a writer has run
      for (t <- Seq(s"${sig}_bands", post)) {
        val loc = BucketedStore.layout(spark, t).location
        val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val (tmp, old) = BucketedStore.swapPaths(loc, "compact")
        assert(fs.exists(loc) && !fs.exists(tmp) && !fs.exists(old), s"$tag: $t")
      }
      (classified, ranked)
    } finally dropAll(sig, post)
  }

  test("compaction crash states heal on the next store operation, answers unchanged") {
    val conf = spark.sparkContext.hadoopConfiguration
    def locs(tables: Seq[String]) = tables.map { t =>
      val loc = BucketedStore.layout(spark, t).location
      val (tmp, old) = BucketedStore.swapPaths(loc, "compact")
      (loc.getFileSystem(conf), loc, tmp, old)
    }
    def copy(fs: org.apache.hadoop.fs.FileSystem, from: Path, to: Path) =
      assert(FileUtil.copy(fs, from, fs, to, false, conf))
    val clean = episode("clean")(_ => ())
    assert(clean._1.count(_._2 == "near") === 8, clean._1.toString)
    assert(clean._2.nonEmpty)
    // died between the two renames: tmp fully written, dir renamed to
    // old, the second rename lost — the store directory is missing
    val betweenRenames = episode("between") { ts =>
      for ((fs, loc, tmp, old) <- locs(ts)) {
        copy(fs, loc, tmp)
        assert(fs.rename(loc, old))
      }
    }
    // died after the swap but before cleanup: the compacted directory
    // is in place and the pre-swap copy is still beside it
    val afterSwap = episode("swapped") { ts =>
      val copies = locs(ts)
      val staged = copies.map { case (fs, loc, _, _) =>
        val s = new Path(s"${loc}_staged"); copy(fs, loc, s); s
      }
      Dedup.signatureStore(ts.head.stripSuffix("_bands"), 0.5).compact(spark)
      Search.compactPostingsStore(spark, ts(2))
      for (((fs, _, _, old), s) <- copies.zip(staged)) assert(fs.rename(s, old))
    }
    // a half-written tmp: one data file of the table, never swapped in
    val halfTmp = episode("half") { ts =>
      for ((fs, loc, tmp, _) <- locs(ts)) {
        val one = fs.listStatus(loc).find(_.getPath.getName.endsWith(".parquet")).get
        fs.mkdirs(tmp)
        copy(fs, one.getPath, new Path(tmp, one.getPath.getName))
      }
    }
    assert(betweenRenames === clean)
    assert(afterSwap === clean)
    assert(halfTmp === clean)
  }

  test("the postings sort spec (word, doc_id, pos) survives append and compaction") {
    val path = Files.createTempDirectory("graft-bs-s").toString + "/post"
    try {
      Search.writePostingsStore(df(seedDocs), path, "bss_post", nBuckets = 4)
      Search.appendToPostingsStore(df(batch1), "bss_post")
      // a posting's rank in its word's list needs (word, doc_id, pos)
      // order within word-clustered rows: a sorted one-file bucket
      // provides both, so the plan needs neither Sort nor Exchange
      def plan(): String = {
        val q = Search.readPostings(spark, "bss_post").withColumn("rank",
          row_number().over(Window.partitionBy("word").orderBy("doc_id", "pos")))
        q.collect()
        q.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
      }
      Sinks.withSortedBucketScan(spark) {
        assert(plan().contains("Sort"), "two files per bucket: order not guaranteed")
        Search.compactPostingsStore(spark, "bss_post")
        val compacted = plan()
        assert("\\bSort\\b".r.findFirstIn(compacted).isEmpty &&
          !compacted.contains("Exchange"), compacted)
      }
      assert(BucketedStore.layout(spark, "bss_post").sortCols === Seq("word", "doc_id", "pos"))
      assert(BucketedStore.layout(spark, "bss_post").location.toString.endsWith("/post"),
        "compaction keeps the store's build path")
    } finally dropAll("bss_sig", "bss_post")
  }
}
