package graft

import java.nio.file.Files

import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.{DataFrame, GraftBridge}
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, Search}
import graft.sources.{BucketedStore, Sinks}

/** The shared bucketed-store contract: a batch-sized append is one
  * write task and larger writes are aligned, so either lands at most one
  * file per bucket; a compaction interrupted at any point heals on the
  * next store operation with answers unchanged; a replayed postings
  * append changes no answer; and the catalog's sort spec survives
  * append + compaction.
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

  /** Plans of executions that wrote a file-source table. */
  private def writes(run: JobProbe.Run): Seq[SparkPlanInfo] =
    run.last.filter(JobProbe.nodes(_).exists(_.nodeName.startsWith("Execute InsertInto")))

  /** Build the signature and postings stores on four buckets, run `body`,
    * and check every store table gained at most one file per bucket. */
  private def appendEpisode(tag: String)(body: (String, String) => Unit): Unit = {
    val (sig, post) = (s"${tag}_sig", s"${tag}_post")
    val path = Files.createTempDirectory("graft-bs-a").toString + "/post"
    try {
      Dedup.writeSignatureStore(df(seedDocs), sig, 4)
      Search.writePostingsStore(df(seedDocs), path, post, nBuckets = 4)
      val tables = Seq(s"${sig}_bands", s"${sig}_shingles", post, s"${post}_docs")
      def files() = tables.map(t => t -> BucketedStore.stats(spark, t).files).toMap
      val before = files()
      body(sig, post)
      val after = files()
      for (t <- tables) {
        val added = after(t) - before(t)
        assert(added > 0 && added <= 4, s"$t: one append added $added files for 4 buckets")
        assert(BucketedStore.stats(spark, t).filesPerBucket <= 2, t)
      }
    } finally dropAll(sig, post)
  }

  test("one append adds at most `buckets` files per store table") {
    appendEpisode("bsa") { (sig, post) =>
      // a four-partition batch, batch-sized: each table's append is one
      // write task, with no exchange between the batch and the writer
      val run = JobProbe(spark) {
        Dedup.signatureStore(sig, 0.5).ingest(spark, df(batch1))
        Search.appendToPostingsStore(df(batch1), post)
      }
      val ws = writes(run)
      assert(ws.size === 4, "one write per store table")
      for (w <- ws) assert(!JobProbe.nodes(w).exists(_.nodeName == "Exchange"),
        s"a batch-sized append plans no shuffle exchange: ${w.simpleString}")
      val writeStages = run.stages.filter(_.recordsWritten > 0)
      assert(writeStages.map(_.tasks) === Seq(1, 1, 1, 1), "each append is one write task")
    }
  }

  test("an append estimated above the one-partition shuffle size keeps the aligned exchange") {
    val key = "spark.sql.adaptive.coalescePartitions.minPartitionSize"
    appendEpisode("bsx") { (sig, post) =>
      spark.conf.set(key, "1")
      val run = try JobProbe(spark) {
        Dedup.signatureStore(sig, 0.5).ingest(spark, df(batch1))
        Search.appendToPostingsStore(df(batch1), post)
      } finally spark.conf.unset(key)
      val ws = writes(run)
      assert(ws.size === 4, "one write per store table")
      for (w <- ws) assert(JobProbe.nodes(w).exists(n => n.nodeName == "Exchange" &&
        n.simpleString.contains("pmod(hash(")), "the aligned write's bucket-id exchange")
    }
  }

  test("the one-task gate is the largest shuffle adaptive execution keeps in one partition") {
    val key = "spark.sql.adaptive.coalescePartitions.minPartitionSize"
    spark.conf.set(key, "64k")
    try {
      val gate = GraftBridge.onePartitionShuffleBytes(spark)
      assert(gate === 64 * 1024, "a multi-core session under parallelismFirst")
      /** Bytes an exchange of `n` hash strings shuffled (repartitioned
        * on a column, as the aligned write is), and the tasks that read
        * them after adaptive coalescing. */
      def shuffle(n: Int): (Long, Int) = {
        val run = JobProbe(spark) {
          spark.range(n).select(sha2(col("id").cast("string"), 512).as("h"))
            .repartition(col("h")).collect()
        }
        (run.stages.map(_.shuffleWriteBytes).sum,
          run.stages.filter(_.shuffleWriteBytes == 0).last.tasks)
      }
      val (small, smallTasks) = shuffle(200)
      val (large, largeTasks) = shuffle(4000)
      assert(small <= gate && large > 2 * gate, s"shuffles of $small and $large bytes")
      assert(smallTasks === 1 && largeTasks > 1, s"$smallTasks and $largeTasks read tasks")
    } finally spark.conf.unset(key)
  }

  test("a postings append replayed after its postings landed changes no search; compaction drops the duplicates") {
    val words = batch1.head._2.split(" ")
    val terms = words.take(3).toSeq
    val phrase = words.slice(4, 7).toSeq
    /** The store after batch 1, with its postings landed twice when
      * `crashed` (the first attempt died before its registry commit). */
    def store(tag: String, crashed: Boolean): String = {
      val post = s"bsr_${tag}_post"
      val path = Files.createTempDirectory("graft-bs-r").toString + "/post"
      Search.writePostingsStore(df(seedDocs), path, post, nBuckets = 4)
      if (crashed) BucketedStore.append(Search.postings(df(batch1)), post)
      Search.appendToPostingsStore(df(batch1), post)
      post
    }
    def answers(post: String) = (
      Search.rankedSearch(spark, post, terms, 10).collect().toSeq,
      Search.conjunctiveSearch(Search.readPostings(spark, post), terms)
        .collect().map(_.getLong(0)).toSet,
      Search.phraseSearch(Search.readPostings(spark, post), phrase)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toSet)
    def rows(post: String) = Search.readPostings(spark, post).count()
    // proximity counts each duplicate pair until compaction drops them
    def near(post: String) = Search.proximitySearch(Search.readPostings(spark, post),
      terms.distinct(0), terms.distinct(1), 30).collect().toSet
    try {
      val (clean, crashed) = (store("clean", crashed = false), store("crash", crashed = true))
      val batchPostings = Search.postings(df(batch1)).count()
      assert(rows(crashed) === rows(clean) + batchPostings, "the replay landed the postings twice")
      val want = answers(clean)
      assert(want._1.nonEmpty && want._2.contains(100L) && want._3.contains(100L -> 1L), want)
      assert(answers(crashed) === want)
      assert(near(clean).nonEmpty && near(crashed) != near(clean))
      Search.compactPostingsStore(spark, crashed)
      assert(rows(crashed) === rows(clean))
      assert(answers(crashed) === want)
      assert(near(crashed) === near(clean))
    } finally Seq("clean", "crash").foreach(t => dropAll("bsr_none", s"bsr_${t}_post"))
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
