package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{MediaDedup, Multimodal}

/** The perceptual fingerprint store (incremental media dedup) and the
  * chunk-blocked hamming join's completeness/valve guarantees, on
  * constructed fingerprints (no media decode — the store operates on
  * (doc_id, hash_hi, hash_lo) whatever modality produced them).
  */
class MediaDedupSpec extends AnyFunSuite {
  private lazy val spark = GraftTestSession.spark

  /** Sign-safe halves (m08's convention): hi/lo each in [0, 2^32). */
  private def fps(rows: (Long, (Long, Long))*) = {
    import spark.implicits._
    rows.map { case (id, (hi, lo)) => (id, hi, lo) }
      .toDF("doc_id", "hash_hi", "hash_lo")
  }

  private def flip(h: (Long, Long), bits: Int*): (Long, Long) =
    bits.foldLeft(h) { case ((hi, lo), k) =>
      if (k < 32) (hi, lo ^ (1L << k)) else (hi ^ (1L << (k - 32)), lo)
    }

  private val h1 = (0x9e3779b9L, 0x7f4a7c15L)
  private val h3 = (0x243f6a88L, 0x85a308d3L)

  private def dropStore(name: String): Unit =
    Seq("_fpblocks", "_fps", "_fpdial", "_tombstones", "_labels", "_remap")
      .foreach(s => spark.sql(s"DROP TABLE IF EXISTS $name$s"))

  private def classify(name: String, batch: org.apache.spark.sql.DataFrame,
      maxHamming: Int) =
    MediaDedup.fingerprintStore(name, maxHamming).ingest(spark, batch)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap

  test("fingerprint store: classify via store equals truth; store side reads with zero exchange") {
    try {
      MediaDedup.writeFingerprintStore(spark, "fpstore",
        fps(1L -> h1, 3L -> h3), 6)
      val got = MediaDedup.fingerprintStore("fpstore", 6).matches(spark,
        fps(2L -> flip(h1, 5, 40), 5L -> flip(h3, 0, 1, 2, 3, 4, 5, 6, 7)))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got === Set((2L, 1L, 2L))) // doc 5 is 8 bits from h3: out
      // the store side of the skey join must not shuffle — the
      // bucketed write WAS its exchange
      val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      try {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        val bk = Multimodal.hammingBlockKeys(fps(9L -> flip(h1, 11)), 6)
          .select(xxhash64(col("j"), col("bk")).as("skey"), col("doc_id"))
        val j = bk.join(spark.table("fpstore_fpblocks"), "skey")
        j.collect()
        val plan = j.queryExecution.executedPlan.toString
          .split("== Initial Plan ==").head
        val storeSide = plan.linesIterator
          .dropWhile(!_.contains("SortMergeJoin")).drop(1)
          .filterNot(_.trim.startsWith(":")).mkString("\n")
        assert(storeSide.contains("Bucketed: true"), plan)
        assert(!storeSide.contains("Exchange"),
          s"store side must not re-shuffle:\n$plan")
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    } finally dropStore("fpstore")
  }

  test("fingerprint ingest: uniques append and chain; crash-replay is idempotent") {
    val hNew = (0x452821e6L, 0x38d01377L)
    try {
      MediaDedup.writeFingerprintStore(spark, "fpapp",
        fps(1L -> h1, 3L -> h3), 6)
      val n0 = spark.table("fpapp_fps").count()
      val batch = fps(10L -> hNew, 11L -> flip(h1, 17))
      val b1 = classify("fpapp", batch, 6)
      assert(b1(10L) === (("unique", -1L)))
      assert(b1(11L) === (("near", 1L)))
      assert(spark.table("fpapp_fps").count() === n0 + 1) // only the unique
      // batch 2 near-dups BATCH 1's unique — visible only via the append
      val b2 = classify("fpapp", fps(20L -> flip(hNew, 3, 44)), 6)
      assert(b2(20L) === (("near", 10L)))
      // crash-replay: batch 1's fps are IN the store; without the
      // self-match guard doc 10 would flip to ("near", 10)
      val retry = classify("fpapp", batch, 6)
      assert(retry === b1, s"retry must be idempotent: $retry vs $b1")
      // still just doc 10: the replayed unique must not land twice,
      // and "near" docs (11, 20) never enter the store
      assert(spark.table("fpapp_fps").count() === n0 + 1)
    } finally dropStore("fpapp")
  }

  test("fingerprint delete + compact: retired id stops matching, rows reclaimed, id stays dead") {
    import spark.implicits._
    try {
      MediaDedup.writeFingerprintStore(spark, "fpdel",
        fps(1L -> h1, 3L -> h3), 6)
      assert(classify("fpdel", fps(2L -> flip(h1, 9)), 6)(2L) === (("near", 1L)))
      MediaDedup.fingerprintStore("fpdel", 6).delete(spark,
        Seq(1L, 2L).toDF("doc_id"))
      // retired ids no longer match; 4 lands as a fresh unique
      assert(classify("fpdel", fps(4L -> flip(h1, 21)), 6)(4L) === (("unique", -1L)))
      val before = spark.table("fpdel_fps").as[(Long, Long, Long)]
        .collect().map(_._1).toSet
      // doc 2 classified "near" so never entered; 1 is lazily
      // deleted — still on disk until compaction
      assert(before === Set(1L, 3L, 4L))
      MediaDedup.fingerprintStore("fpdel", 6).compact(spark)
      val after = spark.table("fpdel_fps").as[(Long, Long, Long)]
        .collect().map(_._1).toSet
      assert(after === Set(3L, 4L)) // reclaimed physically
      // suppression list: a crash-replayed batch cannot resurrect id 1
      val replay = classify("fpdel", fps(1L -> h1), 6)
      assert(replay(1L)._1 === "near") // matches 4 (2 bits away) ...
      assert(!spark.table("fpdel_fps").as[(Long, Long, Long)]
        .collect().map(_._1).contains(1L)) // ... but never re-enters
    } finally dropStore("fpdel")
  }

  test("fingerprint store dial: probing with the other scheme tier fails fast") {
    try {
      MediaDedup.writeFingerprintStore(spark, "fpdial", fps(1L -> h1), 6)
      val e = intercept[IllegalArgumentException] {
        MediaDedup.fingerprintStore("fpdial", 2).matches(spark,
          fps(2L -> flip(h1, 4)))
      }
      assert(e.getMessage.contains("scheme"))
    } finally dropStore("fpdial")
  }

  test("blocking completeness: every <=h-flip copy shares a key with its base (both tiers)") {
    val rng = new scala.util.Random(42)
    def randHalf() = rng.nextLong() & 0xffffffffL
    val bases = (0L until 200L).map(i => i -> ((randHalf(), randHalf())))
    for ((tier, hmax) <- Seq(("pairs16", 6), ("chunks21", 2))) {
      val copies = bases.map { case (i, h) =>
        val bits = rng.shuffle((0 until 64).toList).take(hmax)
        (i + 1000L) -> flip(h, bits: _*)
      }
      val keys = Multimodal.hammingBlockKeys(fps((bases ++ copies): _*), hmax)
      val a = keys.filter(col("doc_id") < 1000)
        .select(col("doc_id").as("ida"), col("j"), col("bk"))
      val b = keys.filter(col("doc_id") >= 1000)
        .select((col("doc_id") - 1000L).as("ida"), col("j"), col("bk"))
      val found = a.join(b, Seq("ida", "j", "bk"))
        .select("ida").distinct().count()
      assert(found === bases.size.toLong,
        s"$tier: ${bases.size - found} of ${bases.size} <=$hmax-flip copies lost by blocking")
    }
  }

  test("streaming media dedup: batch 2 near-dups against batch 1's appended uniques; retry-idempotent sink layout") {
    import spark.implicits._
    import java.nio.file.Files
    val hNew = (0x452821e6L, 0x38d01377L)
    def addFile(src: java.nio.file.Path, name: String,
        rows: Seq[(Long, Long, Long)]): Unit = {
      val stage = Files.createTempDirectory("graft-mstream-stage")
      rows.toDF("doc_id", "hash_hi", "hash_lo")
        .coalesce(1).write.mode("overwrite").parquet(stage.toString)
      val part = new java.io.File(stage.toString).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath, src.resolve(name))
    }
    def row(id: Long, h: (Long, Long)) = (id, h._1, h._2)
    MediaDedup.writeFingerprintStore(spark, "fpstream", fps(1L -> h1), 6)
    try {
      val src = Files.createTempDirectory("graft-mstream-src")
      val out = Files.createTempDirectory("graft-mstream-out").toString
      val ckpt = Files.createTempDirectory("graft-mstream-ckpt").toString
      // micro-batch 1: doc 10 brand new, doc 11 near-dups the corpus
      addFile(src, "b1.parquet", Seq(row(10L, hNew), row(11L, flip(h1, 7))))
      val stream = spark.readStream
        .schema("doc_id LONG, hash_hi LONG, hash_lo LONG")
        .parquet(src.toString)
      val q = graft.streaming.MediaDedupStream
        .start("fpstream", stream, 6, out, ckpt)
      try {
        q.processAllAvailable()
        // micro-batch 2: doc 20 near-dups BATCH 1's doc 10 — only
        // visible through the per-batch store append
        addFile(src, "b2.parquet", Seq(row(20L, flip(hNew, 2, 50))))
        q.processAllAvailable()
      } finally q.stop()
      val got = spark.read.parquet(out)
        .select(col("doc_id"), col("status"), col("match_id"),
          col("micro_batch").cast("long"))
        .collect().map(r => r.getLong(0) ->
          ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
      assert(got(10L) === (("unique", -1L, 0L)))
      assert(got(11L) === (("near", 1L, 0L)))
      assert(got(20L) === (("near", 10L, 1L)))
      val partDirs = new java.io.File(out).listFiles()
        .filter(_.isDirectory).map(_.getName).sorted
      assert(partDirs.toSeq === Seq("micro_batch=0", "micro_batch=1"))
    } finally dropStore("fpstream")
  }

  test("labeled fingerprint ingest: attach joins existing cluster; a bridging batch doc merges clusters via remap only") {
    // hB is 10 bits from h1 (separate clusters at hamming <= 6); the
    // bridge x is 5 bits from EACH
    val x = flip(h1, 1, 8, 20, 33, 47)
    val hB = flip(x, 2, 9, 21, 34, 48)
    try {
      val corpus = fps(1L -> h1, 3L -> flip(h1, 11), 40L -> hB, 5L ->
        (0x13198a2eL, 0x03707344L))
      MediaDedup.writeFingerprintStore(spark, "fplbl", corpus, 6)
      MediaDedup.writeFingerprintLabelStore(spark, "fplbl", corpus, 6)
      // init truth: {1,3} cluster at root 1; 40 and 5 singletons
      val init = graft.operators.Dedup.clusterLabels(spark, "fplbl")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(init === Map(1L -> 1L, 3L -> 1L, 40L -> 40L, 5L -> 5L))
      // attach: near doc joins the existing cluster
      val a = MediaDedup.fingerprintStore("fplbl", 6).ingestLabeled(spark,
          fps(10L -> flip(h1, 2)))
        .collect().map(r => r.getLong(0) ->
          ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
      assert(a(10L) === (("near", 1L, 1L)))
      // bridge: doc 20 matches BOTH clusters -> 40's cluster merges
      // into root 1 by a remap row, labels never rewritten
      val b = MediaDedup.fingerprintStore("fplbl", 6).ingestLabeled(spark,
          fps(20L -> x))
        .collect().map(r => r.getLong(0) ->
          ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
      assert(b(20L)._1 === "near")
      assert(b(20L)._3 === 1L)
      val after = graft.operators.Dedup.clusterLabels(spark, "fplbl")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(after(40L) === 1L, s"bridged cluster must resolve to 1: $after")
      assert(after(20L) === 1L && after(10L) === 1L)
      // replay idempotence: the merge already happened, edges vanish
      val replay = MediaDedup.fingerprintStore("fplbl", 6).ingestLabeled(spark,
          fps(20L -> x))
        .collect().map(r => r.getLong(0) ->
          ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
      assert(replay === b, s"replay must be idempotent: $replay vs $b")
    } finally dropStore("fplbl")
  }

  test("streaming labeled media dedup: a batch-2 fingerprint joins the cluster a batch-1 doc founded") {
    import spark.implicits._
    import java.nio.file.Files
    val hNew = (0x452821e6L, 0x38d01377L)
    def addFile(src: java.nio.file.Path, name: String,
        rows: Seq[(Long, Long, Long)]): Unit = {
      val stage = Files.createTempDirectory("graft-mlstream-stage")
      rows.toDF("doc_id", "hash_hi", "hash_lo")
        .coalesce(1).write.mode("overwrite").parquet(stage.toString)
      val part = new java.io.File(stage.toString).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath, src.resolve(name))
    }
    val corpus = fps(1L -> h1)
    MediaDedup.writeFingerprintStore(spark, "fplstream", corpus, 6)
    MediaDedup.writeFingerprintLabelStore(spark, "fplstream", corpus, 6)
    try {
      val src = Files.createTempDirectory("graft-mlstream-src")
      val out = Files.createTempDirectory("graft-mlstream-out").toString
      val ckpt = Files.createTempDirectory("graft-mlstream-ckpt").toString
      // micro-batch 1: doc 10 unique — FOUNDS cluster 10
      addFile(src, "b1.parquet", Seq((10L, hNew._1, hNew._2)))
      val stream = spark.readStream
        .schema("doc_id LONG, hash_hi LONG, hash_lo LONG")
        .parquet(src.toString)
      val q = graft.streaming.MediaDedupStream
        .startLabeled("fplstream", stream, 6, out, ckpt)
      try {
        q.processAllAvailable()
        // micro-batch 2: doc 20 near-dups doc 10 — joins ITS cluster
        val h20 = flip(hNew, 2, 50)
        addFile(src, "b2.parquet", Seq((20L, h20._1, h20._2)))
        q.processAllAvailable()
      } finally q.stop()
      val got = spark.read.parquet(out)
        .select(col("doc_id"), col("status"), col("match_id"),
          col("cluster_id"))
        .collect().map(r => r.getLong(0) ->
          ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
      assert(got(10L) === (("unique", -1L, 10L)))
      assert(got(20L) === (("near", 10L, 10L)))
    } finally dropStore("fplstream")
  }

  test("fingerprint replay: two mutually-near uniques in one replayed batch classify identically") {
    // hC and hD are 4 bits apart (mutually near at <= 6) but both far
    // from the corpus: first run classifies BOTH unique and appends
    // both. A crash-replay then sees its own appended rows in the
    // store — the batch-wide corpus exclusion (not just self-id) must
    // keep them from reclassifying each other as 'near'.
    val hC = (0x452821e6L, 0x38d01377L)
    val hD = flip(hC, 3, 17, 40, 59)
    try {
      MediaDedup.writeFingerprintStore(spark, "fpmut", fps(1L -> h1), 6)
      val batch = fps(30L -> hC, 31L -> hD)
      val first = classify("fpmut", batch, 6)
      assert(first(30L) === (("unique", -1L)))
      assert(first(31L) === (("unique", -1L)))
      assert(spark.table("fpmut_fps").count() === 3L) // both appended
      val replay = classify("fpmut", batch, 6)
      assert(replay === first,
        s"replayed batch must be bit-identical: $replay vs $first")
      assert(spark.table("fpmut_fps").count() === 3L)
      // and the pair IS mutually near once split across batches — the
      // exclusion is scoped to the current batch, not the ids forever
      val later = classify("fpmut", fps(32L -> flip(hC, 1)), 6)
      assert(later(32L) === (("near", 30L)))
    } finally dropStore("fpmut")
  }

  // ---------- video-signature store (m15's machinery) ----------

  private def vframes(rows: (Long, Seq[Long])*) = {
    import spark.implicits._
    // frame hash f encoded as (hi = f / 1000, lo = f % 1000) — any
    // sign-safe halves work; equal f <=> equal (hi, lo)
    rows.flatMap { case (id, fs) => fs.map(f => (id, f / 1000L, f % 1000L)) }
      .toDF("doc_id", "hash_hi", "hash_lo")
  }

  private def dropVStore(name: String): Unit =
    Seq("_vframes", "_vdocs", "_tombstones")
      .foreach(s => spark.sql(s"DROP TABLE IF EXISTS $name$s"))

  private def vclassify(name: String, batch: org.apache.spark.sql.DataFrame,
      minShared: Int, maxDf: Int) =
    MediaDedup.videoStore(name, minShared, maxDf).ingest(spark, batch)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap

  test("video store: classify equals truth, uniques chain via append, replay idempotent (incl. mutually-near batch)") {
    try {
      MediaDedup.writeVideoSignatureStore(spark, "vst",
        vframes(1L -> Seq(1001, 1002, 1003, 1004), 3L -> Seq(3001, 3002, 3003)))
      // v10 shares 3 frames with v1 -> near; v11 all-new -> unique
      val batch = vframes(10L -> Seq(1001, 1002, 1003, 9001),
        11L -> Seq(4001, 4002, 4003))
      val b1 = vclassify("vst", batch, minShared = 3, maxDf = 50)
      assert(b1(10L) === (("near", 1L)))
      assert(b1(11L) === (("unique", -1L)))
      assert(spark.table("vst_vdocs").count() === 3L) // 1, 3, 11
      // chain: v20 shares batch-1's APPENDED v11 signature
      val b2 = vclassify("vst", vframes(20L -> Seq(4001, 4002, 4003)), 3, 50)
      assert(b2(20L) === (("near", 11L)))
      // crash-replay: v11's frames are in the store; the batch-wide
      // exclusion keeps v10/v11 classifying exactly as the first run
      val retry = vclassify("vst", batch, 3, 50)
      assert(retry === b1, s"retry must be idempotent: $retry vs $b1")
      assert(spark.table("vst_vdocs").count() === 3L)
      // mutually-near batch: v30/v31 share >= minShared frames with
      // each OTHER but not the store -> both unique; a replay must not
      // flip them to near against their own appended signatures
      val mut = vframes(30L -> Seq(5001, 5002, 5003),
        31L -> Seq(5001, 5002, 5003, 5004))
      val m1 = vclassify("vst", mut, 3, 50)
      assert(m1(30L) === (("unique", -1L)) && m1(31L) === (("unique", -1L)))
      val m2 = vclassify("vst", mut, 3, 50)
      assert(m2 === m1, s"mutually-near replay must be idempotent: $m2 vs $m1")
      // split across batches the pair IS near
      val later = vclassify("vst", vframes(32L -> Seq(5001, 5002, 5003)), 3, 50)
      assert(later(32L) === (("near", 30L)))
    } finally dropVStore("vst")
  }

  test("video store valve re-derives from store df: a hash gone hot through appends is valved out of later probes") {
    try {
      // X = frame 7007 in two corpus videos: df = 2 = maxDf -> passes
      MediaDedup.writeVideoSignatureStore(spark, "vdf",
        vframes(1L -> Seq(7007, 1001), 2L -> Seq(7007, 2001)))
      val p1 = vclassify("vdf", vframes(100L -> Seq(7007)),
        minShared = 1, maxDf = 2)
      assert(p1(100L) === (("near", 1L))) // X under the valve: matches
      // grow X's df THROUGH the store: v40 shares only X (1 < 2) ->
      // unique -> its signature (with X) appends; df(X) becomes 3
      val g = vclassify("vdf", vframes(40L -> Seq(7007, 4001)),
        minShared = 2, maxDf = 2)
      assert(g(40L) === (("unique", -1L)))
      // same probe as p1 now classifies unique: the valve re-derived
      // df(X) = 3 > 2 from the CURRENT store — a frozen build-time
      // keep list would still match
      val p2 = vclassify("vdf", vframes(101L -> Seq(7007)),
        minShared = 1, maxDf = 2)
      assert(p2(101L) === (("unique", -1L)),
        s"hot frame must be valved out of the grown corpus: $p2")
    } finally dropVStore("vdf")
  }

  test("video store: probe join and df count read the bucketed store with zero exchange") {
    try {
      MediaDedup.writeVideoSignatureStore(spark, "vplan",
        vframes(1L -> Seq(1001, 1002), 3L -> Seq(3001)))
      val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      try {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        // the OPERATOR's own candidate join: the store leg of the
        // single-key fkey SMJ must scan bucketed and never hash-
        // re-shuffle (the hash-equality verify rides as a non-equi
        // post-join condition, NOT join keys — a (fkey, hash) multi-
        // key join would re-shuffle the store; the only Exchange-like
        // line allowed in the leg is the batch-id replay guard's
        // BroadcastExchange, which moves batch ids, not store rows)
        val j = MediaDedup.videoStore("vplan", minShared = 2, maxDf = 50).matches(spark,
          vframes(9L -> Seq(1001, 1002, 9001)))
        j.collect()
        val plan = j.queryExecution.executedPlan.toString
          .split("== Initial Plan ==").head
        val lines = plan.linesIterator.toList
        val idx = lines.indexWhere(_.contains("SortMergeJoin"))
        assert(idx >= 0 && lines(idx)
            .matches(".*SortMergeJoin \\[fkey#\\d+L\\], \\[fkey#\\d+L\\].*"),
          s"candidate join must key on fkey ALONE:\n$plan")
        // right (store) leg = lines WITHOUT the SMJ's own ':' sidebar
        // at its child column (nested operators inside the leg print
        // their own sidebars further right — keep those)
        val sideCol = lines(idx + 1).indexOf(":-")
        val storeSide = lines.drop(idx + 1)
          .filter(l => l.length <= sideCol || l.charAt(sideCol) != ':')
          .mkString("\n")
        assert(storeSide.contains("Bucketed: true"), plan)
        assert(!storeSide.contains("Exchange hashpartitioning"),
          s"store side must not re-shuffle:\n$plan")
        // the valve's df count groups on (fkey, hash_hi, hash_lo) —
        // fkey is the bucket column, so the bucketed scan's
        // partitioning satisfies the aggregation: NO exchange at all
        val dfCount = spark.table("vplan_vframes")
          .groupBy(col("fkey"), col("hash_hi"), col("hash_lo"))
          .agg(count(lit(1)).as("df"))
        dfCount.collect()
        val aggPlan = dfCount.queryExecution.executedPlan.toString
          .split("== Initial Plan ==").head
        assert(!aggPlan.contains("Exchange"),
          s"store df count must be exchange-free:\n$aggPlan")
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    } finally dropVStore("vplan")
  }

  test("video store delete + compact: retired video stops matching, rows reclaimed, id stays dead") {
    import spark.implicits._
    try {
      MediaDedup.writeVideoSignatureStore(spark, "vdel",
        vframes(1L -> Seq(1001, 1002), 3L -> Seq(3001, 3002)))
      assert(vclassify("vdel", vframes(2L -> Seq(1001, 1002)), 2, 50)(2L)
        === (("near", 1L)))
      MediaDedup.videoStore("vdel", 2, 50).delete(spark,
        Seq(1L, 2L).toDF("doc_id"))
      // retired v1 no longer matches; v4 (same frames) lands fresh
      assert(vclassify("vdel", vframes(4L -> Seq(1001, 1002)), 2, 50)(4L)
        === (("unique", -1L)))
      MediaDedup.videoStore("vdel", 2, 50).compact(spark)
      val docs = spark.table("vdel_vdocs").as[Long].collect().toSet
      assert(docs === Set(3L, 4L)) // 1 reclaimed physically, 2 never entered
      // suppression: a crash-replayed v1 matches the NEW holder of its
      // frames but never re-enters the store
      val replay = vclassify("vdel", vframes(1L -> Seq(1001, 1002)), 2, 50)
      assert(replay(1L) === (("near", 4L)))
      assert(!spark.table("vdel_vdocs").as[Long].collect().contains(1L))
    } finally dropVStore("vdel")
  }

  test("streaming video dedup: batch 2 matches batch 1's appended signature; compaction cadence bounds store files") {
    import spark.implicits._
    import java.nio.file.Files
    def addFile(src: java.nio.file.Path, name: String,
        rows: Seq[(Long, Long, Long)]): Unit = {
      val stage = Files.createTempDirectory("graft-vstream-stage")
      rows.toDF("doc_id", "hash_hi", "hash_lo")
        .coalesce(1).write.mode("overwrite").parquet(stage.toString)
      val part = new java.io.File(stage.toString).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath, src.resolve(name))
    }
    def rows(id: Long, fs: Long*) = fs.map(f => (id, f / 1000L, f % 1000L))
    MediaDedup.writeVideoSignatureStore(spark, "vstream",
      vframes(1L -> Seq(1001, 1002, 1003)))
    try {
      val src = Files.createTempDirectory("graft-vstream-src")
      val out = Files.createTempDirectory("graft-vstream-out").toString
      val ckpt = Files.createTempDirectory("graft-vstream-ckpt").toString
      // micro-batch 1: v10 brand new -> unique + appended; v11 shares
      // all three corpus frames -> near
      addFile(src, "b1.parquet",
        rows(10L, 4001, 4002, 4003) ++ rows(11L, 1001, 1002, 1003))
      val stream = spark.readStream
        .schema("doc_id LONG, hash_hi LONG, hash_lo LONG")
        .parquet(src.toString)
      val q = graft.streaming.MediaDedupStream.startVideo(
        "vstream", stream, minShared = 3, maxDf = 50, out, ckpt,
        maxFilesPerBucket = Some(1))
      try {
        q.processAllAvailable()
        // micro-batch 2: v20 matches batch 1's appended v10
        addFile(src, "b2.parquet", rows(20L, 4001, 4002, 4003).toSeq)
        q.processAllAvailable()
      } finally q.stop()
      val got = spark.read.parquet(out)
        .select(col("doc_id"), col("status"), col("match_id"),
          col("micro_batch").cast("long"))
        .collect().map(r => r.getLong(0) ->
          ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
      assert(got(10L) === (("unique", -1L, 0L)))
      assert(got(11L) === (("near", 1L, 0L)))
      assert(got(20L) === (("near", 10L, 1L)))
      // compaction cadence held: both tables back to one file/bucket
      spark.catalog.refreshTable("vstream_vframes")
      spark.catalog.refreshTable("vstream_vdocs")
      val st = graft.sources.BucketedStore.stats(spark, "vstream_vframes")
      assert(st.files <= st.buckets)
    } finally dropVStore("vstream")
  }

  test("labeled video ingest: attach joins existing cluster; a bridging batch video merges clusters via remap only") {
    try {
      // two corpus clusters at minShared=3: {1,2} share A1-A3, {40,41}
      // share B1-B3
      val corpus = vframes(
        1L -> Seq(1001, 1002, 1003, 1101), 2L -> Seq(1001, 1002, 1003, 1201),
        40L -> Seq(4001, 4002, 4003, 4101), 41L -> Seq(4001, 4002, 4003, 4201))
      MediaDedup.writeVideoSignatureStore(spark, "vlbl", corpus)
      MediaDedup.writeVideoSignatureLabelStore(spark, "vlbl", corpus, 3, 50)
      val init = graft.operators.Dedup.clusterLabels(spark, "vlbl")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(init === Map(1L -> 1L, 2L -> 1L, 40L -> 40L, 41L -> 40L))
      // attach: near video joins the existing cluster
      val a = MediaDedup.videoStore("vlbl", 3, 50).ingestLabeled(spark,
          vframes(10L -> Seq(1001, 1002, 1003, 9001)))
        .collect().map(r => r.getLong(0) ->
          ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
      assert(a(10L) === (("near", 1L, 1L)))
      // bridge: video 20 shares 3 frames with BOTH clusters -> 40's
      // cluster merges into root 1 by a remap row only
      val b = MediaDedup.videoStore("vlbl", 3, 50).ingestLabeled(spark,
          vframes(20L -> Seq(1001, 1002, 1003, 4001, 4002, 4003)))
        .collect().map(r => r.getLong(0) ->
          ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
      assert(b(20L)._1 === "near")
      assert(b(20L)._3 === 1L)
      val after = graft.operators.Dedup.clusterLabels(spark, "vlbl")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(after(40L) === 1L && after(41L) === 1L, after.toString)
      assert(after(20L) === 1L && after(10L) === 1L)
      // replay idempotence: the merge already happened, edges vanish
      val replay = MediaDedup.videoStore("vlbl", 3, 50).ingestLabeled(spark,
          vframes(20L -> Seq(1001, 1002, 1003, 4001, 4002, 4003)))
        .collect().map(r => r.getLong(0) ->
          ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
      assert(replay === b, s"replay must be idempotent: $replay vs $b")
    } finally {
      dropVStore("vlbl")
      Seq("_labels", "_remap").foreach(s =>
        spark.sql(s"DROP TABLE IF EXISTS vlbl$s"))
    }
  }

  test("streaming labeled video dedup: a batch-2 video joins the cluster a batch-1 video founded; cadence bounds remap") {
    import spark.implicits._
    import java.nio.file.Files
    def addFile(src: java.nio.file.Path, name: String,
        rows: Seq[(Long, Long, Long)]): Unit = {
      val stage = Files.createTempDirectory("graft-vlstream-stage")
      rows.toDF("doc_id", "hash_hi", "hash_lo")
        .coalesce(1).write.mode("overwrite").parquet(stage.toString)
      val part = new java.io.File(stage.toString).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath, src.resolve(name))
    }
    def rows(id: Long, fs: Long*) = fs.map(f => (id, f / 1000L, f % 1000L))
    val corpus = vframes(1L -> Seq(1001, 1002, 1003))
    MediaDedup.writeVideoSignatureStore(spark, "vlstream", corpus)
    MediaDedup.writeVideoSignatureLabelStore(spark, "vlstream", corpus, 3, 50)
    try {
      val src = Files.createTempDirectory("graft-vlstream-src")
      val out = Files.createTempDirectory("graft-vlstream-out").toString
      val ckpt = Files.createTempDirectory("graft-vlstream-ckpt").toString
      // micro-batch 1: v10 unique — founds cluster 10
      addFile(src, "b1.parquet", rows(10L, 5001, 5002, 5003).toSeq)
      val stream = spark.readStream
        .schema("doc_id LONG, hash_hi LONG, hash_lo LONG")
        .parquet(src.toString)
      val q = graft.streaming.MediaDedupStream.startVideoLabeled(
        "vlstream", stream, minShared = 3, maxDf = 50, out, ckpt,
        maxFilesPerBucket = Some(1), maxRemapRows = 0L)
      try {
        q.processAllAvailable()
        // micro-batch 2: v20 shares v10's frames — joins ITS cluster
        addFile(src, "b2.parquet", rows(20L, 5001, 5002, 5003).toSeq)
        q.processAllAvailable()
      } finally q.stop()
      val got = spark.read.parquet(out)
        .select(col("doc_id"), col("status"), col("match_id"),
          col("cluster_id"))
        .collect().map(r => r.getLong(0) ->
          ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
      assert(got(10L) === (("unique", -1L, 10L)))
      assert(got(20L) === (("near", 10L, 10L)))
      spark.catalog.refreshTable("vlstream_remap")
      assert(spark.table("vlstream_remap").count() === 0L)
    } finally {
      dropVStore("vlstream")
      Seq("_labels", "_remap").foreach(s =>
        spark.sql(s"DROP TABLE IF EXISTS vlstream$s"))
    }
  }

  test("labeled media stream compaction cadence: files and remap stay bounded, labels unchanged") {
    import java.nio.file.Files
    import spark.implicits._
    // two separate corpus clusters; batch 1 bridges them (remap row),
    // batch 2 attaches. With maxFilesPerBucket=1 + maxRemapRows=0 the
    // cadence must fold the remap and re-land one file per bucket
    // after every batch — labels identical to the uncompacted run.
    val x = flip(h1, 1, 8, 20, 33, 47)
    val hB = flip(x, 2, 9, 21, 34, 48)
    def addFile(src: java.nio.file.Path, name: String,
        rows: Seq[(Long, Long, Long)]): Unit = {
      val stage = Files.createTempDirectory("graft-mcstream-stage")
      rows.toDF("doc_id", "hash_hi", "hash_lo")
        .coalesce(1).write.mode("overwrite").parquet(stage.toString)
      val part = new java.io.File(stage.toString).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath, src.resolve(name))
    }
    val corpus = fps(1L -> h1, 40L -> hB)
    MediaDedup.writeFingerprintStore(spark, "fpcad", corpus, 6)
    MediaDedup.writeFingerprintLabelStore(spark, "fpcad", corpus, 6)
    try {
      val src = Files.createTempDirectory("graft-mcstream-src")
      val out = Files.createTempDirectory("graft-mcstream-out").toString
      val ckpt = Files.createTempDirectory("graft-mcstream-ckpt").toString
      addFile(src, "b1.parquet", Seq((20L, x._1, x._2))) // bridge -> merge
      val stream = spark.readStream
        .schema("doc_id LONG, hash_hi LONG, hash_lo LONG")
        .parquet(src.toString)
      val q = graft.streaming.MediaDedupStream.startLabeled(
        "fpcad", stream, 6, out, ckpt,
        maxFilesPerBucket = Some(1), maxRemapRows = 0L)
      try {
        q.processAllAvailable()
        val h21 = flip(h1, 3)
        addFile(src, "b2.parquet", Seq((21L, h21._1, h21._2))) // attach
        q.processAllAvailable()
      } finally q.stop()
      // labels exactly as without compaction: the bridge merged 40
      // into root 1, the attach joined it
      val lab = graft.operators.Dedup.clusterLabels(spark, "fpcad")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(lab === Map(1L -> 1L, 40L -> 1L, 20L -> 1L, 21L -> 1L), lab.toString)
      // bounded growth: remap folded away, every store table back to
      // one file per bucket despite two appends
      spark.catalog.refreshTable("fpcad_remap")
      assert(spark.table("fpcad_remap").count() === 0L)
      for (t <- Seq("fpcad_labels", "fpcad_fpblocks", "fpcad_fps")) {
        spark.catalog.refreshTable(t)
        val st = graft.sources.BucketedStore.stats(spark, t)
        assert(st.files <= st.buckets, s"$t grew past one file per bucket")
      }
    } finally dropStore("fpcad")
  }

  test("stop-frame valve: a planted common frame cannot quadratically pair the corpus") {
    import spark.implicits._
    // 100 videos: each has one UNIQUE frame + the SAME black frame;
    // two true copies additionally share 3 frames
    val black = (0L, 0L)
    val unique = (0L until 100L).map(i => (i, 0x10000L + i, 0x200L + i))
    val blackRows = (0L until 100L).map(i => (i, black._1, black._2))
    val shared = for (i <- Seq(7L, 8L); f <- 1 to 3)
      yield (i, 0xabcL + f, 0xdefL + f)
    val frames = (unique ++ blackRows ++ shared)
      .toDF("doc_id", "hash_hi", "hash_lo")
    // valved: only the true copy pair survives (black frame df=100 > 10)
    val valved = Multimodal.sharedFrameSig(frames, 1, maxDf = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(valved.toSeq === Seq((7L, 8L, 3L)))
    // unvalved baseline: the black frame alone pairs ALL C(100,2) videos
    val unvalved = Multimodal.sharedFrameSig(frames, 1, maxDf = Int.MaxValue)
    assert(unvalved.count() === 100L * 99L / 2L)
  }
}
