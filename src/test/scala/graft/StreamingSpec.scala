package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{Event, Events}

/** Streaming twins must agree with their batch-parity operators. */
class StreamingSpec extends AnyFunSuite {
  private lazy val spark = GraftTestSession.spark
  private val sf = GraftTestSession.sf

  /** The parquet file-stream source requires a directory: stage the
    * single events.parquet into a temp dir.
    */
  private lazy val streamDir: String = {
    val dir = Files.createTempDirectory("graft-stream")
    Files.copy(Paths.get(s"$sf/events.parquet"),
      dir.resolve("events.parquet"), StandardCopyOption.REPLACE_EXISTING)
    dir.toString
  }

  test("streaming hourly agg equals batch q32 result") {
    val stream = Events.hourlyAgg(Events.readStream(spark, streamDir))
    val q = stream.writeStream.format("memory").queryName("hourly_out")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("hourly_out")
      .select("hour_start", "event_type", "n", "total_value")
      .collect().map(_.toSeq).toSet
    val batch = SparkEntry.queries("q32_events_window")(spark, sf)
      .collect().map(_.toSeq).toSet
    assert(streamed === batch)
  }

  test("checkpointed file stream restarts incrementally, no reprocessing") {
    val src = Files.createTempDirectory("graft-ckpt-src")
    val ckpt = Files.createTempDirectory("graft-ckpt").toString
    val out = Files.createTempDirectory("graft-ckpt-out").toString
    Files.copy(Paths.get(s"$sf/events.parquet"), src.resolve("part1.parquet"))

    def runOnce(): Unit = {
      val q = Events.readStream(spark, src.toString)
        .select(col("event_id"), col("user_id"), col("event_type"))
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt).outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }
    runOnce()
    val n1 = spark.read.parquet(out).count()
    assert(n1 === 1000) // sf0.001 events

    // new file arrives; restart from the same checkpoint
    Files.copy(Paths.get(s"$sf/events.parquet"), src.resolve("part2.parquet"))
    runOnce()
    val back = spark.read.parquet(out)
    assert(back.count() === 2000) // part1 not reprocessed, part2 appended
  }

  test("stream-static join enriches events with a dimension") {
    import spark.implicits._
    val dim = (0L until 25L).map(k => (k, s"cohort-$k")).toDF("cohort_id", "cohort_name")
    val enriched = Events.readStream(spark, streamDir)
      .withColumn("cohort_id", col("user_id") % 25)
      .join(dim, "cohort_id")
      .groupBy(col("cohort_name")).agg(count(lit(1)).as("n"))
    val q = enriched.writeStream.format("memory").queryName("cohort_out")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("cohort_out").collect().map(_.toSeq).toSet
    val batch = graft.sources.Tables.events(spark, sf)
      .withColumn("cohort_id", col("user_id") % 25)
      .join(dim, "cohort_id")
      .groupBy(col("cohort_name")).agg(count(lit(1)).as("n"))
      .collect().map(_.toSeq).toSet
    assert(streamed === batch)
  }

  test("stream-stream interval join: purchases to signups within 24h") {
    val purchases = Events.readStream(spark, streamDir)
      .filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id").as("p_user"), col("ts").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    val signups = Events.readStream(spark, streamDir)
      .filter(col("event_type") === "signup")
      .select(col("event_id").as("s_id"), col("user_id").as("s_user"), col("ts").as("s_ts"))
      .withWatermark("s_ts", "1 hour")
    val joined = purchases.join(signups,
      expr("""p_user = s_user AND s_ts BETWEEN p_ts - INTERVAL 24 HOURS AND p_ts"""))
    val q = joined.writeStream.format("memory").queryName("ssj_out")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("ssj_out").select("p_id", "s_id").collect().map(_.toSeq).toSet

    val ev = graft.sources.Tables.events(spark, sf)
    val bp = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id").as("p_user"), col("ts").as("p_ts"))
    val bs = ev.filter(col("event_type") === "signup")
      .select(col("event_id").as("s_id"), col("user_id").as("s_user"), col("ts").as("s_ts"))
    val batch = bp.join(bs,
      expr("""p_user = s_user AND s_ts BETWEEN p_ts - INTERVAL 24 HOURS AND p_ts"""))
      .select("p_id", "s_id").collect().map(_.toSeq).toSet
    assert(streamed === batch)
  }

  test("stateful sessionize: emitted + open sessions match batch ss01") {
    import spark.implicits._
    val events = graft.sources.Tables.events(spark, sf)
    val batchSessions = SparkEntry.queries("ss01_sessionize")(spark, sf).count()
    val nUsers = events.select("user_id").distinct().count()

    val streamed = Events.sessionize(
      Events.readStream(spark, streamDir)
        .select(col("event_id"), expr("ts_ns div 1000").as("ts_us"),
          col("user_id"), col("event_type"), col("value")).as[Event],
      gapUs = 30L * 60 * 1000 * 1000)
    val q = streamed.writeStream.format("memory").queryName("sess_out")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val emitted = spark.table("sess_out").count()
    // single micro-batch: each user's final session is still open in
    // state, so emitted = total sessions - one open session per user
    assert(emitted === batchSessions - nUsers)
  }

  test("stateful session paths: prefix bridges batches, cap holds, emitted == batch closed sessions") {
    import spark.implicits._
    import graft.streaming.Event
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[Event](spark)
    val paths = Events.sessionizePaths(mem.toDS(), gapUs = 100L, prefixLen = 3)
    val q = paths.writeStream.format("memory").queryName("path_out")
      .outputMode("append").start()
    try {
      // u1 session starts in batch 1 (view, click)...
      mem.addData(Event(1L, 10L, 1L, "view", 0), Event(2L, 20L, 1L, "click", 0))
      q.processAllAvailable()
      assert(spark.table("path_out").isEmpty) // still open
      // ...continues in batch 2 within the gap (buy, extra beyond the
      // cap), then a far event closes it — ONE path spanning batches,
      // capped at 3 types
      mem.addData(Event(3L, 90L, 1L, "buy", 0), Event(4L, 110L, 1L, "view", 0),
        Event(5L, 500L, 1L, "view", 0))
      q.processAllAvailable()
      val got = spark.table("path_out").as[graft.streaming.SessionPath]
        .collect()
      assert(got.toSeq === Seq(
        graft.streaming.SessionPath(1L, 10L, "view>click>buy", 4L)))
    } finally q.stop()

    // sf-data parity: emitted closed paths == batch ss10 machinery
    // minus each user's final (still-open) session
    val gapUs = 30L * 60 * 1000 * 1000
    val streamed = Events.sessionizePaths(
      Events.readStream(spark, streamDir)
        .select(col("event_id"), expr("ts_ns div 1000").as("ts_us"),
          col("user_id"), col("event_type"), col("value")).as[Event],
      gapUs, prefixLen = 5)
    val q2 = streamed.writeStream.format("memory").queryName("path_sf")
      .outputMode("append").start()
    try q2.processAllAvailable() finally q2.stop()
    val emitted = spark.table("path_sf")
      .groupBy("path").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // batch truth: per-session prefix paths, excluding each user's
    // LAST session (open in stream state)
    val ev = graft.sources.Tables.events(spark, sf)
      .withColumn("ts_ns", expr("(ts_ns div 1000) * 1000"))
      .withColumn("eid", col("event_id"))
    val sess = graft.operators.Sessionize.sessionized(ev,
      keepCols = Seq("event_type", "eid"))
    val w2 = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"), col("session_id"))
      .orderBy(col("ts_ns"), col("eid"))
    val perSession = sess
      .withColumn("rn", org.apache.spark.sql.functions.row_number().over(w2))
      .filter(col("rn") <= 5)
      .groupBy(col("user_id"), col("session_id"))
      .agg(org.apache.spark.sql.functions.array_join(
        org.apache.spark.sql.functions.transform(
          org.apache.spark.sql.functions.array_sort(
            org.apache.spark.sql.functions.collect_list(
              org.apache.spark.sql.functions.struct(
                col("ts_ns"), col("eid"), col("event_type")))),
          x => x.getField("event_type")), ">").as("path"))
    val lastSess = perSession.groupBy(col("user_id"))
      .agg(org.apache.spark.sql.functions.max(col("session_id")).as("last_sid"))
    val closed = perSession.join(lastSess, Seq("user_id"))
      .filter(col("session_id") =!= col("last_sid"))
      .groupBy("path").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(emitted === closed, "streamed closed paths diverged from batch")
  }

  test("streaming decontamination: one persisted bloom sidecar serves every micro-batch, exact counts") {
    import spark.implicits._
    val evalDoc = "the capital of france is paris and the capital of italy is rome always"
    val contaminated = s"intro words here $evalDoc trailing content words"
    val clean = "totally unrelated text about mountains rivers forests deserts oceans and valleys spanning many words"
    val ref = Seq(100L -> evalDoc).toDF("doc_id", "text")

    def addFile(src: java.nio.file.Path, name: String, rows: Seq[(Long, String)]): Unit = {
      val stage = Files.createTempDirectory("graft-bloomstream-stage")
      rows.toDF("doc_id", "text").coalesce(1).write.mode("overwrite").parquet(stage.toString)
      val part = new java.io.File(stage.toString).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath, src.resolve(name))
    }

    val sidecar = Files.createTempDirectory("graft-bloom-sidecar").toString
    // BUILD once: the production loop persists the bloom and rebuilds
    // it only when the reference changes
    graft.operators.Dedup.writeBloomSidecar(spark, sidecar,
      graft.operators.Dedup.buildShingleBloom(ref, 8, 1L << 12, 1L << 16), 8)

    val src = Files.createTempDirectory("graft-bloomstream-src")
    val out = Files.createTempDirectory("graft-bloomstream-out").toString
    val ckpt = Files.createTempDirectory("graft-bloomstream-ckpt").toString
    addFile(src, "b1.parquet", Seq(1L -> contaminated, 2L -> clean))
    val stream = spark.readStream
      .schema("doc_id LONG, text STRING").parquet(src.toString)
    val q = graft.streaming.DedupStream.startDecontaminate(
      sidecar, ref, stream, 3, out, ckpt)
    try {
      q.processAllAvailable()
      addFile(src, "b2.parquet", Seq(3L -> contaminated, 4L -> clean))
      q.processAllAvailable()
    } finally q.stop()

    val got = spark.read.parquet(out)
      .select(col("doc_id"), col("contaminated"), col("micro_batch").cast("long"))
      .collect().map(r => r.getLong(0) -> ((r.getBoolean(1), r.getLong(2)))).toMap
    assert(got(1L)._1 && !got(2L)._1, s"batch 1 exact flags: $got")
    assert(got(3L)._1 && !got(4L)._1, s"batch 2 exact flags (same sidecar): $got")
    assert(got(1L)._2 === 0L && got(3L)._2 === 1L)
  }

  test("bloom refresh cadence: reference growth rebuilds the sidecar and later batches screen the new doc") {
    import spark.implicits._
    val doc0 = "the capital of france is paris and the capital of italy is rome always"
    val doc1 = "seven silver ships sailed slowly through the narrow northern strait before dawn broke over the frozen harbor"
    val hit0 = s"intro words $doc0 more trailing words"
    val hit1 = s"prefix filler $doc1 suffix content here"

    val refDir = Files.createTempDirectory("graft-bloomref").toString
    Seq(100L -> doc0).toDF("doc_id", "text").write.mode("append").parquet(refDir)
    val sidecar = Files.createTempDirectory("graft-bloomref-sidecar").toString
    graft.operators.Dedup.writeBloomSidecar(spark, sidecar,
      graft.operators.Dedup.buildShingleBloom(
        spark.read.parquet(refDir), 8, 1L << 12, 1L << 16), 8, refRows = 1L)

    def addFile(src: java.nio.file.Path, name: String, rows: Seq[(Long, String)]): Unit = {
      val stage = Files.createTempDirectory("graft-bloomref-stage")
      rows.toDF("doc_id", "text").coalesce(1).write.mode("overwrite").parquet(stage.toString)
      val part = new java.io.File(stage.toString).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath, src.resolve(name))
    }
    val src = Files.createTempDirectory("graft-bloomref-src")
    val out = Files.createTempDirectory("graft-bloomref-out").toString
    val ckpt = Files.createTempDirectory("graft-bloomref-ckpt").toString
    addFile(src, "b1.parquet", Seq(1L -> hit0, 2L -> hit1))
    val stream = spark.readStream
      .schema("doc_id LONG, text STRING").parquet(src.toString)
    // ref is BY-NAME: each micro-batch re-plans the read so reference
    // growth is visible to the growth probe and the confirm join
    val q = graft.streaming.DedupStream.startDecontaminate(
      sidecar, spark.read.parquet(refDir), stream, 3, out, ckpt,
      refreshGrowthFactor = Some(1.5),
      bloomExpectedItems = 1L << 12, bloomNumBits = 1L << 16)
    try {
      q.processAllAvailable()
      // batch 1: ref count 1 < 1 * 1.5 — no refresh; doc1 is not in
      // the reference yet, so hit1 passes clean (the documented
      // stale-window false negative)
      val b1 = spark.read.parquet(out)
        .select(col("doc_id"), col("contaminated")).collect()
        .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
      assert(b1(1L) && !b1(2L), s"pre-growth flags: $b1")
      // the reference GROWS past the factor: 2 rows >= 1 * 1.5
      Seq(101L -> doc1).toDF("doc_id", "text").write.mode("append").parquet(refDir)
      addFile(src, "b2.parquet", Seq(3L -> hit0, 4L -> hit1))
      q.processAllAvailable()
      val b2 = spark.read.parquet(out)
        .filter(col("micro_batch") === 1)
        .select(col("doc_id"), col("contaminated")).collect()
        .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
      assert(b2(3L) && b2(4L),
        s"post-refresh batch must screen the NEW reference doc too: $b2")
    } finally q.stop()
    // the swapped sidecar recorded the new build point
    val (_, _, rows) = graft.operators.Dedup.readBloomSidecarMeta(spark, sidecar)
    assert(rows === 2L, s"refreshed sidecar must store the new ref count, got $rows")
  }

  test("streaming retention: matrix equals batch ss05 after every micro-batch, store stays distinct") {
    import spark.implicits._
    def ts(day: String) = java.sql.Timestamp.valueOf(s"$day 12:00:00")
    val b1 = Seq((1L, ts("2024-01-02")), (1L, ts("2024-01-03")),
      (2L, ts("2024-01-04")), (3L, ts("2024-01-05")))
    val b2 = Seq((1L, ts("2024-01-09")), (1L, ts("2024-01-16")),
      (3L, ts("2024-01-17")), (4L, ts("2024-01-10")), (4L, ts("2024-01-18")))

    def addFile(src: java.nio.file.Path, name: String, rows: Seq[(Long, java.sql.Timestamp)]): Unit = {
      val stage = Files.createTempDirectory("graft-ret-stage")
      rows.toDF("user_id", "ts").coalesce(1).write.mode("overwrite").parquet(stage.toString)
      val part = new java.io.File(stage.toString).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath, src.resolve(name))
    }

    val src = Files.createTempDirectory("graft-ret-src")
    val store = Files.createTempDirectory("graft-ret-store").toString + "/pairs"
    val out = Files.createTempDirectory("graft-ret-out").toString
    val ckpt = Files.createTempDirectory("graft-ret-ckpt").toString
    addFile(src, "b1.parquet", b1)
    val stream = spark.readStream
      .schema("user_id LONG, ts TIMESTAMP").parquet(src.toString)
    // maxStoreFiles=1: EVERY batch whose append leaves >1 file
    // triggers a compact, so the cadence runs mid-stream, not just at
    // the end — the strongest bounded-file-count setting
    val q = graft.streaming.RetentionStream.start(store, stream, out, ckpt,
      maxStoreFiles = Some(1))
    def matrix(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._2)).toSeq
    def storeFiles() = new java.io.File(store).listFiles()
      .count(_.getName.endsWith(".parquet"))
    try {
      q.processAllAvailable()
      assert(matrix(spark.read.parquet(out)) ===
        matrix(graft.operators.Sessionize.retention(b1.toDF("user_id", "ts"))))
      addFile(src, "b2.parquet", b2)
      q.processAllAvailable()
      // matrix still equals batch ss05 AFTER compaction ran
      assert(matrix(spark.read.parquet(out)) ===
        matrix(graft.operators.Sessionize.retention((b1 ++ b2).toDF("user_id", "ts"))))
    } finally q.stop()
    // the cadence keeps the file count BOUNDED (≤ maxFiles once
    // compacted) instead of one-file-per-append forever
    assert(storeFiles() <= 1, s"store not compacted: ${storeFiles()} files")
    // the store holds each (user, week) exactly once — batch 2
    // repeated user 1's first week inside its own rows and across
    // batch 1, and neither duplicated; compaction preserved contents
    val pairs = spark.read.parquet(store).collect()
      .map(r => (r.getLong(0), r.getDate(1).toString))
    assert(pairs.length === pairs.distinct.length, s"store has dup pairs: ${pairs.toSeq}")
    assert(pairs.length === 8)
  }

  test("streaming incremental dedup: batch 2 near-dups against batch 1's appended uniques") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog while rain falls on the quiet hills near the old stone bridge"
    val tuneA = "autumn winds carry golden leaves across the quiet valley where shepherds guide their flocks home before the early mountain dusk settles"
    val tuneB = "autumn winds carry golden leaves across the quiet valley where shepherds guide their flocks home before the early winter dusk settles"

    def addFile(src: java.nio.file.Path, name: String, rows: Seq[(Long, String)]): Unit = {
      val stage = Files.createTempDirectory("graft-dstream-stage")
      rows.toDF("doc_id", "text").coalesce(1).write.mode("overwrite").parquet(stage.toString)
      val part = new java.io.File(stage.toString).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath, src.resolve(name))
    }

    graft.operators.Dedup.writeSignatureStore(
      Seq((1L, base)).toDF("doc_id", "text"), "sigstream", 4)
    try {
      val src = Files.createTempDirectory("graft-dstream-src")
      val out = Files.createTempDirectory("graft-dstream-out").toString
      val ckpt = Files.createTempDirectory("graft-dstream-ckpt").toString
      // micro-batch 1: doc 10 brand new, doc 11 near-dups the seeded corpus
      addFile(src, "b1.parquet", Seq(10L -> tuneA,
        11L -> "the quick brown fox jumps over the lazy dog while snow falls on the quiet hills near the old stone bridge"))
      val stream = spark.readStream
        .schema("doc_id LONG, text STRING").parquet(src.toString)
      val q = graft.streaming.DedupStream.start("sigstream", stream, 0.5, out, ckpt)
      try {
        q.processAllAvailable()
        // micro-batch 2: doc 20 near-dups BATCH 1's doc 10 — only
        // visible through the per-batch store append
        addFile(src, "b2.parquet", Seq(20L -> tuneB))
        q.processAllAvailable()
      } finally q.stop()
      // partitioned-by-micro_batch layout (retry-idempotent sink):
      // the partition column reads back via cast, and each batch owns
      // exactly one partition directory
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
    } finally {
      spark.sql("DROP TABLE IF EXISTS sigstream_bands")
      spark.sql("DROP TABLE IF EXISTS sigstream_shingles")
    }
  }

  test("streaming labeled dedup: a batch-2 doc joins the cluster a batch-1 doc founded") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog while rain falls on the quiet hills near the old stone bridge"
    val tuneA = "autumn winds carry golden leaves across the quiet valley where shepherds guide their flocks home before the early mountain dusk settles"
    val tuneB = "autumn winds carry golden leaves across the quiet valley where shepherds guide their flocks home before the early winter dusk settles"

    def addFile(src: java.nio.file.Path, name: String, rows: Seq[(Long, String)]): Unit = {
      val stage = Files.createTempDirectory("graft-lstream-stage")
      rows.toDF("doc_id", "text").coalesce(1).write.mode("overwrite").parquet(stage.toString)
      val part = new java.io.File(stage.toString).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath, src.resolve(name))
    }

    val corpus = Seq((1L, base)).toDF("doc_id", "text")
    graft.operators.Dedup.writeSignatureStore(corpus, "lblstream", 4)
    graft.operators.Dedup.writeLabelStore(corpus, "lblstream", 0.5, 4)
    try {
      val src = Files.createTempDirectory("graft-lstream-src")
      val out = Files.createTempDirectory("graft-lstream-out").toString
      val ckpt = Files.createTempDirectory("graft-lstream-ckpt").toString
      // micro-batch 1: doc 10 is unique — it FOUNDS cluster 10
      addFile(src, "b1.parquet", Seq(10L -> tuneA))
      val stream = spark.readStream
        .schema("doc_id LONG, text STRING").parquet(src.toString)
      val q = graft.streaming.DedupStream.startLabeled("lblstream", stream, 0.5, out, ckpt)
      try {
        q.processAllAvailable()
        // micro-batch 2: doc 20 near-dups batch 1's doc 10 and must
        // emerge carrying doc 10's cluster id — live labels, no d07
        addFile(src, "b2.parquet", Seq(20L -> tuneB))
        q.processAllAvailable()
      } finally q.stop()
      val got = spark.read.parquet(out)
        .select(col("doc_id"), col("status"), col("match_id"), col("cluster_id"),
          col("micro_batch").cast("long"))
        .collect().map(r => r.getLong(0) ->
          ((r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
      assert(got(10L) === (("unique", -1L, 10L, 0L)))
      assert(got(20L) === (("near", 10L, 10L, 1L)))
      // the label store agrees with the emitted rows
      val lab = graft.operators.Dedup.clusterLabels(spark, "lblstream")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(lab === Map(1L -> 1L, 10L -> 10L, 20L -> 10L))
    } finally {
      Seq("lblstream_bands", "lblstream_shingles", "lblstream_labels", "lblstream_remap")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("labeled dedup stream compaction cadence: store files and remap stay bounded, labels unchanged") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog while rain falls on the quiet hills near the old stone bridge"
    val tuneA = "autumn winds carry golden leaves across the quiet valley where shepherds guide their flocks home before the early mountain dusk settles"
    val tuneB = "autumn winds carry golden leaves across the quiet valley where shepherds guide their flocks home before the early winter dusk settles"
    def addFile(src: java.nio.file.Path, name: String, rows: Seq[(Long, String)]): Unit = {
      val stage = Files.createTempDirectory("graft-lcstream-stage")
      rows.toDF("doc_id", "text").coalesce(1).write.mode("overwrite").parquet(stage.toString)
      val part = new java.io.File(stage.toString).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath, src.resolve(name))
    }
    val corpus = Seq((1L, base)).toDF("doc_id", "text")
    graft.operators.Dedup.writeSignatureStore(corpus, "lcstream", 4)
    graft.operators.Dedup.writeLabelStore(corpus, "lcstream", 0.5, 4)
    try {
      val src = Files.createTempDirectory("graft-lcstream-src")
      val out = Files.createTempDirectory("graft-lcstream-out").toString
      val ckpt = Files.createTempDirectory("graft-lcstream-ckpt").toString
      // batch 1 founds cluster 10 (appends signatures + labels); batch
      // 2 attaches to it. maxFilesPerBucket=1 + maxRemapRows=0 forces
      // the cadence after every batch — results must not change.
      addFile(src, "b1.parquet", Seq(10L -> tuneA))
      val stream = spark.readStream
        .schema("doc_id LONG, text STRING").parquet(src.toString)
      val q = graft.streaming.DedupStream.startLabeled(
        "lcstream", stream, 0.5, out, ckpt,
        maxFilesPerBucket = Some(1), maxRemapRows = 0L)
      try {
        q.processAllAvailable()
        addFile(src, "b2.parquet", Seq(20L -> tuneB))
        q.processAllAvailable()
      } finally q.stop()
      val got = spark.read.parquet(out)
        .select(col("doc_id"), col("status"), col("match_id"), col("cluster_id"))
        .collect().map(r => r.getLong(0) ->
          ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
      assert(got(10L) === (("unique", -1L, 10L)))
      assert(got(20L) === (("near", 10L, 10L)))
      val lab = graft.operators.Dedup.clusterLabels(spark, "lcstream")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(lab === Map(1L -> 1L, 10L -> 10L, 20L -> 10L))
      // bounded: remap folded away; every store table back to one
      // file per bucket despite two appends
      spark.catalog.refreshTable("lcstream_remap")
      assert(spark.table("lcstream_remap").count() === 0L)
      for (t <- Seq("lcstream_labels", "lcstream_bands", "lcstream_shingles")) {
        spark.catalog.refreshTable(t)
        val st = graft.sources.BucketedStore.stats(spark, t)
        assert(st.files <= st.buckets, s"$t grew past one file per bucket")
      }
    } finally {
      Seq("lcstream_bands", "lcstream_shingles", "lcstream_labels", "lcstream_remap")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("streaming greedy packing: batch 2 continues the bin batch 1 left open") {
    import spark.implicits._
    import graft.streaming.{DocTok, PackStream}
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[DocTok](spark)
    val packed = PackStream.pack(mem.toDS(), cap = 100L)
    val q = packed.writeStream.format("memory").queryName("pack_out")
      .outputMode("append").start()
    try {
      // batch 1: shard 0 fills 30+50 = 80 of cap 100 (bin 0 stays open)
      mem.addData(DocTok(1L, 0L, 30L), DocTok(2L, 0L, 50L), DocTok(3L, 1L, 95L))
      q.processAllAvailable()
      // batch 2: 15 doesn't fit bin 0's remaining 20? it does (80+15<=100);
      // then 40 rolls to bin 1. Shard 1's 120-token doc owns bin 1 whole.
      mem.addData(DocTok(4L, 0L, 15L), DocTok(5L, 0L, 40L), DocTok(6L, 1L, 120L))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("pack_out").collect()
      .map(r => r.getLong(0) -> ((r.getLong(3), r.getLong(4)))).toMap
    assert(got(1L) === ((0L, 0L)))
    assert(got(2L) === ((0L, 30L)))
    assert(got(4L) === ((0L, 80L)))  // state carried the open bin across batches
    assert(got(5L) === ((1L, 0L)))   // 95 > remaining 5 -> rolled
    assert(got(3L) === ((0L, 0L)))
    assert(got(6L) === ((1L, 0L)))   // oversize doc owns its own bin
    // parity: identical to the batch fold over the concatenated arrival order
    val wantShard0 = Seq((1L, 30L), (2L, 50L), (4L, 15L), (5L, 40L))
      .foldLeft((Seq.empty[(Long, (Long, Long))], 0L, 0L)) {
        case ((acc, bin, fill), (id, n)) =>
          val (b, f) = if (fill != 0L && fill + n > 100L) (bin + 1L, 0L) else (bin, fill)
          (acc :+ (id -> ((b, f))), b, f + n)
      }._1.toMap
    assert(wantShard0.forall { case (id, bo) => got(id) == bo })
  }

  test("streaming dedup (watermark-bounded state) matches batch distinct") {
    val streamed = Events.dedupStream(
      Events.readStream(spark, streamDir), Seq("user_id", "event_type"))
      .select("user_id", "event_type")
    val q = streamed.writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("dedup_out").count()
    val want = spark.read.parquet(s"$sf/events.parquet")
      .select("user_id", "event_type").distinct().count()
    assert(got === want)
  }

  test("streaming curation: embedder + classifier seams run per micro-batch, equal batch") {
    import graft.operators.TextOps
    val src = Files.createTempDirectory("graft-cur-src")
    Files.copy(Paths.get(s"$sf/documents.parquet"), src.resolve("part1.parquet"))
    val schema = spark.read.parquet(s"$sf/documents.parquet").schema
    val stream = spark.readStream.schema(schema).parquet(src.toString)
    // the t18 stage is stateless column/mapPartitions work, so it runs
    // unchanged under Structured Streaming — open() per partition per
    // micro-batch, no state store involved
    val scored = TextOps.qualityScore(
      TextOps.embedDocuments(stream), TextOps.classifierWeights(64))
    val q = scored.writeStream.format("memory").queryName("cur_out")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("cur_out").collect().map(_.toSeq).toSet
    val batch = TextOps.qualityScore(
      TextOps.embedDocuments(spark.read.parquet(s"$sf/documents.parquet")),
      TextOps.classifierWeights(64)).collect().map(_.toSeq).toSet
    assert(streamed === batch && streamed.nonEmpty)
  }

  /** Land `rows` as one (vec_id, embedding) parquet file `name` in a
    * stream source directory. */
  private def addVecFile(src: java.nio.file.Path, name: String,
      rows: Seq[(Long, Seq[Float])]): Unit = {
    import spark.implicits._
    val stage = Files.createTempDirectory("graft-vec-stage")
    rows.toDF("vec_id", "embedding").coalesce(1)
      .write.mode("overwrite").parquet(stage.toString)
    val part = new java.io.File(stage.toString).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    Files.move(part.toPath, src.resolve(name))
  }

  test("streaming ANN ingest: batch-2 vector searchable codes-only; batch replay doesn't double") {
    import spark.implicits._
    import graft.operators.Similarity
    val emb = graft.sources.Tables.embeddings(spark, sf)
    val path = Files.createTempDirectory("graft-ivfpq-stream").toString
    Similarity.writeIvfPqIndex(emb, path, 8, 16)
    val baseCodes = spark.read.parquet(s"$path/codes").count()
    val cent = spark.read.parquet(s"$path/meta_cent")
      .filter(col("cell") === 0).orderBy("pos").collect().map(_.getDouble(2))

    val src = Files.createTempDirectory("graft-istream-src")
    val ckpt = Files.createTempDirectory("graft-istream-ckpt").toString
    val b1Vec = emb.filter(col("vec_id") === 5L).select(col("embedding"))
      .head().getSeq[Float](0).toSeq
    addVecFile(src, "b1.parquet", Seq(91000L -> b1Vec))
    val stream = spark.readStream
      .schema("vec_id LONG, embedding ARRAY<FLOAT>").parquet(src.toString)
    val q = graft.streaming.IndexStream.start(path, stream, ckpt)
    try {
      q.processAllAvailable()
      // micro-batch 2: the cell-0 centroid itself — must be found
      // FIRST by a centroid-query search as soon as the batch lands
      addVecFile(src, "b2.parquet", Seq(92000L -> cent.map(_.toFloat).toSeq))
      q.processAllAvailable()
    } finally q.stop()
    val df = Similarity.ivfPqSearchStored(spark, path, cent, 3, 10)
    val rows = df.collect()
    assert(rows.head.getLong(0) === 92000L, rows.mkString(", "))
    // the streamed appends kept the scale shape: codes-only scan
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!plan.contains("embedding"), plan)
    assert(spark.read.parquet(s"$path/codes").count() === baseCodes + 2)
    // at-least-once replay: re-commit batch 0 with identical rows —
    // the codes table is its own replay guard, nothing lands twice
    Similarity.appendToIvfPqIndex(
      Seq(91000L -> b1Vec).toDF("vec_id", "embedding"), path)
    assert(spark.read.parquet(s"$path/codes").count() === baseCodes + 2)
    assert(Similarity.ivfPqSearchStored(spark, path, cent, 3, 10)
      .collect().head.getLong(0) === 92000L)
  }

  test("streaming ANN compaction cadence: threshold triggers exactly one compaction") {
    import spark.implicits._
    import graft.operators.Similarity
    val emb = graft.sources.Tables.embeddings(spark, sf)
    val path = Files.createTempDirectory("graft-ivfpq-cadence").toString
    Similarity.writeIvfPqIndex(emb, path, 8, 16)
    val cent = spark.read.parquet(s"$path/meta_cent")
      .filter(col("cell") === 0).orderBy("pos").collect().map(_.getDouble(2))
    // the deepest bucket's file count: cell 0's bucket, which every
    // batch below lands in
    def depth(): Int = graft.sources.BucketedStore
      .stats(spark, Similarity.indexTable(spark, path)).filesPerBucket
    val baseCodes = spark.read.parquet(s"$path/codes").count()
    val src = Files.createTempDirectory("graft-cad-src")
    val ckpt = Files.createTempDirectory("graft-cad-ckpt").toString
    // every batch lands in cell 0 (all rows are its centroid), so
    // cell 0's bucket grows one file per batch: 1 (base) → 2 → 3
    // (trips the >2 threshold) — compaction must fire ONCE, at batch 1
    addVecFile(src, "b1.parquet", Seq(93001L -> cent.map(_.toFloat).toSeq))
    val stream = spark.readStream
      .schema("vec_id LONG, embedding ARRAY<FLOAT>").parquet(src.toString)
    val q = graft.streaming.IndexStream.start(path, stream, ckpt,
      maxFilesPerBucket = Some(2))
    try {
      q.processAllAvailable()
      assert(depth() === 2, "below threshold: no compaction yet")
      addVecFile(src, "b2.parquet", Seq(93002L -> cent.map(_.toFloat).toSeq))
      q.processAllAvailable() // 3 files > 2 → compact, back to 1 per bucket
      assert(depth() === 1, "compaction must collapse files")
      addVecFile(src, "b3.parquet", Seq(93003L -> cent.map(_.toFloat).toSeq))
      q.processAllAvailable() // 2 files <= 2 → no second compaction
      assert(depth() === 2, "no second compaction expected")
    } finally q.stop()
    // replaying batches 0 and 1 (folded into the compaction) and 2
    // (landed after it) adds no code rows: the replay guard outlives
    // the rewrite
    assert(spark.read.parquet(s"$path/codes").count() === baseCodes + 3)
    Seq(93001L, 93002L, 93003L).foreach { id =>
      Similarity.appendToIvfPqIndex(
        Seq(id -> cent.map(_.toFloat).toSeq).toDF("vec_id", "embedding"), path)
      assert(spark.read.parquet(s"$path/codes").count() === baseCodes + 3, s"replayed $id")
    }
    // results: all three streamed centroid copies rank at the top of a
    // centroid-query search, through append → compact → append
    val top = Similarity.ivfPqSearchStored(spark, path, cent, 3, 10)
      .collect().map(_.getLong(0)).take(3).toSet
    assert(top === Set(93001L, 93002L, 93003L), s"got $top")
  }

  test("streaming ANN ingest: a rebuild at a reused path is a new generation") {
    import spark.implicits._
    import graft.operators.Similarity
    val emb = graft.sources.Tables.embeddings(spark, sf)
    val path = Files.createTempDirectory("graft-ivfpq-regen").toString
    // stream one batch into the index from a fresh checkpoint, with a
    // one-file cadence: the batch's append trips a compaction
    def streamOne(id: Long, v: Seq[Float]): Unit = {
      val src = Files.createTempDirectory("graft-regen-src")
      val ckpt = Files.createTempDirectory("graft-regen-ckpt").toString
      addVecFile(src, "b0.parquet", Seq(id -> v))
      val q = graft.streaming.IndexStream.start(path, spark.readStream
        .schema("vec_id LONG, embedding ARRAY<FLOAT>").parquet(src.toString), ckpt, Some(1))
      try q.processAllAvailable() finally q.stop()
    }
    Similarity.writeIvfPqIndex(emb, path, 8, 16)
    val cent = spark.read.parquet(s"$path/meta_cent")
      .filter(col("cell") === 0).orderBy("pos").collect().map(_.getDouble(2))
    def top(q: Array[Double]) = Similarity.ivfPqSearchStored(spark, path, q, 3, 20)
      .collect().map(_.getLong(0)).toSeq
    streamOne(94001L, cent.map(_.toFloat).toSeq)
    assert(top(cent).head === 94001L)
    // rebuild, then a new stream's batch 0: the new generation takes
    // it, whatever the old generation compacted
    Similarity.writeIvfPqIndex(emb, path, 8, 16)
    streamOne(94002L, cent.map(_.toFloat).toSeq)
    assert(top(cent).head === 94002L, top(cent).mkString(", "))
    assert(!top(cent).contains(94001L), "the rebuild replaced the old generation's codes")
    // tombstones are per generation too
    val q0 = emb.filter(col("vec_id") === 0L).select(col("embedding"))
      .head().getSeq[Float](0).map(_.toDouble).toArray
    assert(top(q0).contains(0L))
    Similarity.deleteFromIvfPqIndex(Seq(0L).toDF("vec_id"), path)
    assert(!top(q0).contains(0L))
    Similarity.writeIvfPqIndex(emb, path, 8, 16)
    assert(top(q0).contains(0L), "a rebuild must not inherit the old generation's tombstones")
  }

  test("streaming heavy hitters: MG guarantee holds across batches, fold cadence bounds the store") {
    import spark.implicits._
    def addFile(src: java.nio.file.Path, name: String, rows: Seq[(Long, String)]): Unit = {
      val stage = Files.createTempDirectory("graft-hhstage")
      rows.toDF("doc_id", "text").coalesce(1).write.mode("overwrite").parquet(stage.toString)
      val part = new java.io.File(stage.toString).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath, src.resolve(name))
    }
    val src = Files.createTempDirectory("graft-hh-src")
    val store = Files.createTempDirectory("graft-hh-store").toString + "/mg"
    val out = Files.createTempDirectory("graft-hh-out").toString
    val ckpt = Files.createTempDirectory("graft-hh-ckpt").toString
    // three batches; "alpha" is heavy ACROSS batches but not in any
    // single one's top — the cross-batch merge must still keep it
    val b1 = Seq(1L -> "alpha alpha beta gamma delta epsilon zeta",
      2L -> "beta beta beta common words here")
    val b2 = Seq(3L -> "alpha alpha gamma gamma other tokens flow",
      4L -> "noise one two three four five six")
    // alpha totals 9 of N=40 tokens > N/(cap+1)=8 — heavy overall,
    // yet never the unanimous winner of a single batch
    val b3 = Seq(5L -> "alpha alpha alpha alpha alpha rare tail",
      6L -> "beta beta closing batch text stream")
    val cap = 4
    addFile(src, "b1.parquet", b1)
    val stream = spark.readStream.schema("doc_id LONG, text STRING").parquet(src.toString)
    val q = graft.streaming.HeavyHitterStream.start(store, stream, cap, out, ckpt,
      maxStoreParts = Some(2))
    try {
      q.processAllAvailable()
      addFile(src, "b2.parquet", b2); q.processAllAvailable()
      addFile(src, "b3.parquet", b3); q.processAllAvailable()
    } finally q.stop()
    // exact whole-stream truth
    val allRows = (b1 ++ b2 ++ b3).map(_._2).flatMap(_.split(" ")).filter(_.nonEmpty)
    val truth = allRows.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val n = allRows.size.toLong
    val sketch = spark.read.parquet(out)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sketch.size <= cap, s"published sketch exceeds cap: $sketch")
    // the MG contract: every token with true count > N/(cap+1) survives,
    // and no surviving count exceeds its true count
    truth.filter(_._2 * (cap + 1) > n).keys.foreach { w =>
      assert(sketch.contains(w), s"heavy token '$w' missing from $sketch (truth $truth)")
    }
    sketch.foreach { case (w, c) =>
      assert(c <= truth(w), s"sketch over-counts '$w': $c > ${truth(w)}")
    }
    // fold cadence: maxStoreParts=2 → the three partials folded; the
    // base partition exists and the partition count is bounded
    val parts = new java.io.File(store).listFiles()
      .filter(_.isDirectory).map(_.getName).sorted.toSeq
    assert(parts.contains("batch_id=-1"), s"no base partial after fold: $parts")
    assert(parts.size <= 3, s"store partition count unbounded: $parts")
  }

  test("streaming anomalies: published table equals batch ts03 over the whole stream; fold bounds the store") {
    import spark.implicits._
    def addFile(src: java.nio.file.Path, name: String,
        rows: Seq[(String, Long)]): Unit = {
      val stage = Files.createTempDirectory("graft-anstage")
      rows.toDF("event_type", "ts_ns").coalesce(1)
        .write.mode("overwrite").parquet(stage.toString)
      val part = new java.io.File(stage.toString).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath, src.resolve(name))
    }
    val src = Files.createTempDirectory("graft-an-src")
    val store = Files.createTempDirectory("graft-an-store").toString + "/counts"
    val out = Files.createTempDirectory("graft-an-out").toString
    val ckpt = Files.createTempDirectory("graft-an-ckpt").toString
    // bucketNs=10: key "a" accumulates a spike in bucket 2 ONLY across
    // batches (2+3 events vs 1 per other bucket) — the store merge,
    // not any single batch, must produce the flag
    val b1 = Seq("a" -> 5L, "a" -> 15L, "a" -> 25L, "a" -> 27L, "b" -> 5L)
    val b2 = Seq("a" -> 21L, "a" -> 23L, "a" -> 24L, "b" -> 15L)
    val b3 = Seq("a" -> 35L, "b" -> 25L)
    addFile(src, "b1.parquet", b1)
    val stream = spark.readStream
      .schema("event_type STRING, ts_ns LONG").parquet(src.toString)
    val q = graft.streaming.AnomalyStream.start(store, stream,
      bucketNs = 10L, num = 2L, den = 1L, out, ckpt,
      maxStoreParts = Some(2))
    def published() = spark.read.parquet(out)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSet
    def batchTruth(rows: Seq[(String, Long)]) =
      graft.operators.Timeseries.anomalousFromCounts(
        rows.toDF("event_type", "ts_ns")
          .selectExpr("event_type", "ts_ns div 10L AS bucket")
          .groupBy($"event_type", $"bucket").agg(count(lit(1)).as("n")),
        2L, 1L)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        .toSet
    try {
      q.processAllAvailable()
      assert(published() === batchTruth(b1))
      addFile(src, "b2.parquet", b2); q.processAllAvailable()
      assert(published() === batchTruth(b1 ++ b2))
      addFile(src, "b3.parquet", b3); q.processAllAvailable()
      assert(published() === batchTruth(b1 ++ b2 ++ b3))
      // the cross-batch spike is the flag: a/bucket 2 has 5 of a's 8
      // events over dense range 4 → 5·4 > 8·2
      assert(published().exists(t => t._1 == "a" && t._2 == 2L && t._3 == 5L),
        s"cross-batch spike missing: ${published()}")
    } finally q.stop()
    val parts = new java.io.File(store).listFiles()
      .filter(_.isDirectory).map(_.getName).sorted.toSeq
    assert(parts.contains("batch_id=-1"), s"no base partial after fold: $parts")
    assert(parts.size <= 3, s"store partition count unbounded: $parts")
  }

  test("streaming OHLC bars equal batch ts02 over the whole stream incl. late events; fold bounds the store") {
    import spark.implicits._
    def addFile(src: java.nio.file.Path, name: String,
        rows: Seq[(Long, String, Long, Double)]): Unit = {
      val stage = Files.createTempDirectory("graft-barstage")
      rows.toDF("event_id", "event_type", "ts_ns", "value").coalesce(1)
        .write.mode("overwrite").parquet(stage.toString)
      val part = new java.io.File(stage.toString).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath, src.resolve(name))
    }
    val src = Files.createTempDirectory("graft-bar-src")
    val store = Files.createTempDirectory("graft-bar-store").toString + "/bars"
    val out = Files.createTempDirectory("graft-bar-out").toString
    val ckpt = Files.createTempDirectory("graft-bar-ckpt").toString
    // bucketNs=10; batch 3 delivers a LATE event (ts=12) that must
    // retro-open bucket 1 (becomes its earliest event)
    val b1 = Seq((1L, "a", 5L, 10.0), (2L, "a", 15L, 30.0))
    val b2 = Seq((3L, "a", 17L, 20.0), (4L, "b", 25L, 5.5))
    val b3 = Seq((5L, "a", 12L, 40.0))
    addFile(src, "b1.parquet", b1)
    val stream = spark.readStream
      .schema("event_id LONG, event_type STRING, ts_ns LONG, value DOUBLE")
      .parquet(src.toString)
    val q = graft.streaming.BarStream.start(store, stream,
      "event_type", bucketNs = 10L, out, ckpt, maxStoreParts = Some(2))
    def published() = spark.read.parquet(out)
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5),
          r.getDouble(6), r.getDouble(7)))).toMap
    def batchTruth(rows: Seq[(Long, String, Long, Double)]) =
      graft.operators.Timeseries.ohlcBars(
        rows.toDF("event_id", "event_type", "ts_ns", "value"), 10L)
        .collect().map(r => (r.getString(0), r.getLong(1)) ->
          ((r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5),
            r.getDouble(6), r.getDouble(7)))).toMap
    try {
      q.processAllAvailable()
      assert(published() === batchTruth(b1))
      addFile(src, "b2.parquet", b2); q.processAllAvailable()
      assert(published() === batchTruth(b1 ++ b2))
      addFile(src, "b3.parquet", b3); q.processAllAvailable()
      assert(published() === batchTruth(b1 ++ b2 ++ b3))
      // the late ts=12 event re-opened a's bucket 1: open=40, n=3
      val (n, open, _, _, close, _) = published()(("a", 1L))
      assert(n === 3L && open === 40.0 && close === 20.0)
    } finally q.stop()
    val parts = new java.io.File(store).listFiles()
      .filter(_.isDirectory).map(_.getName).sorted.toSeq
    assert(parts.contains("batch_id=-1"), s"no base after fold: $parts")
    assert(parts.size <= 3, s"store partitions unbounded: $parts")
  }


  test("bar publish cadence: off-cadence batch keeps the previous publish point; store still absorbs it (representative of the uniform publishEvery dial)") {
    import spark.implicits._
    def addFile(src: java.nio.file.Path, name: String,
        rows: Seq[(Long, String, Long, Double)]): Unit = {
      val stage = Files.createTempDirectory("graft-cbarstage")
      rows.toDF("event_id", "event_type", "ts_ns", "value").coalesce(1)
        .write.mode("overwrite").parquet(stage.toString)
      val part = new java.io.File(stage.toString).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath, src.resolve(name))
    }
    val src = Files.createTempDirectory("graft-cbar-src")
    val store = Files.createTempDirectory("graft-cbar-store").toString + "/bars"
    val out = Files.createTempDirectory("graft-cbar-out").toString
    val ckpt = Files.createTempDirectory("graft-cbar-ckpt").toString
    val b1 = Seq((1L, "a", 5L, 10.0), (2L, "a", 15L, 30.0))
    val b2 = Seq((3L, "a", 17L, 20.0), (4L, "b", 25L, 5.5))
    val b3 = Seq((5L, "a", 12L, 40.0))
    addFile(src, "b1.parquet", b1)
    val stream = spark.readStream
      .schema("event_id LONG, event_type STRING, ts_ns LONG, value DOUBLE")
      .parquet(src.toString)
    val q = graft.streaming.BarStream.start(store, stream,
      "event_type", bucketNs = 10L, out, ckpt, publishEvery = 2)
    def published() = spark.read.parquet(out)
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5),
          r.getDouble(6), r.getDouble(7)))).toMap
    def batchTruth(rows: Seq[(Long, String, Long, Double)]) =
      graft.operators.Timeseries.ohlcBars(
        rows.toDF("event_id", "event_type", "ts_ns", "value"), 10L)
        .collect().map(r => (r.getString(0), r.getLong(1)) ->
          ((r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5),
            r.getDouble(6), r.getDouble(7)))).toMap
    try {
      q.processAllAvailable() // batchId 0: publishes
      assert(published() === batchTruth(b1))
      addFile(src, "b2.parquet", b2); q.processAllAvailable()
      // batchId 1: partial absorbed, publish skipped — the table is
      // exactly the previous publish point
      assert(published() === batchTruth(b1))
      addFile(src, "b3.parquet", b3); q.processAllAvailable()
      // batchId 2: publishes — b2 AND the late b3 event both land
      assert(published() === batchTruth(b1 ++ b2 ++ b3))
    } finally q.stop()
  }

  test("streaming PSI drift equals batch dq06 over the whole stream; range extension re-bins") {
    import spark.implicits._
    def addFile(src: java.nio.file.Path, name: String,
        rows: Seq[(Long, Boolean)]): Unit = {
      val stage = Files.createTempDirectory("graft-drstage")
      rows.toDF("cents", "pre").coalesce(1)
        .write.mode("overwrite").parquet(stage.toString)
      val part = new java.io.File(stage.toString).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath, src.resolve(name))
    }
    val src = Files.createTempDirectory("graft-dr-src")
    val store = Files.createTempDirectory("graft-dr-store").toString + "/dr"
    val out = Files.createTempDirectory("graft-dr-out").toString
    val ckpt = Files.createTempDirectory("graft-dr-ckpt").toString
    val b1 = Seq((10L, true), (12L, true), (19L, false), (11L, false))
    val b2 = Seq((10L, true), (19L, false), (15L, false))
    // b3 stretches the global max: every bin boundary moves — the
    // published table must re-bin history exactly like the batch twin
    val b3 = Seq((90L, false), (10L, true))
    addFile(src, "b1.parquet", b1)
    val stream = spark.readStream.schema("cents LONG, pre BOOLEAN")
      .parquet(src.toString)
    val q = graft.streaming.DriftStream.start(store, stream,
      "cents", "pre", bins = 4, out, ckpt, maxStoreParts = Some(2))
    def published() = spark.read.parquet(out)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    def batchTruth(rows: Seq[(Long, Boolean)]) =
      graft.operators.Quality.psiDrift(rows.toDF("cents", "pre"),
        "cents", "pre", bins = 4)
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    try {
      q.processAllAvailable()
      assert(published() === batchTruth(b1))
      addFile(src, "b2.parquet", b2); q.processAllAvailable()
      assert(published() === batchTruth(b1 ++ b2))
      addFile(src, "b3.parquet", b3); q.processAllAvailable()
      assert(published() === batchTruth(b1 ++ b2 ++ b3))
      // after the stretch, the old values all collapse into bin 0
      assert(published()(0L)._1 === 4L && published()(0L)._2 === 4L)
    } finally q.stop()
    val parts = new java.io.File(store).listFiles()
      .filter(_.isDirectory).map(_.getName).sorted.toSeq
    assert(parts.contains("batch_id=-1"), s"no base after fold: $parts")
    assert(parts.size <= 3, s"store partitions unbounded: $parts")
  }

  test("streaming EWMA equals batch ts08 over the whole stream; late event shifts later buckets") {
    import spark.implicits._
    def addFile(src: java.nio.file.Path, name: String,
        rows: Seq[(Long, String, Long, Double)]): Unit = {
      val stage = Files.createTempDirectory("graft-ewstage")
      rows.toDF("event_id", "event_type", "ts_ns", "value").coalesce(1)
        .write.mode("overwrite").parquet(stage.toString)
      val part = new java.io.File(stage.toString).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath, src.resolve(name))
    }
    val src = Files.createTempDirectory("graft-ew-src")
    val store = Files.createTempDirectory("graft-ew-store").toString + "/ew"
    val out = Files.createTempDirectory("graft-ew-out").toString
    val ckpt = Files.createTempDirectory("graft-ew-ckpt").toString
    // bucketNs=10; b3's late event lands in bucket 0 and must shift
    // bucket 1's and 3's ewma (the whole downstream fold re-runs)
    val b1 = Seq((1L, "a", 5L, 30.0), (2L, "a", 15L, 30.0))
    val b2 = Seq((3L, "a", 35L, 40.0), (4L, "b", 25L, 5.0))
    val b3 = Seq((5L, "a", 7L, 20.0))
    addFile(src, "b1.parquet", b1)
    val stream = spark.readStream
      .schema("event_id LONG, event_type STRING, ts_ns LONG, value DOUBLE")
      .parquet(src.toString)
    val q = graft.streaming.EwmaStream.start(store, stream,
      "event_type", bucketNs = 10L, alphaDen = 5L, out, ckpt,
      maxStoreParts = Some(2))
    def published() = spark.read.parquet(out)
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    def batchTruth(rows: Seq[(Long, String, Long, Double)]) =
      graft.operators.Timeseries.ewmaFixedPoint(
        rows.toDF("event_id", "event_type", "ts_ns", "value"),
        bucketNs = 10L, alphaDen = 5L)
        .collect().map(r => (r.getString(0), r.getLong(1)) ->
          ((r.getLong(2), r.getLong(3)))).toMap
    try {
      q.processAllAvailable()
      assert(published() === batchTruth(b1))
      addFile(src, "b2.parquet", b2); q.processAllAvailable()
      assert(published() === batchTruth(b1 ++ b2))
      val before = published()(("a", 3L))._2
      addFile(src, "b3.parquet", b3); q.processAllAvailable()
      assert(published() === batchTruth(b1 ++ b2 ++ b3))
      // bucket 0 grew 3000 -> 5000 cents, so bucket 1's ewma moved
      // ((3000+4*5000)/5 = 4600 vs 3000) and bucket 3's with it
      assert(published()(("a", 1L))._2 === 4600L)
      assert(published()(("a", 3L))._2 !== before)
    } finally q.stop()
    val parts = new java.io.File(store).listFiles()
      .filter(_.isDirectory).map(_.getName).sorted.toSeq
    assert(parts.contains("batch_id=-1"), s"no base after fold: $parts")
    assert(parts.size <= 3, s"store partitions unbounded: $parts")
  }

  test("streaming percentile thresholds equal batch t20 election over the whole stream; fold bounds the store") {
    import spark.implicits._
    def addFile(src: java.nio.file.Path, name: String,
        rows: Seq[(String, Long)]): Unit = {
      val stage = Files.createTempDirectory("graft-thstage")
      rows.toDF("lang", "score").coalesce(1)
        .write.mode("overwrite").parquet(stage.toString)
      val part = new java.io.File(stage.toString).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath, src.resolve(name))
    }
    val src = Files.createTempDirectory("graft-th-src")
    val store = Files.createTempDirectory("graft-th-store").toString + "/h"
    val out = Files.createTempDirectory("graft-th-out").toString
    val ckpt = Files.createTempDirectory("graft-th-ckpt").toString
    // en's distribution shifts up in b2 — the published cutoff must
    // move with the CUMULATIVE distribution, not the latest batch
    val b1 = Seq("en" -> 1L, "en" -> 2L, "en" -> 3L, "en" -> 4L,
      "en" -> 5L, "de" -> 10L)
    val b2 = Seq("en" -> 6L, "en" -> 7L, "en" -> 8L, "en" -> 9L,
      "en" -> 10L, "de" -> 20L)
    val b3 = Seq("de" -> 30L)
    addFile(src, "b1.parquet", b1)
    val stream = spark.readStream
      .schema("lang STRING, score LONG").parquet(src.toString)
    val q = graft.streaming.ThresholdStream.start(store, stream,
      "lang", "score", p = 0.4, out, ckpt, maxStoreParts = Some(2))
    def published() = spark.read.parquet(out)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    def batchTruth(rows: Seq[(String, Long)]) =
      graft.operators.TextOps.percentileThresholds(
        rows.toDF("lang", "score")
          .groupBy($"lang", $"score").agg(count(lit(1)).as("n")),
        "lang", "score", 0.4)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    try {
      q.processAllAvailable()
      assert(published() === batchTruth(b1)) // en thr=2 (ceil(.4*5)=2)
      addFile(src, "b2.parquet", b2); q.processAllAvailable()
      assert(published() === batchTruth(b1 ++ b2)) // en thr=4 over 10
      addFile(src, "b3.parquet", b3); q.processAllAvailable()
      assert(published() === batchTruth(b1 ++ b2 ++ b3))
      assert(published()("en") === 4L)
    } finally q.stop()
    val parts = new java.io.File(store).listFiles()
      .filter(_.isDirectory).map(_.getName).sorted.toSeq
    assert(parts.contains("batch_id=-1"), s"no base after fold: $parts")
    assert(parts.size <= 3, s"store partitions unbounded: $parts")
  }

  /** pk bucket a key hashes to under the incremental-publish dial —
    * the same pmod(hash) the twins compute, evaluated through Spark
    * so the test can never drift from the implementation. */
  private def pkOf(k: String, p: Int): Int =
    spark.range(1).select(pmod(hash(lit(k)), lit(p))).head.getInt(0)

  /** Parquet data-file names under each pk= dir of a published table
    * — dynamic overwrite writes NEW uuid file names, so an identical
    * name set proves the partition was NOT rewritten. */
  private def pkFiles(out: String): Map[String, Set[String]] =
    new java.io.File(out).listFiles().filter(f =>
        f.isDirectory && f.getName.startsWith("pk="))
      .map(d => d.getName -> d.listFiles()
        .map(_.getName).filter(_.endsWith(".parquet")).toSet)
      .toMap

  test("incremental EWMA publish equals batch ts08 at every publish point; untouched pk partitions are not rewritten") {
    import spark.implicits._
    val p = 16
    val ka = "a"
    // second key must land in a DIFFERENT pk bucket or the
    // untouched-partition assertion below would be vacuous
    val kb = Seq("b", "c", "d", "e").find(k => pkOf(k, p) != pkOf(ka, p)).get
    def addFile(src: java.nio.file.Path, name: String,
        rows: Seq[(Long, String, Long, Double)]): Unit = {
      val stage = Files.createTempDirectory("graft-iewstage")
      rows.toDF("event_id", "event_type", "ts_ns", "value").coalesce(1)
        .write.mode("overwrite").parquet(stage.toString)
      val part = new java.io.File(stage.toString).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath, src.resolve(name))
    }
    val src = Files.createTempDirectory("graft-iew-src")
    val store = Files.createTempDirectory("graft-iew-store").toString + "/ew"
    val out = Files.createTempDirectory("graft-iew-out").toString
    val ckpt = Files.createTempDirectory("graft-iew-ckpt").toString
    val b1 = Seq((1L, ka, 5L, 30.0), (2L, ka, 15L, 30.0))
    val b2 = Seq((3L, ka, 35L, 40.0), (4L, kb, 25L, 5.0))
    val b3 = Seq((5L, ka, 7L, 20.0)) // late: re-opens ka's bucket 0
    addFile(src, "b1.parquet", b1)
    val stream = spark.readStream
      .schema("event_id LONG, event_type STRING, ts_ns LONG, value DOUBLE")
      .parquet(src.toString)
    val q = graft.streaming.EwmaStream.start(store, stream,
      "event_type", bucketNs = 10L, alphaDen = 5L, out, ckpt,
      maxStoreParts = Some(2), incrementalPubParts = Some(p))
    def published() = graft.streaming.StoreFold.readPublished(spark, out)
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    def batchTruth(rows: Seq[(Long, String, Long, Double)]) =
      graft.operators.Timeseries.ewmaFixedPoint(
        rows.toDF("event_id", "event_type", "ts_ns", "value"),
        bucketNs = 10L, alphaDen = 5L)
        .collect().map(r => (r.getString(0), r.getLong(1)) ->
          ((r.getLong(2), r.getLong(3)))).toMap
    try {
      q.processAllAvailable()
      assert(published() === batchTruth(b1))
      addFile(src, "b2.parquet", b2); q.processAllAvailable()
      assert(published() === batchTruth(b1 ++ b2))
      val beforeFiles = pkFiles(out)
      addFile(src, "b3.parquet", b3); q.processAllAvailable()
      // the late event re-folds ka's whole history — parity holds
      assert(published() === batchTruth(b1 ++ b2 ++ b3))
      assert(published()((ka, 1L))._2 === 4600L)
      // ...but ONLY ka's pk partition was rewritten: kb's published
      // files are byte-identical (dynamic overwrite mints new uuid
      // names, so same names = untouched)
      val afterFiles = pkFiles(out)
      val kbDir = s"pk=${pkOf(kb, p)}"
      assert(afterFiles(kbDir) === beforeFiles(kbDir),
        s"untouched $kbDir was rewritten: ${beforeFiles(kbDir)} -> ${afterFiles(kbDir)}")
      assert(afterFiles(s"pk=${pkOf(ka, p)}") !==
        beforeFiles(s"pk=${pkOf(ka, p)}"), "touched pk must rewrite")
      // batch 3's store partial landed only under ka's pk
      val b3Dirs = new java.io.File(s"$store/batch_id=2").listFiles()
        .filter(_.isDirectory).map(_.getName).toSet
      assert(b3Dirs === Set(s"pk=${pkOf(ka, p)}"), s"b3 partial dirs: $b3Dirs")
    } finally q.stop()
    val parts = new java.io.File(store).listFiles()
      .filter(_.isDirectory).map(_.getName).sorted.toSeq
    assert(parts.contains("batch_id=-1"), s"no base after fold: $parts")
    assert(parts.size <= 3, s"store partitions unbounded: $parts")
    // the fold preserved the pk layout publish pruning depends on
    val baseDirs = new java.io.File(s"$store/batch_id=-1").listFiles()
      .filter(_.isDirectory).map(_.getName)
    assert(baseDirs.nonEmpty && baseDirs.forall(_.startsWith("pk=")),
      s"folded base lost pk partitioning: ${baseDirs.toSeq}")
  }

  test("incremental Holt publish equals batch ts15 at every publish point (late event included); untouched pk partitions are not rewritten") {
    import spark.implicits._
    val p = 16
    val ka = "a"
    val kb = Seq("b", "c", "d", "e").find(k => pkOf(k, p) != pkOf(ka, p)).get
    def addFile(src: java.nio.file.Path, name: String,
        rows: Seq[(Long, String, Long, Double)]): Unit = {
      val stage = Files.createTempDirectory("graft-ihostage")
      rows.toDF("event_id", "event_type", "ts_ns", "value").coalesce(1)
        .write.mode("overwrite").parquet(stage.toString)
      val part = new java.io.File(stage.toString).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath, src.resolve(name))
    }
    val src = Files.createTempDirectory("graft-iho-src")
    val store = Files.createTempDirectory("graft-iho-store").toString + "/ho"
    val out = Files.createTempDirectory("graft-iho-out").toString
    val ckpt = Files.createTempDirectory("graft-iho-ckpt").toString
    val b1 = Seq((1L, ka, 5L, 30.0), (2L, ka, 15L, 36.0))
    val b2 = Seq((3L, ka, 35L, 44.0), (4L, kb, 25L, 5.0))
    val b3 = Seq((5L, ka, 7L, 20.0)) // late: re-opens ka's bucket 0
    addFile(src, "b1.parquet", b1)
    val stream = spark.readStream
      .schema("event_id LONG, event_type STRING, ts_ns LONG, value DOUBLE")
      .parquet(src.toString)
    val q = graft.streaming.HoltStream.start(store, stream,
      "event_type", bucketNs = 10L, alphaDen = 5L, betaDen = 3L,
      out, ckpt, maxStoreParts = Some(2), incrementalPubParts = Some(p))
    def rowsOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    def published() =
      rowsOf(graft.streaming.StoreFold.readPublished(spark, out))
    def batchTruth(rows: Seq[(Long, String, Long, Double)]) =
      rowsOf(graft.operators.Timeseries.holtFixedPoint(
        rows.toDF("event_id", "event_type", "ts_ns", "value"),
        bucketNs = 10L, alphaDen = 5L, betaDen = 3L))
    try {
      q.processAllAvailable()
      assert(published() === batchTruth(b1))
      addFile(src, "b2.parquet", b2); q.processAllAvailable()
      assert(published() === batchTruth(b1 ++ b2))
      val beforeFiles = pkFiles(out)
      addFile(src, "b3.parquet", b3); q.processAllAvailable()
      // the late event re-runs ka's TWO-register fold end to end —
      // every later bucket's level AND trend shift, parity holds
      assert(published() === batchTruth(b1 ++ b2 ++ b3))
      val afterFiles = pkFiles(out)
      val kbDir = s"pk=${pkOf(kb, p)}"
      assert(afterFiles(kbDir) === beforeFiles(kbDir),
        s"untouched $kbDir was rewritten")
      assert(afterFiles(s"pk=${pkOf(ka, p)}") !==
        beforeFiles(s"pk=${pkOf(ka, p)}"), "touched pk must rewrite")
    } finally q.stop()
    val parts = new java.io.File(store).listFiles()
      .filter(_.isDirectory).map(_.getName).sorted.toSeq
    assert(parts.contains("batch_id=-1"), s"no base after fold: $parts")
    assert(parts.size <= 3, s"store partitions unbounded: $parts")
  }

  test("incremental threshold publish equals batch t20 election at every publish point; untouched pk partitions are not rewritten") {
    import spark.implicits._
    val nPk = 16
    val ga = "en"
    val gb = Seq("de", "fr", "es", "it").find(g => pkOf(g, nPk) != pkOf(ga, nPk)).get
    def addFile(src: java.nio.file.Path, name: String,
        rows: Seq[(String, Long)]): Unit = {
      val stage = Files.createTempDirectory("graft-ithstage")
      rows.toDF("lang", "score").coalesce(1)
        .write.mode("overwrite").parquet(stage.toString)
      val part = new java.io.File(stage.toString).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath, src.resolve(name))
    }
    val src = Files.createTempDirectory("graft-ith-src")
    val store = Files.createTempDirectory("graft-ith-store").toString + "/h"
    val out = Files.createTempDirectory("graft-ith-out").toString
    val ckpt = Files.createTempDirectory("graft-ith-ckpt").toString
    val b1 = Seq(ga -> 1L, ga -> 2L, ga -> 3L, ga -> 4L, ga -> 5L, gb -> 10L)
    val b2 = Seq(ga -> 6L, ga -> 7L, ga -> 8L, ga -> 9L, ga -> 10L, gb -> 20L)
    val b3 = Seq(gb -> 30L) // touches ONLY gb's group
    addFile(src, "b1.parquet", b1)
    val stream = spark.readStream
      .schema("lang STRING, score LONG").parquet(src.toString)
    val q = graft.streaming.ThresholdStream.start(store, stream,
      "lang", "score", p = 0.4, out, ckpt, maxStoreParts = Some(2),
      incrementalPubParts = Some(nPk))
    def published() = graft.streaming.StoreFold
      .readPublished(spark, out)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    def batchTruth(rows: Seq[(String, Long)]) =
      graft.operators.TextOps.percentileThresholds(
        rows.toDF("lang", "score")
          .groupBy($"lang", $"score").agg(count(lit(1)).as("n")),
        "lang", "score", 0.4)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    try {
      q.processAllAvailable()
      assert(published() === batchTruth(b1))
      addFile(src, "b2.parquet", b2); q.processAllAvailable()
      assert(published() === batchTruth(b1 ++ b2))
      val beforeFiles = pkFiles(out)
      addFile(src, "b3.parquet", b3); q.processAllAvailable()
      assert(published() === batchTruth(b1 ++ b2 ++ b3))
      assert(published()(ga) === 4L) // cumulative election, untouched
      val afterFiles = pkFiles(out)
      val gaDir = s"pk=${pkOf(ga, nPk)}"
      assert(afterFiles(gaDir) === beforeFiles(gaDir),
        s"untouched $gaDir was rewritten")
      assert(afterFiles(s"pk=${pkOf(gb, nPk)}") !==
        beforeFiles(s"pk=${pkOf(gb, nPk)}"), "touched pk must rewrite")
    } finally q.stop()
    val parts = new java.io.File(store).listFiles()
      .filter(_.isDirectory).map(_.getName).sorted.toSeq
    assert(parts.contains("batch_id=-1"), s"no base after fold: $parts")
    assert(parts.size <= 3, s"store partitions unbounded: $parts")
  }

  test("incremental bar publish equals batch ts02 at every publish point; untouched pk partitions are not rewritten") {
    import spark.implicits._
    val p = 16
    val ka = "a"
    val kb = Seq("b", "c", "d", "e").find(k => pkOf(k, p) != pkOf(ka, p)).get
    def addFile(src: java.nio.file.Path, name: String,
        rows: Seq[(Long, String, Long, Double)]): Unit = {
      val stage = Files.createTempDirectory("graft-ibarstage")
      rows.toDF("event_id", "event_type", "ts_ns", "value").coalesce(1)
        .write.mode("overwrite").parquet(stage.toString)
      val part = new java.io.File(stage.toString).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath, src.resolve(name))
    }
    val src = Files.createTempDirectory("graft-ibar-src")
    val store = Files.createTempDirectory("graft-ibar-store").toString + "/bars"
    val out = Files.createTempDirectory("graft-ibar-out").toString
    val ckpt = Files.createTempDirectory("graft-ibar-ckpt").toString
    val b1 = Seq((1L, ka, 5L, 10.0), (2L, ka, 15L, 30.0))
    val b2 = Seq((3L, ka, 17L, 20.0), (4L, kb, 25L, 5.5))
    val b3 = Seq((5L, ka, 12L, 40.0)) // late: retro-opens ka's bucket 1
    addFile(src, "b1.parquet", b1)
    val stream = spark.readStream
      .schema("event_id LONG, event_type STRING, ts_ns LONG, value DOUBLE")
      .parquet(src.toString)
    val q = graft.streaming.BarStream.start(store, stream,
      "event_type", bucketNs = 10L, out, ckpt, maxStoreParts = Some(2),
      incrementalPubParts = Some(p))
    def published() = graft.streaming.StoreFold.readPublished(spark, out)
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5),
          r.getDouble(6), r.getDouble(7)))).toMap
    def batchTruth(rows: Seq[(Long, String, Long, Double)]) =
      graft.operators.Timeseries.ohlcBars(
        rows.toDF("event_id", "event_type", "ts_ns", "value"), 10L)
        .collect().map(r => (r.getString(0), r.getLong(1)) ->
          ((r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5),
            r.getDouble(6), r.getDouble(7)))).toMap
    try {
      q.processAllAvailable()
      assert(published() === batchTruth(b1))
      addFile(src, "b2.parquet", b2); q.processAllAvailable()
      assert(published() === batchTruth(b1 ++ b2))
      val beforeFiles = pkFiles(out)
      addFile(src, "b3.parquet", b3); q.processAllAvailable()
      assert(published() === batchTruth(b1 ++ b2 ++ b3))
      val (n, open, _, _, close, _) = published()((ka, 1L))
      assert(n === 3L && open === 40.0 && close === 20.0)
      val afterFiles = pkFiles(out)
      val kbDir = s"pk=${pkOf(kb, p)}"
      assert(afterFiles(kbDir) === beforeFiles(kbDir),
        s"untouched $kbDir was rewritten")
      assert(afterFiles(s"pk=${pkOf(ka, p)}") !==
        beforeFiles(s"pk=${pkOf(ka, p)}"), "touched pk must rewrite")
    } finally q.stop()
    val parts = new java.io.File(store).listFiles()
      .filter(_.isDirectory).map(_.getName).sorted.toSeq
    assert(parts.contains("batch_id=-1"), s"no base after fold: $parts")
    assert(parts.size <= 3, s"store partitions unbounded: $parts")
  }

  test("incremental distinct publish equals the full-store estimates at every publish point; untouched pk partitions are not rewritten") {
    import spark.implicits._
    val p = 16
    val ka = "a"
    val kb = Seq("b", "c", "d", "e").find(k => pkOf(k, p) != pkOf(ka, p)).get
    def addFile(src: java.nio.file.Path, name: String,
        rows: Seq[(String, Long)]): Unit = {
      val stage = Files.createTempDirectory("graft-idstage")
      rows.toDF("event_type", "user_id").coalesce(1)
        .write.mode("overwrite").parquet(stage.toString)
      val part = new java.io.File(stage.toString).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath, src.resolve(name))
    }
    val src = Files.createTempDirectory("graft-id-src")
    val store = Files.createTempDirectory("graft-id-store").toString + "/sk"
    val out = Files.createTempDirectory("graft-id-out").toString
    val ckpt = Files.createTempDirectory("graft-id-ckpt").toString
    val b1 = (1L to 40L).map((ka, _)) ++ (1L to 10L).map((kb, _))
    val b2 = (21L to 60L).map((ka, _)) ++ (11L to 15L).map((kb, _))
    val b3 = (1L to 5L).map((ka, _)) // replay-overlap, touches ONLY ka
    addFile(src, "b1.parquet", b1)
    val stream = spark.readStream
      .schema("event_type STRING, user_id LONG").parquet(src.toString)
    val q = graft.streaming.DistinctStream.start(store, stream,
      "event_type", "user_id", out, ckpt, maxStoreParts = Some(2),
      incrementalPubParts = Some(p))
    def published() = graft.streaming.StoreFold
      .readPublished(spark, out)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    def fullTruth() = graft.streaming.DistinctStream
      .estimates(spark, store, "event_type")
      .drop("pk")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    def within5(got: Map[String, Long], exact: Map[String, Long]) =
      exact.forall { case (k, n) =>
        math.abs(got(k) - n) <= math.max(1L, (n * 0.05).toLong) }
    try {
      q.processAllAvailable()
      assert(published() === fullTruth())
      assert(within5(published(), Map(ka -> 40L, kb -> 10L)))
      addFile(src, "b2.parquet", b2); q.processAllAvailable()
      assert(published() === fullTruth())
      assert(within5(published(), Map(ka -> 60L, kb -> 15L)))
      val beforeFiles = pkFiles(out)
      addFile(src, "b3.parquet", b3); q.processAllAvailable()
      // pure-overlap batch: estimates unchanged (idempotent union),
      // still equal to the full-store recompute
      assert(published() === fullTruth())
      assert(within5(published(), Map(ka -> 60L, kb -> 15L)))
      val afterFiles = pkFiles(out)
      val kbDir = s"pk=${pkOf(kb, p)}"
      assert(afterFiles(kbDir) === beforeFiles(kbDir),
        s"untouched $kbDir was rewritten")
    } finally q.stop()
    val parts = new java.io.File(store).listFiles()
      .filter(_.isDirectory).map(_.getName).sorted.toSeq
    assert(parts.contains("batch_id=-1"), s"no base after fold: $parts")
    assert(parts.size <= 3, s"store partitions unbounded: $parts")
  }

  test("drift publish cadence: off-cadence batch keeps the previous publish point, on-cadence equals batch dq06 over everything") {
    import spark.implicits._
    def addFile(src: java.nio.file.Path, name: String,
        rows: Seq[(Long, Boolean)]): Unit = {
      val stage = Files.createTempDirectory("graft-cdrstage")
      rows.toDF("cents", "pre").coalesce(1)
        .write.mode("overwrite").parquet(stage.toString)
      val part = new java.io.File(stage.toString).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath, src.resolve(name))
    }
    val src = Files.createTempDirectory("graft-cdr-src")
    val store = Files.createTempDirectory("graft-cdr-store").toString + "/dr"
    val out = Files.createTempDirectory("graft-cdr-out").toString
    val ckpt = Files.createTempDirectory("graft-cdr-ckpt").toString
    val b1 = Seq((10L, true), (12L, true), (19L, false), (11L, false))
    val b2 = Seq((10L, true), (19L, false), (15L, false))
    val b3 = Seq((90L, false), (10L, true))
    addFile(src, "b1.parquet", b1)
    val stream = spark.readStream.schema("cents LONG, pre BOOLEAN")
      .parquet(src.toString)
    val q = graft.streaming.DriftStream.start(store, stream,
      "cents", "pre", bins = 4, out, ckpt, maxStoreParts = Some(2),
      publishEvery = 2)
    def published() = spark.read.parquet(out)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    def batchTruth(rows: Seq[(Long, Boolean)]) =
      graft.operators.Quality.psiDrift(rows.toDF("cents", "pre"),
        "cents", "pre", bins = 4)
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    try {
      q.processAllAvailable() // batchId 0: publishes
      assert(published() === batchTruth(b1))
      addFile(src, "b2.parquet", b2); q.processAllAvailable()
      // batchId 1: store absorbed b2, publish SKIPPED — the table is
      // exactly the previous publish point, staleness cadence-bounded
      assert(published() === batchTruth(b1))
      addFile(src, "b3.parquet", b3); q.processAllAvailable()
      // batchId 2: publishes — b2 AND b3 both reflected (nothing lost)
      assert(published() === batchTruth(b1 ++ b2 ++ b3))
    } finally q.stop()
  }

  test("retention publish cadence: off-cadence batch appends only, on-cadence matrix equals batch ss05 over everything") {
    import spark.implicits._
    def ts(day: String) = java.sql.Timestamp.valueOf(s"$day 12:00:00")
    def addFile(src: java.nio.file.Path, name: String,
        rows: Seq[(Long, java.sql.Timestamp)]): Unit = {
      val stage = Files.createTempDirectory("graft-cret-stage")
      rows.toDF("user_id", "ts").coalesce(1)
        .write.mode("overwrite").parquet(stage.toString)
      val part = new java.io.File(stage.toString).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath, src.resolve(name))
    }
    val b1 = Seq((1L, ts("2024-01-02")), (2L, ts("2024-01-04")))
    val b2 = Seq((1L, ts("2024-01-09")), (3L, ts("2024-01-10")))
    val b3 = Seq((2L, ts("2024-01-11")))
    val src = Files.createTempDirectory("graft-cret-src")
    val store = Files.createTempDirectory("graft-cret-store").toString + "/pairs"
    val out = Files.createTempDirectory("graft-cret-out").toString
    val ckpt = Files.createTempDirectory("graft-cret-ckpt").toString
    addFile(src, "b1.parquet", b1)
    val stream = spark.readStream
      .schema("user_id LONG, ts TIMESTAMP").parquet(src.toString)
    val q = graft.streaming.RetentionStream.start(store, stream, out, ckpt,
      publishEvery = 2)
    def matrix(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._2)).toSeq
    def truth(rows: Seq[(Long, java.sql.Timestamp)]) =
      matrix(graft.operators.Sessionize.retention(rows.toDF("user_id", "ts")))
    try {
      q.processAllAvailable() // batchId 0: publishes
      assert(matrix(spark.read.parquet(out)) === truth(b1))
      addFile(src, "b2.parquet", b2); q.processAllAvailable()
      // batchId 1: pairs appended, matrix publish skipped
      assert(matrix(spark.read.parquet(out)) === truth(b1))
      assert(spark.read.parquet(store).count() === 4) // b2 absorbed
      addFile(src, "b3.parquet", b3); q.processAllAvailable()
      // batchId 2: publishes over everything, b2 included
      assert(matrix(spark.read.parquet(out)) === truth(b1 ++ b2 ++ b3))
    } finally q.stop()
  }

  test("streaming distinct (HLL): estimate tracks exact cumulative within 5%, fold leaves estimates unchanged") {
    import spark.implicits._
    def addFile(src: java.nio.file.Path, name: String,
        rows: Seq[(String, Long)]): Unit = {
      val stage = Files.createTempDirectory("graft-dstage")
      rows.toDF("event_type", "user_id").coalesce(1)
        .write.mode("overwrite").parquet(stage.toString)
      val part = new java.io.File(stage.toString).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath, src.resolve(name))
    }
    val src = Files.createTempDirectory("graft-d-src")
    val store = Files.createTempDirectory("graft-d-store").toString + "/sk"
    val out = Files.createTempDirectory("graft-d-out").toString
    val ckpt = Files.createTempDirectory("graft-d-ckpt").toString
    // overlapping ids across batches: the union, not a sum, must win
    val b1 = (1L to 40L).map(("a", _)) ++ (1L to 10L).map(("b", _))
    val b2 = (21L to 60L).map(("a", _)) ++ (11L to 15L).map(("b", _))
    val b3 = (1L to 5L).map(("a", _)) // pure replay-overlap batch
    addFile(src, "b1.parquet", b1)
    val stream = spark.readStream
      .schema("event_type STRING, user_id LONG").parquet(src.toString)
    val q = graft.streaming.DistinctStream.start(store, stream,
      "event_type", "user_id", out, ckpt, maxStoreParts = Some(2))
    def published() = spark.read.parquet(out)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    def within5(got: Map[String, Long], exact: Map[String, Long]) =
      exact.forall { case (k, n) =>
        math.abs(got(k) - n) <= math.max(1.0, 0.05 * n) }
    try {
      q.processAllAvailable()
      assert(within5(published(), Map("a" -> 40L, "b" -> 10L)))
      addFile(src, "b2.parquet", b2); q.processAllAvailable()
      assert(within5(published(), Map("a" -> 60L, "b" -> 15L)))
      val beforeFold = published()
      addFile(src, "b3.parquet", b3); q.processAllAvailable()
      // b3 adds no new ids anywhere — idempotent union, and the fold
      // that b3 triggers must leave every estimate identical
      assert(published() === beforeFold)
    } finally q.stop()
    val parts = new java.io.File(store).listFiles()
      .filter(_.isDirectory).map(_.getName).sorted.toSeq
    assert(parts.contains("batch_id=-1"), s"no base after fold: $parts")
    assert(parts.size <= 3, s"store partitions unbounded: $parts")
  }

  test("streaming ER: batch-2 records link to batch-1 entities; merges land as remap rows; compaction cadence safe") {
    import spark.implicits._
    val spec = graft.operators.Er.LinkSpec(
      keyCol = "id",
      blockKeys = Seq(ac => ac("blk")),
      features = Seq(
        "name_dist" -> ((ac, bc) =>
          levenshtein(ac("name"), bc("name")).cast("long")),
        "sz_diff" -> ((ac, bc) => abs(ac("sz") - bc("sz")).cast("long"))),
      keep = col("name_dist") <= 2L,
      isMatch = col("name_dist") <= 1L)
    def addFile(src: java.nio.file.Path, name: String,
        rows: Seq[(Long, String, String, Long)]): Unit = {
      val stage = Files.createTempDirectory("graft-erstage")
      rows.toDF("id", "name", "blk", "sz").coalesce(1)
        .write.mode("overwrite").parquet(stage.toString)
      val part = new java.io.File(stage.toString).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath, src.resolve(name))
    }
    val src = Files.createTempDirectory("graft-er-src")
    val out = Files.createTempDirectory("graft-er-out").toString
    val ckpt = Files.createTempDirectory("graft-er-ckpt").toString
    try {
      graft.operators.Er.writeEntityStore(Seq(
        (1L, "acme corp", "x", 10L), (4L, "zenith", "y", 10L),
        (5L, "acme labs", "x", 10L)).toDF("id", "name", "blk", "sz"),
        "erstream", spec, buckets = 4)
      addFile(src, "b1.parquet", Seq(
        (10L, "acme labz", "x", 10L), (11L, "quark", "y", 5L)))
      val stream = spark.readStream
        .schema("id LONG, name STRING, blk STRING, sz LONG")
        .parquet(src.toString)
      val q = graft.streaming.ErStream.start("erstream", stream, spec,
        out, ckpt, maxFilesPerBucket = Some(1))
      def labels() = graft.operators.Er.entityLabels(spark, "erstream")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      try {
        q.processAllAvailable()
        assert(labels() === Map(1L -> 1L, 4L -> 4L, 5L -> 5L,
          10L -> 5L, 11L -> 11L))
        // batch 2: 20 links to BATCH 1's record 11 — only possible
        // because the stream appended batch 1 to the store; 30 links
        // back to the original corpus
        addFile(src, "b2.parquet", Seq(
          (20L, "quarks", "y", 5L), (30L, "acme corpz", "x", 10L)))
        q.processAllAvailable()
        assert(labels() === Map(1L -> 1L, 4L -> 4L, 5L -> 5L,
          10L -> 5L, 11L -> 11L, 20L -> 11L, 30L -> 1L))
        val resolved = spark.read.parquet(out)
          .collect().map(r => r.getAs[Long]("id") ->
            ((r.getAs[String]("status"), r.getAs[Long]("match_id")))).toMap
        assert(resolved(10L) === (("matched", 5L)))
        assert(resolved(11L) === (("unique", -1L)))
        assert(resolved(20L) === (("matched", 11L)))
        assert(resolved(30L) === (("matched", 1L)))
      } finally q.stop()
      // cadence ran with maxFilesPerBucket=1 inside the stream; one
      // more manual compaction must leave the assignment unchanged
      graft.operators.Er.compactEntityStore(spark, "erstream")
      assert(spark.table("erstream_remap").isEmpty)
      assert(labels() === Map(1L -> 1L, 4L -> 4L, 5L -> 5L,
        10L -> 5L, 11L -> 11L, 20L -> 11L, 30L -> 1L))
    } finally Seq("blocks", "labels", "remap").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS erstream_$t"))
  }

  test("streaming conversion lag: report equals batch ss08 after every batch; cross-batch match and beyond-tolerance finality") {
    import spark.implicits._
    def addFile(src: java.nio.file.Path, name: String,
        rows: Seq[(Long, Long, Long, String)]): Unit = {
      val stage = Files.createTempDirectory("graft-cvstage")
      rows.toDF("user_id", "event_id", "ts_ns", "event_type").coalesce(1)
        .write.mode("overwrite").parquet(stage.toString)
      val part = new java.io.File(stage.toString).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath, src.resolve(name))
    }
    val src = Files.createTempDirectory("graft-cv-src")
    val store = Files.createTempDirectory("graft-cv-store").toString + "/cv"
    val out = Files.createTempDirectory("graft-cv-out").toString
    val ckpt = Files.createTempDirectory("graft-cv-ckpt").toString
    val tol = 50L * 1000000000L
    val G = 1000000000L
    // u1: converts within b1 (lag 2s); u2: signup b1 -> purchase b2
    //     (lag 40s, ACROSS batches); u3: first purchase after signup
    //     is 140s away (> tol) -> resolved unconverted, FINAL; u4:
    //     signup b2 -> purchase b3 (lag 40s); u1 second signup b3
    //     stays pending. In-batch disorder: b1 lists the purchase row
    //     before its signup.
    val b1 = Seq((1L, 2L, 12 * G, "purchase"), (1L, 1L, 10 * G, "signup"),
      (2L, 3L, 20 * G, "signup"))
    val b2 = Seq((2L, 4L, 60 * G, "purchase"), (3L, 5L, 30 * G, "signup"),
      (3L, 6L, 200 * G, "purchase"), (4L, 7L, 90 * G, "signup"))
    val b3 = Seq((4L, 8L, 130 * G, "purchase"), (1L, 9L, 140 * G, "signup"))
    addFile(src, "b1.parquet", b1)
    val stream = spark.readStream
      .schema("user_id LONG, event_id LONG, ts_ns LONG, event_type STRING")
      .parquet(src.toString)
    val q = graft.streaming.ConversionStream.start(store, stream, tol,
      out, ckpt, maxStoreParts = Some(2))
    def published() = spark.read.parquet(out).collect().map(_.toSeq).toSeq
    def batchTruth(rows: Seq[(Long, Long, Long, String)]) =
      graft.operators.Sessionize.conversionLag(
        rows.toDF("user_id", "event_id", "ts_ns", "event_type"), tol)
        .collect().map(_.toSeq).toSeq
    try {
      q.processAllAvailable()
      assert(published() === batchTruth(b1))
      addFile(src, "b2.parquet", b2); q.processAllAvailable()
      assert(published() === batchTruth(b1 ++ b2))
      addFile(src, "b3.parquet", b3); q.processAllAvailable()
      assert(published() === batchTruth(b1 ++ b2 ++ b3))
      val r = spark.read.parquet(out).head
      assert(r.getAs[Long]("n_converted") === 3L)
      assert(r.getAs[Long]("p50_lag_s") === 40L)
      assert(r.getAs[Long]("p90_lag_s") === 40L)
      // the final pending state holds exactly u1's unanswered second
      // signup; u3's signup is GONE (resolved unconverted, final)
      graft.streaming.StoreFold.fold(spark,
        graft.streaming.ConversionStream.twin(store, tol, out), 1, 2L)
      // merged view (a resolution marker may sit in the kept
      // in-flight partial while its signup row folded into the base)
      val pend = spark.read.parquet(s"$store/pending")
        .groupBy(col("event_id")).agg(max(col("resolved")).as("r"))
        .filter(col("r") === 0)
        .select(col("event_id")).collect().map(_.getLong(0)).toSet
      assert(pend === Set(9L))
    } finally q.stop()
    val parts = new java.io.File(s"$store/hist").listFiles()
      .filter(_.isDirectory).map(_.getName).sorted.toSeq
    assert(parts.contains("batch_id=-1"), s"no base after fold: $parts")
  }

  test("streaming funnel: published report equals batch ss04 after every batch; conversion assembled across batches") {
    import spark.implicits._
    def addFile(src: java.nio.file.Path, name: String,
        rows: Seq[(Long, Long, Long, String)]): Unit = {
      val stage = Files.createTempDirectory("graft-fnstage")
      rows.toDF("user_id", "event_id", "ts_ns", "event_type").coalesce(1)
        .write.mode("overwrite").parquet(stage.toString)
      val part = new java.io.File(stage.toString).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath, src.resolve(name))
    }
    val src = Files.createTempDirectory("graft-fn-src")
    val store = Files.createTempDirectory("graft-fn-store").toString + "/fn"
    val out = Files.createTempDirectory("graft-fn-out").toString
    val ckpt = Files.createTempDirectory("graft-fn-ckpt").toString
    val stages = Seq("signup", "view", "purchase")
    val gap = 100L
    // u1: signup+view in b1, purchase in b2 at gap distance 50 — the
    //     conversion completes ACROSS the batch boundary in ONE
    //     session (only the open-state level makes this exact).
    // u2: session closed by the b2 gap split (>100), new session
    //     reaches only view — the stored open session must fold into
    //     the closed counters at its level.
    // u3: appears first in b3 — fresh user mid-stream.
    // out-of-order WITHIN b1 (u1's view lands before signup by id).
    val b1 = Seq((1L, 2L, 20L, "view"), (1L, 1L, 10L, "signup"),
      (2L, 3L, 15L, "signup"), (2L, 4L, 30L, "view"))
    val b2 = Seq((1L, 5L, 70L, "purchase"), (2L, 6L, 400L, "view"))
    val b3 = Seq((3L, 7L, 500L, "signup"), (1L, 8L, 900L, "view"))
    addFile(src, "b1.parquet", b1)
    val stream = spark.readStream
      .schema("user_id LONG, event_id LONG, ts_ns LONG, event_type STRING")
      .parquet(src.toString)
    val q = graft.streaming.FunnelStream.start(store, stream, stages,
      gapNs = gap, out, ckpt, maxStoreParts = Some(2))
    def published() = spark.read.parquet(out).collect().map(_.toSeq).toSeq
    def batchTruth(rows: Seq[(Long, Long, Long, String)]) =
      graft.operators.Sessionize.funnel(
        rows.toDF("user_id", "event_id", "ts_ns", "event_type"),
        stages, gapNs = gap)
        .collect().map(_.toSeq).toSeq
    try {
      q.processAllAvailable()
      assert(published() === batchTruth(b1))
      addFile(src, "b2.parquet", b2); q.processAllAvailable()
      assert(published() === batchTruth(b1 ++ b2))
      // the cross-batch conversion is visible: u1's single session
      // reached purchase even though no single batch contains the
      // whole signup->view->purchase chain
      assert(spark.read.parquet(out).head.getAs[Long]("n_purchase") === 1L)
      addFile(src, "b3.parquet", b3); q.processAllAvailable()
      assert(published() === batchTruth(b1 ++ b2 ++ b3))
      // 5 sessions total: u1 x2 (split by the 70->900 gap), u2 x2,
      // u3 x1 — and exactly one full conversion
      val r = spark.read.parquet(out).head
      assert(r.getAs[Long]("n_sessions") === 5L)
      assert(r.getAs[Long]("n_signup") === 3L)
      assert(r.getAs[Long]("n_purchase") === 1L)
      // contract monitor: zero so far (batches were per-user ordered);
      // an out-of-order event is DETECTED, not silently absorbed
      assert(graft.streaming.FunnelStream.lateEvents(spark, store) === 0L)
      addFile(src, "b4.parquet", Seq((1L, 10L, 100L, "view")))
      q.processAllAvailable()
      assert(graft.streaming.FunnelStream.lateEvents(spark, store) === 1L)
    } finally q.stop()
    for (sub <- Seq("closed", "open")) {
      val parts = new java.io.File(s"$store/$sub").listFiles()
        .filter(_.isDirectory).map(_.getName).sorted.toSeq
      assert(parts.size <= 3, s"store partitions unbounded: $sub $parts")
    }
    // the open store wrote a partial every batch (3 > maxParts=2), so
    // the fold must have merged its closed partials into the base;
    // the closed store only ever landed 2 partials (batch 1 closed no
    // session) and legitimately stays unfolded
    val openParts = new java.io.File(s"$store/open").listFiles()
      .filter(_.isDirectory).map(_.getName).sorted.toSeq
    assert(openParts.contains("batch_id=-1"),
      s"no base after fold: open $openParts")
  }

  test("streaming CDC: I/U/D feed per batch, tombstone re-insert, late data no-regress, fold keeps snapshot") {
    import spark.implicits._
    def addFile(src: java.nio.file.Path, name: String,
        rows: Seq[(Long, String, Long)]): Unit = {
      val stage = Files.createTempDirectory("graft-cdcstage")
      rows.toDF("user_id", "event_type", "ts_ns").coalesce(1)
        .write.mode("overwrite").parquet(stage.toString)
      val part = new java.io.File(stage.toString).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath, src.resolve(name))
    }
    val src = Files.createTempDirectory("graft-cdc-src")
    val store = Files.createTempDirectory("graft-cdc-store").toString + "/state"
    val feed = Files.createTempDirectory("graft-cdc-feed").toString
    val ckpt = Files.createTempDirectory("graft-cdc-ckpt").toString
    val b1 = Seq((1L, "open", 10L), (2L, "open", 20L))
    val b2 = Seq((1L, "upgrade", 30L), (3L, "open", 40L))
    val b3 = Seq((2L, "close", 50L), (1L, "open", 25L)) // D + LATE no-op
    val b4 = Seq((2L, "open", 60L)) // re-insert after tombstone
    addFile(src, "b1.parquet", b1)
    val stream = spark.readStream
      .schema("user_id LONG, event_type STRING, ts_ns LONG")
      .parquet(src.toString)
    val q = graft.streaming.CdcStream.start(store, stream,
      "user_id", "ts_ns", Seq("event_type"),
      deleteWhen = Some("event_type = 'close'"), feed, ckpt,
      maxStoreParts = Some(2))
    def feedOf(b: Long) = spark.read
      .schema("user_id LONG, old_event_type STRING, new_event_type STRING, change_type STRING")
      .parquet(s"$feed/batch_id=$b")
      .collect().map(r => (r.getLong(0), r.getString(3),
        Option(r.getString(1)), Option(r.getString(2)))).toSet
    try {
      q.processAllAvailable()
      assert(feedOf(0) === Set(
        (1L, "I", None, Some("open")), (2L, "I", None, Some("open"))))
      addFile(src, "b2.parquet", b2); q.processAllAvailable()
      assert(feedOf(1) === Set(
        (1L, "U", Some("open"), Some("upgrade")),
        (3L, "I", None, Some("open"))))
      addFile(src, "b3.parquet", b3); q.processAllAvailable()
      // 2 dies; 1's LATE ts=25 event must NOT regress the ts=30 state
      assert(feedOf(2) === Set((2L, "D", Some("open"), None)))
      addFile(src, "b4.parquet", b4); q.processAllAvailable()
      assert(feedOf(3) === Set((2L, "I", None, Some("open"))))
      val snap = graft.streaming.CdcStream
        .snapshot(spark, store, "user_id", Seq("event_type"))
        .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
      assert(snap === Map(1L -> "upgrade", 2L -> "open", 3L -> "open"))
    } finally q.stop()
    val parts = new java.io.File(store).listFiles()
      .filter(_.isDirectory).map(_.getName).sorted.toSeq
    assert(parts.contains("batch_id=-1"), s"no base after fold: $parts")
    assert(parts.size <= 3, s"store partitions unbounded: $parts")
  }

  test("streaming transitions equal batch ar03 after every batch; cross-batch pair bridged") {
    import spark.implicits._
    def addFile(src: java.nio.file.Path, name: String,
        rows: Seq[(Long, Long, Long, String)]): Unit = {
      val stage = Files.createTempDirectory("graft-trstage")
      rows.toDF("user_id", "ts_ns", "event_id", "event_type")
        .coalesce(1).write.mode("overwrite").parquet(stage.toString)
      val part = new java.io.File(stage.toString).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath, src.resolve(name))
    }
    val src = Files.createTempDirectory("graft-tr-src")
    val store = Files.createTempDirectory("graft-tr-store").toString + "/tm"
    val out = Files.createTempDirectory("graft-tr-out").toString
    val ckpt = Files.createTempDirectory("graft-tr-ckpt").toString
    val b1 = Seq((1L, 10L, 1L, "login"), (1L, 20L, 2L, "browse"),
      (2L, 15L, 3L, "login"))
    // u1's purchase bridges to b1's last event (browse -> purchase);
    // u2's browse bridges login -> browse
    val b2 = Seq((1L, 30L, 4L, "purchase"), (2L, 25L, 5L, "browse"))
    val b3 = Seq((2L, 40L, 6L, "purchase")) // triggers the fold too
    addFile(src, "b1.parquet", b1)
    val stream = spark.readStream
      .schema("user_id LONG, ts_ns LONG, event_id LONG, event_type STRING")
      .parquet(src.toString)
    val q = graft.streaming.TransitionStream.start(store, stream, out,
      ckpt, maxStoreParts = Some(2))
    def published() = spark.read.parquet(out)
      .collect().map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    def batchTwin(rows: Seq[(Long, Long, Long, String)]) =
      graft.operators.Basket.transitionMatrix(
        rows.toDF("user_id", "ts_ns", "event_id", "event_type"))
        .collect().map(r => ((r.getString(0), r.getString(1)),
          (r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    try {
      q.processAllAvailable()
      assert(published() === batchTwin(b1))
      assert(published() === Map(("login", "browse") -> ((1L, 1L, 1.0))))
      addFile(src, "b2.parquet", b2); q.processAllAvailable()
      assert(published() === batchTwin(b1 ++ b2))
      // the bridged pair exists even though its events span batches
      assert(published()(("browse", "purchase")) === ((1L, 1L, 1.0)))
      addFile(src, "b3.parquet", b3); q.processAllAvailable()
      assert(published() === batchTwin(b1 ++ b2 ++ b3))
    } finally q.stop()
    val parts = new java.io.File(store + "/pairs").listFiles()
      .filter(_.isDirectory).map(_.getName).sorted.toSeq
    assert(parts.contains("batch_id=-1"), s"no base after fold: $parts")
    assert(parts.size <= 3, s"store partitions unbounded: $parts")
  }

  test("streaming stickiness equals batch ss11 after every batch; fold cadence invariant") {
    import spark.implicits._
    def addFile(src: java.nio.file.Path, name: String,
        rows: Seq[(Long, String)]): Unit = {
      val stage = Files.createTempDirectory("graft-engstage")
      rows.toDF("user_id", "s")
        .select(col("user_id"), col("s").cast("timestamp").as("ts"))
        .coalesce(1).write.mode("overwrite").parquet(stage.toString)
      val part = new java.io.File(stage.toString).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath, src.resolve(name))
    }
    val src = Files.createTempDirectory("graft-eng-src")
    val store = Files.createTempDirectory("graft-eng-store").toString + "/pres"
    val out = Files.createTempDirectory("graft-eng-out").toString
    val ckpt = Files.createTempDirectory("graft-eng-ckpt").toString
    // b1: two users day 1; b2 brings a lapse-window case (u1 returns
    // day 31 — u2's day-1 coverage expired) and a duplicate presence
    // row for u1 day 1 (store DISTINCT must collapse it)
    val b1 = Seq((1L, "2024-01-01 10:00:00"), (2L, "2024-01-01 11:00:00"))
    val b2 = Seq((1L, "2024-01-31 09:00:00"), (1L, "2024-01-01 12:00:00"),
      (2L, "2024-01-20 08:00:00"))
    val b3 = Seq((1L, "2024-01-01 13:00:00")) // pure replay-overlap batch
    addFile(src, "b1.parquet", b1)
    val stream = spark.readStream
      .schema("user_id LONG, ts TIMESTAMP").parquet(src.toString)
    val q = graft.streaming.EngagementStream.start(store, stream, 28,
      out, ckpt, maxStoreParts = Some(2))
    def published() = spark.read.parquet(out)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2)))).toMap
    def batchTwin(rows: Seq[(Long, String)]) =
      graft.operators.Sessionize.stickiness(
        rows.toDF("user_id", "s").select(col("user_id"),
          col("s").cast("timestamp").as("ts")), 28)
        .collect().map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2)))).toMap
    try {
      q.processAllAvailable()
      assert(published() === batchTwin(b1))
      addFile(src, "b2.parquet", b2); q.processAllAvailable()
      assert(published() === batchTwin(b1 ++ b2))
      // day 31: u1 present (dau 1); u2's day-20 still covers -> mau 2
      assert(published()("2024-01-31") === ((1L, 2L)))
      val beforeFold = published()
      addFile(src, "b3.parquet", b3); q.processAllAvailable()
      // b3 adds no new presence — published table identical, and the
      // fold b3 triggers must not change it either
      assert(published() === beforeFold)
    } finally q.stop()
    val parts = new java.io.File(store).listFiles()
      .filter(_.isDirectory).map(_.getName).sorted.toSeq
    assert(parts.contains("batch_id=-1"), s"no base after fold: $parts")
    assert(parts.size <= 3, s"store partitions unbounded: $parts")
  }
}
