package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StoreFold

/** Crash-recovery contract of the shared store-fold protocol: a fold
  * interrupted at ANY point (between the two renames, after the swap
  * but before cleanup, or mid-write of the tmp output) must
  * auto-recover on the next call with the store's known-good content
  * intact — no manual repair step.
  */
class StoreFoldSpec extends AnyFunSuite {
  private lazy val spark = GraftTestSession.spark

  private def freshStore(): String = {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("graft-fold").toString + "/store"
    Seq((1L, 10L, 0L), (1L, 5L, 1L), (2L, 20L, 2L))
      .toDF("k", "v", "batch_id")
      .write.partitionBy("batch_id").parquet(path)
    path
  }

  private def merge(df: org.apache.spark.sql.DataFrame) =
    df.groupBy(col("k")).agg(sum(col("v")).cast("long").as("v"))

  private def totals(path: String): Map[Long, Long] =
    spark.read.parquet(path).groupBy(col("k"))
      .agg(sum(col("v")).cast("long").as("v"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def fs(path: String) = {
    val p = new org.apache.hadoop.fs.Path(path)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  /** A one-store key-local twin whose batch IS its partial. */
  private def keyLocal(store: String, out: String, dial: Option[Int],
      merge: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame = merge,
      maxStoreParts: Option[Int] = None): StoreFold.Twin =
    StoreFold.Twin(Seq(StoreFold.Sub(store, "t", merge)),
      StoreFold.KeyLocal(out, 1, dial, "k", "k",
        st => st.groupBy(col("k")).agg(sum(col("v")).cast("long").as("v"))),
      maxStoreParts, (batch, _) => Seq(batch))

  test("fold folds closed partials and keeps the in-flight batch") {
    val path = freshStore()
    assert(StoreFold.foldPartials(spark, path, "t", maxParts = 2,
      keepBatchId = 2L, merge))
    // partition-column inference may surface batch_id as INT
    val parts = spark.read.parquet(path)
      .select(col("batch_id").cast("long")).distinct()
      .collect().map(_.getLong(0)).toSet
    assert(parts === Set(-1L, 2L))
    assert(totals(path) === Map(1L -> 15L, 2L -> 20L))
  }

  test("pk-store fold merges only touched pk dirs and byte-copies the rest (content equals a full re-merge)") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("graft-pkfold")
      .toString + "/store"
    // base (batch_id=-1) holds pks 0,1,2; closed partial batch 0
    // touches ONLY pk=1; batch 1 is in-flight
    Seq((1L, 10L, -1L, 0), (2L, 20L, -1L, 1), (3L, 30L, -1L, 2),
        (2L, 5L, 0L, 1),
        (3L, 7L, 1L, 2))
      .toDF("k", "v", "batch_id", "pk")
      .repartition(col("pk"))
      .write.partitionBy("batch_id", "pk").parquet(path)
    def merge(df: org.apache.spark.sql.DataFrame) = {
      val keys = if (df.columns.contains("pk")) Seq("k", "pk") else Seq("k")
      df.groupBy(keys.map(col): _*).agg(sum(col("v")).cast("long").as("v"))
    }
    def files(sub: String): Set[String] =
      Option(new java.io.File(s"$path/$sub").listFiles())
        .map(_.map(_.getName).filter(_.endsWith(".parquet")).toSet)
        .getOrElse(Set.empty)
    val untouched0 = files("batch_id=-1/pk=0")
    val untouched2 = files("batch_id=-1/pk=2")
    val keepFiles = files("batch_id=1/pk=2")
    assert(untouched0.nonEmpty && untouched2.nonEmpty && keepFiles.nonEmpty)
    assert(StoreFold.foldPartials(spark, path, "t", maxParts = 2,
      keepBatchId = 1L, merge, Seq("batch_id", "pk")))
    // content = full re-merge semantics: base absorbs batch 0's pk=1
    // rows, in-flight batch 1 untouched
    val got = spark.read.parquet(path)
      .select(col("k"), col("v"), col("batch_id").cast("long"), col("pk"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
      .toSet
    assert(got === Set((1L, 10L, -1L, 0), (2L, 25L, -1L, 1),
      (3L, 30L, -1L, 2), (3L, 7L, 1L, 2)))
    // untouched base pk dirs and the in-flight partial were COPIED,
    // not rewritten: identical file names (a rewrite mints new uuids)
    assert(files("batch_id=-1/pk=0") === untouched0)
    assert(files("batch_id=-1/pk=2") === untouched2)
    assert(files("batch_id=1/pk=2") === keepFiles)
    // the touched pk dir WAS rewritten
    assert(files("batch_id=-1/pk=1").nonEmpty)
  }

  test("crash between the two renames auto-recovers (dir restored from _fold_old)") {
    val path = freshStore()
    val before = totals(path)
    val (f, dir) = fs(path)
    val old = new org.apache.hadoop.fs.Path(path + "_fold_old")
    val tmp = new org.apache.hadoop.fs.Path(path + "_fold_tmp")
    // simulate: tmp fully written, dir renamed to old, second rename lost
    assert(f.rename(dir, old))
    f.mkdirs(tmp)
    // next call heals and (parts > maxParts) immediately re-folds
    assert(StoreFold.foldPartials(spark, path, "t", maxParts = 2,
      keepBatchId = 2L, merge))
    assert(f.exists(dir) && !f.exists(old) && !f.exists(tmp))
    assert(totals(path) === before)
  }

  test("crash after the swap but before cleanup drops the stale _fold_old") {
    val path = freshStore()
    val (f, dir) = fs(path)
    val old = new org.apache.hadoop.fs.Path(path + "_fold_old")
    f.mkdirs(old) // stale pre-fold copy left behind
    // parts == maxParts: heals the leftovers, then no fold needed
    assert(!StoreFold.foldPartials(spark, path, "t", maxParts = 3,
      keepBatchId = 2L, merge))
    assert(f.exists(dir) && !f.exists(old))
    assert(totals(path) === Map(1L -> 15L, 2L -> 20L))
  }

  test("half-written _fold_tmp is discarded, store untouched") {
    val path = freshStore()
    val (f, dir) = fs(path)
    val tmp = new org.apache.hadoop.fs.Path(path + "_fold_tmp")
    f.mkdirs(tmp)
    assert(!StoreFold.foldPartials(spark, path, "t", maxParts = 3,
      keepBatchId = 2L, merge))
    assert(f.exists(dir) && !f.exists(tmp))
    assert(totals(path) === Map(1L -> 15L, 2L -> 20L))
  }

  test("incremental fold rejects a non-integer pk partition column (dir-name/cast-string divergence)") {
    import spark.implicits._
    // a STRING pk whose values could %-escape in dir names would
    // silently miss the touched prune — must fail loudly instead
    val path = java.nio.file.Files.createTempDirectory("graft-strpk")
      .toString + "/store"
    Seq((1L, 10L, -1L, "a"), (1L, 5L, 0L, "a"), (2L, 7L, 1L, "b"))
      .toDF("k", "v", "batch_id", "pk")
      .write.partitionBy("batch_id", "pk").parquet(path)
    val e = intercept[IllegalArgumentException] {
      StoreFold.foldPartials(spark, path, "t", maxParts = 1,
        keepBatchId = 1L, merge, Seq("batch_id", "pk"))
    }
    assert(e.getMessage.contains("integer bucket"))
  }

  test("publishBatch reserves the pk column name under the incremental dial") {
    import spark.implicits._
    val store = java.nio.file.Files.createTempDirectory("graft-rsv")
      .toString + "/store"
    val out = java.nio.file.Files.createTempDirectory("graft-rsv-out").toString
    val partials = Seq((1L, 10L, 99)).toDF("k", "v", "pk")
    def twin(dial: Option[Int]) = StoreFold.Twin(
      Seq(StoreFold.Sub(store, "t", merge)),
      StoreFold.KeyLocal(out, 1, dial, "k", "k", identity), None,
      (batch, _) => Seq(batch))
    val e = intercept[IllegalArgumentException] {
      StoreFold.runBatch(spark, twin(Some(4)), partials, 0L)
    }
    assert(e.getMessage.contains("reserved"))
    // ...and in full mode the same frame passes through untouched:
    // a legitimate pk DATA column is only forbidden under the dial
    StoreFold.runBatch(spark, twin(None), partials, 0L)
    val pub = StoreFold.readPublished(spark, out)
    assert(pub.columns.toSet === Set("k", "v", "pk", "batch_id"),
      "readPublished must keep a pk DATA column (only a pk DIRECTORY " +
        s"partition is the dial's): ${pub.columns.toSeq}")
  }

  test("publish dial is fixed for the life of a store: marker fail-fasts on p change and mode switch") {
    import spark.implicits._
    def partials = Seq((1L, 10L)).toDF("k", "v")
    def run(store: String, out: String, batchId: Long,
        dial: Option[Int]): Unit =
      StoreFold.runBatch(spark, keyLocal(store, out, dial), partials, batchId)
    // p changed across a restart
    val s1 = java.nio.file.Files.createTempDirectory("graft-dial1")
      .toString + "/store"
    val o1 = java.nio.file.Files.createTempDirectory("graft-dial1-out").toString
    run(s1, o1, 0L, Some(4))
    val e1 = intercept[IllegalArgumentException](run(s1, o1, 1L, Some(8)))
    assert(e1.getMessage.contains("dial changed"))
    run(s1, o1, 1L, Some(4)) // original dial still accepted
    // incremental -> full mode switch
    val e2 = intercept[IllegalArgumentException](run(s1, o1, 2L, None))
    assert(e2.getMessage.contains("dial changed"))
    // pre-marker store (simulated by deleting the marker): the layout
    // itself is cross-checked — a pk-partitioned store refuses full
    val (f1, _) = fs(s1)
    f1.delete(new org.apache.hadoop.fs.Path(s1 + "_dial"), false)
    val e3 = intercept[IllegalArgumentException](run(s1, o1, 2L, None))
    assert(e3.getMessage.contains("layout"))
    // ...and a flat store refuses a pk dial when its marker is gone
    val s2 = java.nio.file.Files.createTempDirectory("graft-dial2")
      .toString + "/store"
    val o2 = java.nio.file.Files.createTempDirectory("graft-dial2-out").toString
    run(s2, o2, 0L, None)
    val (f2, _) = fs(s2)
    f2.delete(new org.apache.hadoop.fs.Path(s2 + "_dial"), false)
    val e4 = intercept[IllegalArgumentException](run(s2, o2, 1L, Some(4)))
    assert(e4.getMessage.contains("layout"))
  }

  test("pre-marker store dir holding only crash artifacts (no batch_id= dirs) starts cleanly under a dial") {
    import spark.implicits._
    // a legacy marker-less store dir left behind by a crash before the
    // first partial landed (_SUCCESS / _temporary only) carries no
    // layout evidence — the cross-check must not refuse it (it
    // previously required hasPk == dial on ANY directory entry)
    val s = java.nio.file.Files.createTempDirectory("graft-crashdir")
      .toString + "/store"
    val o = java.nio.file.Files.createTempDirectory("graft-crashdir-out").toString
    val (f, dir) = fs(s)
    f.mkdirs(dir)
    f.create(new org.apache.hadoop.fs.Path(s + "/_SUCCESS"), true).close()
    StoreFold.runBatch(spark, keyLocal(s, o, Some(4)),
      Seq((1L, 10L)).toDF("k", "v"), 0L)
    assert(StoreFold.readPublished(spark, o)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet === Set((1L, 10L)))
  }

  /** The three states a fold swap can die in, each left on disk for
    * the store at `path` after a completed fold (the states
    * [[graft.sources.BucketedStore.swapIn]] can leave between its
    * steps). */
  private val crashStates: Seq[(String, String => Unit)] = {
    import org.apache.hadoop.fs.{FileUtil, Path}
    def copy(from: String, to: String): Unit = {
      val (f, src) = fs(from)
      assert(FileUtil.copy(f, src, f, new Path(to), false,
        spark.sparkContext.hadoopConfiguration))
    }
    Seq(
      "between the two renames" -> { path =>
        val (f, dir) = fs(path)
        assert(f.rename(dir, new Path(path + "_fold_old")))
        copy(path + "_fold_old", path + "_fold_tmp")
      },
      "after the swap, before cleanup" -> { path =>
        copy(path, path + "_fold_old")
      },
      "mid-write of the tmp output" -> { path =>
        copy(path, path + "_fold_tmp")
      })
  }

  test("the loop heals a crashed fold before it writes: published totals keep the whole history") {
    import spark.implicits._
    val batch = Seq((1L, 10L), (2L, 1L)).toDF("k", "v")
    // the incremental dial's store carries pk; its merge keeps it
    def pkMerge(df: org.apache.spark.sql.DataFrame) = {
      val keys = if (df.columns.contains("pk")) Seq("k", "pk") else Seq("k")
      df.groupBy(keys.map(col): _*).agg(sum(col("v")).cast("long").as("v"))
    }
    def every(store: String, out: String) = StoreFold.Twin(
      Seq(StoreFold.Sub(store, "t", merge)),
      StoreFold.Every(out, 1, _ => merge(spark.read.parquet(store))),
      Some(1), (b, _) => Seq(b))
    val twins: Seq[(String, (String, String) => StoreFold.Twin)] = Seq(
      "cadence publish" -> every,
      "touched-pk publish" -> ((s, o) =>
        keyLocal(s, o, Some(2), pkMerge, maxStoreParts = Some(1))))
    for ((kind, twinOf) <- twins; (state, crash) <- crashStates) {
      val dir = java.nio.file.Files.createTempDirectory("graft-heal").toString
      val (store, out) = (s"$dir/store", s"$dir/out")
      val twin = twinOf(store, out)
      for (b <- 0L to 2L) {
        // batch 1's fold (2 parts > maxStoreParts = 1) landed; its
        // swap then "died" in `state` before batch 2
        if (b == 2L) crash(store)
        StoreFold.runBatch(spark, twin, batch, b)
        val published = StoreFold.readPublished(spark, out)
          .select(col("k"), col("v")).collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(published === Map(1L -> 10L * (b + 1), 2L -> (b + 1)),
          s"$kind, crash $state, after batch $b")
      }
      val (f, _) = fs(store)
      assert(!f.exists(new org.apache.hadoop.fs.Path(store + "_fold_old")) &&
        !f.exists(new org.apache.hadoop.fs.Path(store + "_fold_tmp")),
        s"$kind, crash $state: swap leftovers survived")
    }
  }

  test("a multi-store twin heals every sub-store: streaming transitions equal batch ar03 across crashed folds") {
    import spark.implicits._
    val batches = Seq(
      Seq((1L, 10L, 1L, "login"), (1L, 20L, 2L, "browse"),
        (2L, 15L, 3L, "login")),
      Seq((1L, 30L, 4L, "purchase"), (2L, 25L, 5L, "browse")),
      Seq((2L, 40L, 6L, "purchase")))
    def events(rows: Seq[(Long, Long, Long, String)]) =
      rows.toDF("user_id", "ts_ns", "event_id", "event_type")
    def matrix(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    for ((state, crash) <- crashStates) {
      val dir = java.nio.file.Files.createTempDirectory("graft-heal-tr").toString
      val (store, out) = (s"$dir/tm", s"$dir/out")
      val twin = graft.streaming.TransitionStream.twin(store, out,
        maxStoreParts = Some(1))
      for ((rows, b) <- batches.zipWithIndex) {
        if (b == 2) Seq("pairs", "bound").foreach(s => crash(s"$store/$s"))
        StoreFold.runBatch(spark, twin, events(rows), b.toLong)
        assert(matrix(spark.read.parquet(out)) ===
          matrix(graft.operators.Basket.transitionMatrix(
            events(batches.take(b + 1).flatten))),
          s"crash $state, after batch $b")
      }
    }
  }

  test("a replayed batch reads only older partials: funnel and conversion replays equal the unreplayed run") {
    import spark.implicits._
    def events(rows: Seq[(Long, Long, Long, String)]) =
      rows.toDF("user_id", "event_id", "ts_ns", "event_type")
    val stages = Seq("signup", "view", "purchase")
    // funnel: u1's session continues into batch 1 and ends it with two
    // events (a replay that saw its own open partial would count the
    // earlier one late); u2's batch-0 session is closed by batch 1's gap
    val funnelBatches = Seq(
      Seq((1L, 1L, 10L, "signup"), (2L, 2L, 15L, "signup")),
      Seq((1L, 3L, 20L, "view"), (1L, 4L, 30L, "purchase"),
        (2L, 5L, 400L, "view")))
    // conversion: u1's batch-0 signup converts in batch 1; u3 signs up
    // and converts inside batch 1; u2 stays pending
    val G = 1000000000L
    val convBatches = Seq(
      Seq((1L, 1L, 10 * G, "signup"), (2L, 2L, 20 * G, "signup")),
      Seq((1L, 3L, 12 * G, "purchase"), (3L, 4L, 30 * G, "signup"),
        (3L, 5L, 31 * G, "purchase")))
    def run(twin: StoreFold.Twin, batches: Seq[Seq[(Long, Long, Long, String)]],
        replay: Boolean): Unit = {
      for ((rows, b) <- batches.zipWithIndex)
        StoreFold.runBatch(spark, twin, events(rows), b.toLong)
      if (replay)
        StoreFold.runBatch(spark, twin, events(batches.last),
          batches.size - 1L)
    }
    def rows(out: String) = spark.read.parquet(out).collect().map(_.toSeq).toSeq
    for (maxParts <- Seq(None, Some(1))) {
      val results = Seq(false, true).map { replay =>
        val dir = java.nio.file.Files.createTempDirectory("graft-replay").toString
        val fn = graft.streaming.FunnelStream.twin(s"$dir/fn", stages, 100L,
          s"$dir/fn_out", maxParts)
        run(fn, funnelBatches, replay)
        val cv = graft.streaming.ConversionStream.twin(s"$dir/cv", 50 * G,
          s"$dir/cv_out", maxParts)
        run(cv, convBatches, replay)
        (graft.streaming.FunnelStream.lateEvents(spark, s"$dir/fn"),
          rows(s"$dir/fn_out"), rows(s"$dir/cv_out"))
      }
      val (once, replayed) = (results.head, results(1))
      assert(once._1 === 0L, s"maxStoreParts $maxParts")
      assert(replayed._1 === once._1, s"funnel late events, maxStoreParts $maxParts")
      assert(replayed._2 === once._2, s"funnel report, maxStoreParts $maxParts")
      assert(replayed._3 === once._3, s"conversion report, maxStoreParts $maxParts")
    }
  }
}
