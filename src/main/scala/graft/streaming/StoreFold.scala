package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.sources.BucketedStore

/** The one per-batch loop of every streaming twin that keeps its state
  * as `batch_id=` partials, and the fold protocol those partials share
  * (the analytics twins: [[AnomalyStream]], [[BarStream]],
  * [[CdcStream]], [[ConversionStream]], [[DistinctStream]],
  * [[DriftStream]], [[EngagementStream]], [[EwmaStream]],
  * [[FunnelStream]], [[HeavyHitterStream]], [[HoltStream]],
  * [[ThresholdStream]], [[TransitionStream]]). A twin is a [[Twin]]
  * definition — its sub-stores, each with a lossless merge; its
  * partials for a batch; its [[Publish]] — and [[start]] runs it under
  * foreachBatch. Every micro-batch ([[runBatch]]):
  *  1. HEAL every sub-store ([[BucketedStore.recoverSwap]]) before the
  *     twin reads its prior state and before any write: a fold that
  *     died between its two renames left the store's whole history in
  *     `_fold_old`, and a partial written first would re-create the
  *     store directory, publish one batch, and make the history look
  *     like a stale pre-swap copy to delete.
  *  2. WRITE each partial into its sub-store's `batch_id=<id>`
  *     partition with dynamic overwrite.
  *  3. PUBLISH — always a pure function of the post-write store.
  *  4. FOLD each sub-store past `maxStoreParts` ([[foldPartials]]).
  *
  * IDEMPOTENT UNDER RETRY: a replayed batch overwrites its OWN
  * partials (never double-counts) and republishes the same pure
  * function of the store, so a crash at any step converges on replay.
  * Partials that read prior state (a boundary store, open sessions,
  * pending signups) run after the heal and before this batch's writes,
  * and read it through [[state]]: only partials with `batch_id < b`,
  * so a replay never sees its own partial as prior state.
  *
  * CADENCE (`publishEvery = n`, default 1): publish on every n-th
  * batch (`batchId % n == 0`). The store still absorbs every batch
  * losslessly, so an off-cadence published table is exactly the
  * previous publish point's batch-twin output — staleness is bounded
  * by the cadence, correctness never is. It is the dial of every twin
  * whose published table is a global rollup (re-binned histograms,
  * global percentiles, a sketch truncated against the global total,
  * a types² matrix, a one-row report); the key-local twins also have
  * the touched-pk incremental publish ([[KeyLocal]]), and the two
  * dials are mutually exclusive.
  *
  * THE FOLD merges every CLOSED `batch_id=` partial into the
  * `batch_id=-1` base when the partition count exceeds `maxParts`,
  * leaving the in-flight batch's partial untouched (so its replay
  * still overwrites its own partition). Each twin supplies only its
  * MERGE (counts sum, latest-wins max(struct), HLL register union,
  * bar-field merges, Misra-Gries truncate) — lossless/associative over
  * its partials; the swap ([[BucketedStore.swapIn]], via
  * `<store>_fold_tmp` / `_fold_old`) runs in the single writer's
  * between-batch quiet window, and a fold interrupted at ANY point
  * heals on the next batch (or the next [[foldPartials]] call).
  *
  * Secondary-partitioned stores (batch_id × pk, the
  * incremental-publish layout) get an INCREMENTAL fold: only the pk
  * dirs the closed partials touch are re-merged; every untouched
  * base pk dir and the in-flight partial are parallel byte-copied
  * into the swap target, so untouched history never
  * decodes/shuffles/re-encodes. Crash-safety is identical — tmp is
  * still built in full and lands via the same whole-dir rename swap.
  */
object StoreFold {

  /** One `batch_id=`-partial store of a twin. `merge` receives closed
    * partials (with their `batch_id` column, and `pk` when the store
    * carries one) and returns the folded frame WITHOUT `batch_id`;
    * the fold stamps `-1` and column-aligns before the partitioned
    * write. `label` names the store in errors. */
  final case class Sub(path: String, label: String,
      merge: DataFrame => DataFrame)

  /** How a twin publishes once its partials have landed. */
  sealed trait Publish

  /** On every `every`-th batch, `table` (over the store) overwrites
    * `outPath`. */
  final case class Every(outPath: String, every: Int,
      table: SparkSession => DataFrame) extends Publish {
    require(every >= 1, s"need publishEvery >= 1, got $every")
  }

  /** The publish of a key-local twin (one store; `table` never reads
    * across keys), with its two dials:
    *  - `parts = None`: `table(whole store)` overwrites `outPath` on
    *    [[Every]]'s cadence.
    *  - `parts = Some(p)` (`incrementalPubParts`): store and published
    *    table gain a `pk = pmod(hash(key), p)` partition column; each
    *    batch recomputes `table` ONLY over store rows in the pk
    *    partitions its keys touch and dynamically overwrites just those
    *    published dirs. pk-granular (not raw-key) pruning is forced by
    *    overwrite semantics: a rewritten pk dir must carry ALL its
    *    keys' rows. The `touched` collect is ≤ p ints (dial-bounded,
    *    never data-sized); writes `repartition(pk)` first, so file
    *    counts track DIR counts. Read the table through
    *    [[readPublished]].
    * `table` receives pk-LESS store rows and must return a frame keyed
    * by `pubKeyCol` whose hash matches the store-side `storeKeyCol`
    * hash (same string/typed values). The dial is fixed for the life
    * of a store and `pk` is a reserved column name under it (both
    * checked per batch). */
  final case class KeyLocal(outPath: String, every: Int,
      parts: Option[Int], storeKeyCol: String, pubKeyCol: String,
      table: DataFrame => DataFrame) extends Publish {
    parts.foreach(p => require(p >= 1, s"need incrementalPubParts >= 1, got $p"))
    require(every >= 1, s"need publishEvery >= 1, got $every")
    require(every == 1 || parts.isEmpty,
      "publishEvery and incrementalPubParts do not compose: a skipped " +
        "batch's touched pk partitions would never be republished " +
        "unless a later batch touched the same keys")
  }

  /** A change feed: every batch, `rows(store, batchId)` over one cached
    * read of the (single) store lands as this batch's own `batch_id=`
    * partition of `outPath` — a replay overwrites its own feed rows. */
  final case class Feed(outPath: String,
      rows: (DataFrame, Long) => DataFrame) extends Publish

  /** A fold twin: `partials(batch, batchId)` returns one frame per sub,
    * in `subs` order (which is also the write order); it reads a sub's
    * prior state only through [[state]] with `before = batchId`.
    * [[KeyLocal]] and [[Feed]] twins keep one store. */
  final case class Twin(subs: Seq[Sub], publish: Publish,
      maxStoreParts: Option[Int],
      partials: (DataFrame, Long) => Seq[DataFrame]) {
    require(subs.nonEmpty, "a twin needs at least one store")
    publish match {
      case _: Every =>
      case _ => require(subs.size == 1,
        s"${subs.head.label}: a key-local or feed publish reads one store")
    }

    /** The incremental-publish dial, when this twin runs under one. */
    private[StoreFold] def pkParts: Option[Int] = publish match {
      case k: KeyLocal => k.parts
      case _ => None
    }
  }

  /** Run `t` over `stream`, one [[runBatch]] per micro-batch. */
  def start(stream: DataFrame, checkpoint: String, t: Twin): StreamingQuery =
    stream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        runBatch(batch.sparkSession, t, batch, batchId)
      }
      .option("checkpointLocation", checkpoint)
      .start()

  /** One micro-batch of `t`: heal, write, publish, fold. */
  def runBatch(spark: SparkSession, t: Twin, batch: DataFrame,
      batchId: Long): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    t.subs.foreach { s =>
      val dir = new Path(s.path)
      BucketedStore.recoverSwap(dir.getFileSystem(conf), dir, "fold", s.label)
    }
    val parts = t.partials(batch, batchId)
    require(parts.size == t.subs.size,
      s"${t.subs.head.label}: ${parts.size} partials for ${t.subs.size} stores")
    val store = t.subs.head
    val written = t.publish match {
      case k: KeyLocal =>
        // `pk` is the dial's reserved rewrite-granularity column — a
        // twin whose data schema carried one would have it silently
        // swallowed by readPublished/the fold prune. Checked BEFORE the
        // marker write so a rejected call leaves no side effect behind.
        k.parts.foreach { _ =>
          require(!parts.head.columns.contains("pk"),
            s"${store.label}: the partials schema carries a 'pk' column — " +
              "the name is reserved by incrementalPubParts (it becomes the " +
              "key-hash partition column of the store and published table)")
        }
        checkDialMarker(spark, store.label, store.path, k.parts, published = false)
        checkDialMarker(spark, store.label, k.outPath, k.parts, published = true)
        k.parts.fold(parts)(p =>
          Seq(parts.head.withColumn("pk", pmod(hash(col(k.storeKeyCol)), lit(p)))))
      case _ => parts
    }
    t.subs.zip(written).foreach { case (s, df) =>
      writePartial(df, s.path, batchId, t.pkParts.isDefined)
    }
    val publish = t.publish match {
      case KeyLocal(out, n, None, _, _, table) =>
        Every(out, n, s => table(s.read.parquet(store.path)))
      case p => p
    }
    publish match {
      case Every(out, n, table) =>
        if (batchId % n == 0) table(spark).write.mode("overwrite").parquet(out)
      case KeyLocal(out, _, Some(p), _, pubKeyCol, table) =>
        // bounded collect: ≤ p distinct pk ints (the dial), never
        // key- or data-sized
        val touched = written.head.select("pk").distinct()
          .collect().map(_.getInt(0))
        if (touched.nonEmpty) {
          val pub = table(spark.read.parquet(store.path)
            .filter(col("pk").isin(touched.map(Int.box): _*)).drop("pk"))
          require(!pub.columns.contains("pk"),
            s"${store.label}: the published schema carries a 'pk' column — " +
              "reserved by incrementalPubParts (readPublished drops " +
              "the partition column of that name)")
          pub.withColumn("pk", pmod(hash(col(pubKeyCol)), lit(p)))
            .repartition(col("pk")) // one file per touched pk dir
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("pk").parquet(out)
        }
      case Feed(out, rows) =>
        // one store read serves every leg of the feed (released after
        // the write) — not one list+scan pass per leg
        val st = spark.read.parquet(store.path).cache()
        try writePartial(rows(st, batchId), out, batchId, pk = false)
        finally st.unpersist()
      case _: KeyLocal => // mapped to Every above
    }
    t.maxStoreParts.foreach(n => fold(spark, t, n, batchId))
  }

  /** Fold every sub-store of `t` past `maxParts`, keeping batch
    * `keepBatchId`'s partial; returns whether any store folded. */
  def fold(spark: SparkSession, t: Twin, maxParts: Int,
      keepBatchId: Long): Boolean = {
    val cols = if (t.pkParts.isDefined) Seq("batch_id", "pk") else Seq("batch_id")
    t.subs.map(s => foldPartials(spark, s.path, s.label, maxParts,
      keepBatchId, s.merge, cols)).contains(true)
  }

  /** `df` as batch `batchId`'s partition of `path`, dynamic overwrite;
    * with `pk`, one file per (batch, pk) dir (plain hash repartition
    * IS task-aligned for directory partitioning). */
  private def writePartial(df: DataFrame, path: String, batchId: Long,
      pk: Boolean): Unit = {
    val rows = df.withColumn("batch_id", lit(batchId))
    val w = (if (pk) rows.repartition(col("pk")) else rows)
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
    if (pk) w.partitionBy("batch_id", "pk").parquet(path)
    else w.partitionBy("batch_id").parquet(path)
  }

  /** Sub `s`'s state: its partials with `batch_id < before` (all of
    * them by default) through its merge, or no rows of `schema` (DDL)
    * before its first partial lands. The one read of a twin's store: a
    * twin's `partials(batch, b)` reads its prior state with
    * `before = b` (the fold base `-1` merges only closed, older
    * batches), so a batch replayed after its partials landed reads the
    * same state as its first run, never its own partial. */
  def state(spark: SparkSession, s: Sub, schema: String,
      before: Long = Long.MaxValue): DataFrame = {
    val parts =
      try spark.read.parquet(s.path)
      catch {
        case _: org.apache.spark.sql.AnalysisException =>
          spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            org.apache.spark.sql.types.StructType.fromDDL(s"$schema, batch_id BIGINT"))
      }
    s.merge(parts.filter(col("batch_id") < before).drop("batch_id"))
  }

  /** Read a published table regardless of publish mode: incremental
    * publish adds a `pk` key-hash partition column (rewrite
    * granularity, not content) — drop it so readers see the same
    * shape either way. `pk` is dropped ONLY when it is a DIRECTORY
    * partition column of the table (a full-publish payload that
    * legitimately carries a `pk` data column passes through
    * untouched; under the dial the name is reserved). */
  def readPublished(spark: SparkSession, outPath: String): DataFrame = {
    val df = spark.read.parquet(outPath)
    if (!df.columns.contains("pk")) return df
    val dir = new Path(outPath)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val pkIsDir = fs.exists(dir) && fs.listStatus(dir).exists(s =>
      s.isDirectory && s.getPath.getName.startsWith("pk="))
    if (pkIsDir) df.drop("pk") else df
  }

  /** The publish dial is FIXED for the life of a store/outPath: under
    * `incrementalPubParts = p`, keys map to `pk = pmod(hash(k), p)`
    * dirs — restarting with a different p (or switching modes) would
    * remap keys so previously published pk dirs are never overwritten
    * again (stale duplicate rows) and mixed flat/partitioned layouts
    * break partition discovery. A tiny sidecar marker
    * (`<path>_dial`, a sibling so the fold's whole-dir rename swap
    * never moves it) records the dial on first write and fail-fasts
    * on any later mismatch; for pre-marker dirs the layout itself
    * (pk= subdirs present/absent) is cross-checked. BOTH paths carry
    * a marker: storePath and outPath are independent parameters, so
    * a retained published dir paired with a fresh store (or two
    * streams pointed at one outPath with different dials) would pass
    * a store-only check while leaving stale/mixed pk layouts in the
    * published table — exactly what the marker exists to prevent. */
  private def checkDialMarker(spark: SparkSession, label: String,
      path: String, dial: Option[Int], published: Boolean): Unit = {
    val want = dial.map(p => s"pk=$p").getOrElse("full")
    val marker = new Path(path + "_dial")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(marker)) {
      val in = fs.open(marker)
      val got = try new String(in.readAllBytes(), "UTF-8").trim
        finally in.close()
      require(got == want,
        s"$label: publish dial changed against an existing " +
          s"${if (published) "published table" else "store"} — " +
          s"$path was written with '$got', this start() says " +
          s"'$want'; keys would remap across pk dirs and previously " +
          "published partitions would go permanently stale. Use a " +
          "fresh store/outPath or restore the original dial.")
    } else {
      val dir = new Path(path)
      if (fs.exists(dir)) {
        // pre-marker layout cross-check: the store nests pk= under
        // batch_id= dirs; the published table carries pk= at top
        // level. The require fires only when layout EVIDENCE exists
        // (batch_id= dirs for a store; any entry for a published
        // table) — a legacy marker-less dir holding only crash
        // artifacts (_temporary, _SUCCESS) has no layout to contradict
        // and must start cleanly.
        val (hasPk, evidence) =
          if (published)
            (fs.listStatus(dir).exists(s =>
              s.isDirectory && s.getPath.getName.startsWith("pk=")),
              fs.listStatus(dir).nonEmpty)
          else {
            val batchDirs = fs.listStatus(dir).filter(_.isDirectory)
              .map(_.getPath).filter(_.getName.startsWith("batch_id="))
            (batchDirs.exists(b => fs.listStatus(b).exists(s =>
              s.isDirectory && s.getPath.getName.startsWith("pk="))),
              batchDirs.nonEmpty)
          }
        if (evidence)
          require(hasPk == dial.nonEmpty,
            s"$label: existing layout at $path is " +
              s"${if (hasPk) "pk-partitioned" else "flat"} but this " +
              s"start() says '$want' — the dial is fixed for the life " +
              "of a store/outPath; use a fresh path or restore it.")
      }
      val out = fs.create(marker, true)
      try out.write(want.getBytes("UTF-8")) finally out.close()
    }
  }


  /** `partitionCols` must start with `batch_id`; twins whose store
    * carries a secondary partition column (the incremental-publish
    * `pk` key-hash bucket) pass it here so the folded rewrite keeps
    * the layout the publish-side partition pruning depends on. */
  def foldPartials(spark: SparkSession, storePath: String, label: String,
      maxParts: Int, keepBatchId: Long,
      merge: DataFrame => DataFrame,
      partitionCols: Seq[String] = Seq("batch_id")): Boolean = {
    require(maxParts >= 1, s"need maxParts >= 1, got $maxParts")
    require(partitionCols.headOption.contains("batch_id"),
      s"$label fold: partitionCols must lead with batch_id, got $partitionCols")
    val dir = new Path(storePath)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (tmp, _) = BucketedStore.swapPaths(dir, "fold")
    // a fold interrupted at ANY point heals here, so the next
    // micro-batch repairs the store instead of refusing to run
    BucketedStore.recoverSwap(fs, dir, "fold", label)
    if (!fs.exists(dir)) return false
    val parts = fs.listStatus(dir).filter(_.isDirectory)
      .map(_.getPath.getName).filter(_.startsWith("batch_id="))
    if (parts.length <= maxParts) return false
    val all = spark.read.parquet(storePath)
      .withColumn("batch_id", col("batch_id").cast("long"))
    if (partitionCols.size > 1) {
      // --- INCREMENTAL fold for secondary-partitioned (batch_id × pk)
      // stores: only the pk dirs the closed non-base partials touch
      // can change the base, so merge JUST those (partition-pruned
      // read, small shuffle, ≤ touched-many dirs written) and
      // BYTE-COPY everything else — untouched base pk dirs and the
      // in-flight partial — into the swap target. No decode/shuffle/
      // encode for untouched data; crash-safety is unchanged because
      // tmp is still built in full and lands via the same whole-dir
      // rename swap (a crash mid-copy discards tmp like any other
      // half-built tmp). Writes task-align with the layout
      // (repartition on the partition cols → ~one file per dir).
      import org.apache.hadoop.fs.FileUtil
      val pkCol = partitionCols(1)
      // the touched-pk prune compares raw DIR NAMES against the CAST
      // partition column — sound ONLY when every value's dir name IS
      // its cast string. Enforce that instead of assuming it: the
      // column must read back as an integer bucket (digits never
      // escape in path names; a string pk with a space/% would
      // %-encode and silently drop out of BOTH the merge and the
      // base byte-copy), and a null pk (the
      // __HIVE_DEFAULT_PARTITION__ sentinel) has no cast string at
      // all, so it must fail loudly rather than vanish from the fold
      import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
      val pkType = all.schema(pkCol).dataType
      require(Seq(ByteType, ShortType, IntegerType, LongType).contains(pkType),
        s"$label fold: incremental (secondary-partitioned) folds require " +
          s"an integer bucket partition column; $pkCol reads back as " +
          s"$pkType, whose dir names can diverge from the cast string " +
          "(path escaping) and silently drop rows from the fold")
      val conf = spark.sparkContext.hadoopConfiguration
      val keepName = s"batch_id=$keepBatchId"
      val touchedNames: Set[String] = parts.toSeq
        .filter(p => p != keepName && p != "batch_id=-1")
        .flatMap(p => fs.listStatus(new Path(dir, p))
          .filter(_.isDirectory).map(_.getPath.getName)
          .filter(_.startsWith(s"$pkCol=")))
        .toSet
      require(!touchedNames.exists(_.contains("__HIVE_DEFAULT_PARTITION__")),
        s"$label fold: a closed partial carries a NULL $pkCol partition " +
          "— the null sentinel dir has no cast-string match, so its " +
          "rows would silently vanish from the folded base")
      val touchedVals = touchedNames.toSeq.map(_.stripPrefix(s"$pkCol="))
      val folded = merge(all.filter(col("batch_id") =!= keepBatchId &&
          col(pkCol).cast("string").isin(touchedVals: _*)))
        .withColumn("batch_id", lit(-1L))
      folded.select(all.columns.map(col): _*)
        .repartition(partitionCols.map(col): _*)
        .write.partitionBy(partitionCols: _*).parquet(tmp.toString)
      val baseDir = new Path(dir, "batch_id=-1")
      val baseCopies: Seq[(Path, Path)] =
        if (!fs.exists(baseDir)) Seq.empty
        else fs.listStatus(baseDir).filter(_.isDirectory).map(_.getPath)
          .filter(p => p.getName.startsWith(s"$pkCol=") &&
            !touchedNames(p.getName))
          .map(p => p -> new Path(tmp, s"batch_id=-1/${p.getName}")).toSeq
      val keepDir = new Path(dir, keepName)
      val copies: Seq[(Path, Path)] = baseCopies ++
        (if (fs.exists(keepDir)) Seq(keepDir -> new Path(tmp, keepName))
         else Seq.empty)
      // parallel: up to p small dirs to copy — a serial driver loop at
      // ~15 ms/file (local-FS checksum round-trips) would cost more
      // than the rewrite it replaces. Hadoop FileSystem is thread-safe;
      // parallelStream propagates the first failure as an exception,
      // which discards tmp like any other half-built fold.
      import scala.jdk.CollectionConverters._
      copies.asJava.parallelStream().forEach { t =>
        require(FileUtil.copy(fs, t._1, fs, t._2, false, conf),
          s"$label fold: copy ${t._1} -> ${t._2} failed")
      }
    } else {
      // --- classic whole-store rewrite for batch_id-only stores
      val folded = merge(all.filter(col("batch_id") =!= keepBatchId))
        .withColumn("batch_id", lit(-1L))
      val current = all.filter(col("batch_id") === keepBatchId)
      folded.select(current.columns.map(col): _*)
        .unionByName(current)
        .write.partitionBy(partitionCols: _*).parquet(tmp.toString)
    }
    BucketedStore.swapIn(fs, dir, "fold", label)
    true
  }
}
