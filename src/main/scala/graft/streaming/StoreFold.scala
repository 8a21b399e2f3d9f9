package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.BucketedStore

/** The shared store-fold protocol of the streaming twins: merge every
  * CLOSED `batch_id=` partial into the `batch_id=-1` base when the
  * partition count exceeds `maxParts`, leaving the in-flight batch's
  * partial untouched (so its replay still overwrites its own
  * partition). Crash-safe via the checked tmp/old rename swap, run in
  * the single writer's between-batch quiet window; a fold interrupted
  * at ANY point auto-recovers on the next call (the entry block
  * restores the known-good store from `_fold_old` / discards a
  * never-swapped `_fold_tmp`), so no crash state needs manual repair.
  *
  * Each twin supplies only its MERGE (counts sum, latest-wins
  * max(struct), HLL register union, bar-field merges, histogram sum)
  * — the merge must be lossless/associative over its partials;
  * everything protocol-critical (stale-dir guard, swap ordering,
  * rollback on a failed second rename) lives HERE once.
  *
  * `merge` receives the closed partials (with their `batch_id`
  * column) and returns the folded frame WITHOUT `batch_id`; the
  * protocol stamps `-1` and column-aligns before the partitioned
  * write.
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
  /** Read a published table regardless of publish mode: incremental
    * publish adds a `pk` key-hash partition column (rewrite
    * granularity, not content) — drop it so readers see the same
    * shape either way. Shared by every twin with the
    * `incrementalPubParts` dial. `pk` is dropped ONLY when it is a
    * DIRECTORY partition column of the table (a full-publish payload
    * that legitimately carries a `pk` data column passes through
    * untouched; under the dial the name is reserved —
    * [[publishBatch]] require-enforces it). */
  def readPublished(spark: SparkSession, outPath: String): DataFrame = {
    import org.apache.hadoop.fs.Path
    val df = spark.read.parquet(outPath)
    if (!df.columns.contains("pk")) return df
    val dir = new Path(outPath)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val pkIsDir = fs.exists(dir) && fs.listStatus(dir).exists(s =>
      s.isDirectory && s.getPath.getName.startsWith("pk="))
    if (pkIsDir) df.drop("pk") else df
  }

  /** Start-time dial validation shared by every publish-dialed twin:
    * the two dials are MUTUALLY EXCLUSIVE — `publishEvery` skips
    * whole publishes (recompute-family cadence), `incrementalPubParts`
    * republishes only touched pk partitions; composed, a skipped
    * batch's touched pks would never be republished unless a later
    * batch touched the same keys. */
  def requireDials(incrementalPubParts: Option[Int],
      publishEvery: Int): Unit = {
    incrementalPubParts.foreach(p =>
      require(p >= 1, s"need incrementalPubParts >= 1, got $p"))
    require(publishEvery >= 1, s"need publishEvery >= 1, got $publishEvery")
    require(publishEvery == 1 || incrementalPubParts.isEmpty,
      "publishEvery and incrementalPubParts do not compose: a skipped " +
        "batch's touched pk partitions would never be republished " +
        "unless a later batch touched the same keys")
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
    import org.apache.hadoop.fs.Path
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

  /** The shared per-batch body of every publish-dialed twin — store
    * the batch's partials, publish, fold. Hoisted so the touched-pk
    * prune, the one-file-per-dir write discipline, the reserved-`pk`
    * guard, and the dial marker live ONCE (the key-local twins
    * previously re-implemented this ~identically), and so Scale's
    * `ewmaPublishDial` probe honestly covers all of them: the twins
    * differ only in the `batchPartials`/`publish`/`merge` they plug
    * in, never in the publish path itself.
    *
    *  - Full mode (`incrementalPubParts = None`): store partials in
    *    `batch_id=` partitions; on-cadence (`publishEvery`) batches
    *    recompute `publish(whole store)` and overwrite `outPath`.
    *  - Incremental mode (`Some(p)`): store and published table gain
    *    a `pk = pmod(hash(key), p)` partition column; each batch
    *    recomputes `publish` ONLY over store rows in the pk
    *    partitions its keys touch and dynamically overwrites just
    *    those published dirs. The `touched` collect is ≤ p ints
    *    (dial-bounded, never data-sized). Writes `repartition(pk)`
    *    first: plain hash repartition IS task-aligned for directory
    *    partitioning, so file counts track DIR counts.
    *
    * `publish` receives pk-LESS store rows (pruned in incremental
    * mode, the whole store in full mode) and must return a frame
    * keyed by `pubKeyCol` whose hash matches the store-side
    * `storeKeyCol` hash (same string/typed values); `merge` is the
    * twin's lossless fold merge (sees `pk` when the store carries
    * one). */
  def publishBatch(spark: SparkSession, label: String,
      storePath: String, outPath: String, batchId: Long,
      batchPartials: DataFrame, storeKeyCol: String, pubKeyCol: String,
      publish: DataFrame => DataFrame, merge: DataFrame => DataFrame,
      maxStoreParts: Option[Int], incrementalPubParts: Option[Int],
      publishEvery: Int): Unit = {
    requireDials(incrementalPubParts, publishEvery)
    // `pk` is the dial's reserved rewrite-granularity column — a twin
    // whose data schema carried one would have it silently swallowed
    // by readPublished/the fold prune. Checked BEFORE the marker write
    // so a rejected call leaves no side effect behind.
    incrementalPubParts.foreach { _ =>
      require(!batchPartials.columns.contains("pk"),
        s"$label: the partials schema carries a 'pk' column — the " +
          "name is reserved by incrementalPubParts (it becomes the " +
          "key-hash partition column of the store and published table)")
    }
    checkDialMarker(spark, label, storePath, incrementalPubParts,
      published = false)
    checkDialMarker(spark, label, outPath, incrementalPubParts,
      published = true)
    incrementalPubParts match {
      case None =>
        batchPartials
          .withColumn("batch_id", lit(batchId))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch_id")
          .parquet(storePath)
        if (batchId % publishEvery == 0)
          publish(spark.read.parquet(storePath))
            .write.mode("overwrite").parquet(outPath)
        maxStoreParts.foreach { n =>
          foldPartials(spark, storePath, label, n, batchId, merge)
        }
      case Some(p) =>
        val part = batchPartials
          .withColumn("pk", pmod(hash(col(storeKeyCol)), lit(p)))
        part.withColumn("batch_id", lit(batchId))
          .repartition(col("pk")) // ~one file per pk dir
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch_id", "pk")
          .parquet(storePath)
        // bounded collect: ≤ p distinct pk ints (the dial), never
        // key- or data-sized
        val touched = part.select("pk").distinct()
          .collect().map(_.getInt(0))
        if (touched.nonEmpty) {
          val pruned = spark.read.parquet(storePath)
            .filter(col("pk").isin(touched.map(Int.box): _*))
          val pub = publish(pruned.drop("pk"))
          require(!pub.columns.contains("pk"),
            s"$label: the published schema carries a 'pk' column — " +
              "reserved by incrementalPubParts (readPublished drops " +
              "the partition column of that name)")
          pub.withColumn("pk", pmod(hash(col(pubKeyCol)), lit(p)))
            .repartition(col("pk")) // one file per touched pk dir
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("pk").parquet(outPath)
        }
        maxStoreParts.foreach { n =>
          foldPartials(spark, storePath, label, n, batchId, merge,
            Seq("batch_id", "pk"))
        }
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
    import org.apache.hadoop.fs.Path
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
