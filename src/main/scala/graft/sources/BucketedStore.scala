package graft.sources

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, GraftBridge, SaveMode, SparkSession}
import org.apache.spark.sql.execution.datasources.BucketingUtils
import org.apache.spark.sql.functions._

/** The one owner of graft's bucketed store tables — the signature,
  * label, perceptual, ER and postings stores and the IVF-PQ index all
  * keep their rows here and add only their own frames, keys and
  * tombstone scope. keenwa's
  * catalog index support (reference src/catalog/mod.rs) maps to a
  * bucketed + sorted table: an equal-key join reads the store side with
  * zero exchange, and key predicates prune to the buckets holding the
  * keys.
  *
  *  - ONE WRITE PATH. Create, compaction and large appends repartition
  *    on the writer's own bucket id, `pmod(hash(key), n)`, before
  *    `bucketBy`: equal ids land in one task, so every bucket's rows of
  *    one write come from exactly one task and one write lands at most
  *    one (sorted) file per bucket. Repartitioning on the raw key does
  *    NOT task-align with bucketBy on Spark 4 — same-bucket keys split
  *    across tasks and one append lands tasks × buckets files. A
  *    batch-sized append is one task, aligned by construction.
  *  - THE CATALOG KNOWS THE LAYOUT. Bucket count, bucket column, sort
  *    columns and location come from the table's catalog entry, so no
  *    caller re-supplies what the table already knows.
  *  - LAZY DELETION. [[delete]] appends ids to the KB `<scope>_tombstones`
  *    table; [[read]] anti-joins it and [[compact]] drops the rows
  *    physically. The tombstone table survives compaction as a
  *    suppression list — a retired id stays dead under crash-replayed
  *    appends ([[unseen]]).
  *  - CRASH-SAFE COMPACTION. A compaction writes `<location>_compact_tmp`
  *    and swaps the directory in with [[swapIn]], the checked tmp/old
  *    rename protocol the streaming store folds use too; the catalog
  *    entry never changes. A crash at any point heals on the next store
  *    operation ([[recoverSwap]]). Compaction runs in the single
  *    writer's quiet window: a reader started mid-swap needs the next
  *    [[read]] to see the new files.
  */
object BucketedStore {
  /** A bucketed table's layout, from its catalog entry. */
  final case class Layout(buckets: Int, key: String, sortCols: Seq[String],
      location: Path, columns: Seq[String])

  /** Store health: data files, their bytes, the bucket count and the
    * deepest bucket's file count (the append depth since the last
    * compaction — each aligned write adds at most one file per bucket). */
  final case class Stats(files: Int, bytes: Long, buckets: Int,
      filesPerBucket: Int)

  def layout(spark: SparkSession, table: String): Layout = {
    val meta = GraftBridge.tableMetadata(spark, table)
    val spec = meta.bucketSpec.getOrElse(sys.error(s"$table is not a bucketed table"))
    require(spec.bucketColumnNames.size == 1,
      s"$table: stores bucket on one column, got ${spec.bucketColumnNames}")
    Layout(spec.numBuckets, spec.bucketColumnNames.head, spec.sortColumnNames,
      new Path(meta.location), meta.schema.fieldNames.toSeq)
  }

  private def fsOf(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The aligned write every store table goes through. No partition
    * count: adaptive execution coalesces whole shuffle partitions, which
    * keeps each bucket id in one task, so a small append runs as one
    * task instead of one per bucket. */
  private def write(df: DataFrame, table: String, mode: SaveMode,
      buckets: Int, key: String, sortCols: Seq[String],
      path: Option[String]): Unit = {
    val w = df.repartition(pmod(hash(col(key)), lit(buckets)))
      .write.mode(mode).format("parquet")
      .bucketBy(buckets, key).sortBy(sortCols.head, sortCols.tail: _*)
    path.fold(w)(p => w.option("path", p)).saveAsTable(table)
  }

  /** Create (or replace) a store table bucketed on `key`, sorted by
    * `sortCols`. Managed by default; `path` makes it external there
    * (dropping an external table removes only metadata, and the
    * overwrite clears the path, so a rebuild never mixes stale files).
    * A managed table's orphan warehouse directory is cleared first
    * ([[Sinks.clearOrphanLocation]]). */
  def create(df: DataFrame, table: String, buckets: Int, key: String,
      sortCols: Seq[String] = Nil, path: Option[String] = None): Unit = {
    val spark = df.sparkSession
    if (path.isEmpty) Sinks.clearOrphanLocation(spark, table)
    else spark.sql(s"DROP TABLE IF EXISTS $table")
    write(df, table, SaveMode.Overwrite, buckets, key,
      if (sortCols.isEmpty) Seq(key) else sortCols, path)
  }

  /** The table's layout, after healing any crashed compaction. Writers
    * heal every crash state; readers only the one they cannot read
    * past — a missing directory (died between the two renames) — so a
    * reader never discards a live writer's half-built tmp. */
  private def open(spark: SparkSession, table: String, writer: Boolean): Layout = {
    val l = layout(spark, table)
    val fs = fsOf(spark, l.location)
    if (writer || !fs.exists(l.location)) recoverSwap(fs, l.location, "compact", table)
    l
  }

  /** Append rows to a store table (its own layout, one file per bucket
    * at most). An input estimated at no more than the largest shuffle
    * adaptive execution coalesces into one partition
    * ([[GraftBridge.onePartitionShuffleBytes]], 1 MB on a multi-core
    * session under Spark's defaults) is written by ONE task with no
    * exchange: the aligned write would run as one write task too, and
    * one task's writer sorts its rows by bucket id, so it lands the same
    * one sorted file per bucket without the exchange's jobs. The narrow
    * work under the write (posexplode, PQ coding) runs in that task as
    * well; up to the bound it is no slower than the aligned write's
    * parallel map side (`graft.AppendSizing`, test scope). Larger inputs
    * take the aligned write. */
  def append(df: DataFrame, table: String): Unit = {
    val spark = df.sparkSession
    val l = open(spark, table, writer = true)
    if (df.queryExecution.optimizedPlan.stats.sizeInBytes <=
        GraftBridge.onePartitionShuffleBytes(spark))
      df.select(l.columns.map(col): _*).coalesce(1).write.insertInto(table)
    else write(df, table, SaveMode.Append, l.buckets, l.key, l.sortCols, None)
  }

  /** The table's current rows, no tombstone filter. The refresh matters:
    * appends and compactions may come from another session (a
    * streaming writer's clone), whose writes invalidate only its own
    * relation cache — a cached listing would miss appended files or
    * point at compacted-away ones. Metadata-only. */
  private def scan(spark: SparkSession, table: String): DataFrame = {
    open(spark, table, writer = false)
    spark.catalog.refreshTable(table)
    spark.table(table)
  }

  /** The table's live rows: refreshed, minus `scope`'s tombstoned ids. */
  def read(spark: SparkSession, table: String, scope: String,
      idCol: String = "doc_id"): DataFrame =
    dropTombstoned(spark, scope, scan(spark, table), idCol)

  /** `rows` minus ids `table` already holds and minus `scope`'s
    * tombstoned ids — the replay-safe append filter: a crash-replayed
    * batch cannot land its rows twice (the anti-join reads the
    * id-bucketed table with zero store-side exchange), and a retired id
    * cannot resurrect after compaction dropped its rows. */
  def unseen(spark: SparkSession, rows: DataFrame, table: String,
      scope: String, idCol: String = "doc_id"): DataFrame =
    dropTombstoned(spark, scope,
      rows.join(scan(spark, table).select(idCol), Seq(idCol), "left_anti"), idCol)

  /** Compact a store table to one sorted file per bucket, dropping
    * `scope`'s tombstoned rows physically. */
  def compact(spark: SparkSession, table: String, scope: String,
      idCol: String = "doc_id"): Unit =
    rewrite(spark, table, read(spark, table, scope, idCol))

  /** Replace a store table's rows with `rows` (same layout, one sorted
    * file per bucket): written through a throwaway external table into
    * `<location>_compact_tmp`, whose metadata is dropped, then swapped
    * in under the unchanged catalog entry. `rows` may read the table
    * itself — the write completes before the swap. */
  def rewrite(spark: SparkSession, table: String, rows: DataFrame): Unit = {
    val l = open(spark, table, writer = true)
    val (tmp, _) = swapPaths(l.location, "compact")
    try create(rows, s"${table}_compact", l.buckets, l.key, l.sortCols,
      Some(tmp.toString))
    finally spark.sql(s"DROP TABLE IF EXISTS ${table}_compact")
    swapIn(fsOf(spark, l.location), l.location, "compact", table)
    spark.catalog.refreshTable(table)
  }

  /** Data-file statuses under a catalog table's location. A KB-sized
    * listing — never reads the files. */
  private def tableDataFiles(spark: SparkSession, table: String): Array[FileStatus] = {
    val loc = new Path(GraftBridge.tableMetadata(spark, table).location)
    val fs = fsOf(spark, loc)
    if (!fs.exists(loc)) Array.empty
    else fs.listStatus(loc).filter(_.getPath.getName.endsWith(".parquet"))
  }

  def stats(spark: SparkSession, table: String): Stats = {
    val l = open(spark, table, writer = false)
    val files = tableDataFiles(spark, table)
    val depth = files.flatMap(f => BucketingUtils.getBucketId(f.getPath.getName))
      .groupBy(identity).values.map(_.length)
    Stats(files.length, files.map(_.getLen).sum, l.buckets,
      if (depth.isEmpty) 0 else depth.max)
  }

  /** The compaction cadence every store shares: run `compact` when some
    * table's deepest bucket holds more than `maxFilesPerBucket` files
    * (the appends since the last compaction), or when `alsoWhen` holds.
    * Returns whether it compacted — streaming loops call this per
    * micro-batch, turning "compact periodically" into a bounded read
    * amplification with the compaction cost amortized over exactly the
    * appends that caused it. */
  def maybeCompact(spark: SparkSession, tables: Seq[String],
      maxFilesPerBucket: Int, alsoWhen: => Boolean = false)(compact: => Unit): Boolean = {
    require(maxFilesPerBucket >= 1,
      s"need maxFilesPerBucket >= 1, got $maxFilesPerBucket")
    val due = tables.exists(t => stats(spark, t).filesPerBucket > maxFilesPerBucket) ||
      alsoWhen
    if (due) compact
    due
  }

  /** RETIRE ids from every store table of `scope` (takedown / TTL /
    * GDPR): append them to the KB tombstone table. No store rewrite
    * here — reads anti-join the set, compaction reclaims the rows. */
  def delete(spark: SparkSession, scope: String, ids: DataFrame): Unit = {
    Sinks.clearOrphanLocation(spark, s"${scope}_tombstones")
    ids.select(col("doc_id").cast("bigint")).coalesce(1)
      .write.mode(SaveMode.Append).format("parquet")
      .saveAsTable(s"${scope}_tombstones")
  }

  /** The scope's tombstoned ids, if any deletion has ever happened. */
  private def tombstoneIds(spark: SparkSession, scope: String): Option[DataFrame] =
    if (spark.catalog.tableExists(s"${scope}_tombstones"))
      Some(spark.table(s"${scope}_tombstones")) else None

  /** TOMBSTONE BROADCAST CEILING — the size contract of lazy deletion.
    * A tombstone set up to this many bytes (sidecar parquet size, a
    * pure filesystem listing — no job) ships as a broadcast anti-join:
    * zero added exchange. BEYOND the ceiling (a whole-source takedown —
    * think one crawl domain retired — can produce tombstone sets far
    * past any broadcast threshold) reads fall back to a SHUFFLE-HASH
    * anti-join: the tombstone side builds the hash table, the store
    * side streams, at the cost of one exchange of each — correctness
    * never depends on the set fitting in memory.
    * Reclaim the read-side cost by compacting (rows drop physically;
    * the sidecar survives as a suppression list, so a store that
    * retired a large fraction of itself pays the shuffle until its ids
    * age out of the contract). Tunable per session via
    * `graft.tombstone.broadcastMaxBytes` (specs set 0 to force the
    * fallback path). */
  private[graft] def tombstoneBroadcastMax(spark: SparkSession): Long =
    spark.conf.getOption("graft.tombstone.broadcastMaxBytes")
      .map(_.toLong).getOrElse(8L << 20)

  /** `df` minus tombstoned ids — a broadcast anti-join on the KB
    * tombstone set when it is under [[tombstoneBroadcastMax]], a
    * shuffle-hash anti-join beyond it, or `df` unchanged when nothing
    * was ever deleted (no plan change for stores that never delete). */
  def dropTombstoned(spark: SparkSession, scope: String, df: DataFrame,
      idCol: String): DataFrame =
    tombstoneIds(spark, scope).fold(df) { t =>
      val tt = t.select(col("doc_id").as(idCol))
      val bytes = tableDataFiles(spark, s"${scope}_tombstones").map(_.getLen).sum
      if (bytes <= tombstoneBroadcastMax(spark))
        df.join(broadcast(tt), Seq(idCol), "left_anti")
      else df.join(tt.hint("shuffle_hash"), Seq(idCol), "left_anti")
    }

  /** The `_tmp` / `_old` siblings of a directory swapped under `tag`. */
  private[graft] def swapPaths(dir: Path, tag: String): (Path, Path) =
    (new Path(s"${dir}_${tag}_tmp"), new Path(s"${dir}_${tag}_old"))

  /** Crash auto-recovery of a [[swapIn]], in dependency order. A swap
    * that died leaves one of three states, each with an unambiguous
    * known-good restore (so the next operation heals the directory
    * instead of refusing to run):
    *  - dir MISSING + old present: died between the two renames — old
    *    IS the pre-swap content; rename it back.
    *  - dir present + old present: died after the second rename but
    *    before cleanup — the swap landed; old is a stale copy.
    *  - tmp present (old gone after the steps above): tmp was never
    *    swapped in, possibly half-written — discard; the caller reruns. */
  private[graft] def recoverSwap(fs: FileSystem, dir: Path, tag: String,
      label: String): Unit = {
    val (tmp, old) = swapPaths(dir, tag)
    if (!fs.exists(dir) && fs.exists(old))
      require(fs.rename(old, dir), s"$label $tag: recovery rename $old -> $dir failed")
    if (fs.exists(old)) fs.delete(old, true)
    if (fs.exists(tmp)) fs.delete(tmp, true)
  }

  /** Swap a fully written `<dir>_<tag>_tmp` in for `dir`: two checked
    * renames through `<dir>_<tag>_old` (a silent no-op would leave the
    * old content while claiming success), the original restored if the
    * second rename fails. Object-store renames are copies, not atomic —
    * same protocol, weaker atomicity. */
  private[graft] def swapIn(fs: FileSystem, dir: Path, tag: String,
      label: String): Unit = {
    val (tmp, old) = swapPaths(dir, tag)
    require(fs.rename(dir, old), s"$label $tag: rename $dir -> $old failed")
    if (!fs.rename(tmp, dir)) {
      fs.rename(old, dir)
      sys.error(s"$label $tag: rename $tmp -> $dir failed (original restored)")
    }
    fs.delete(old, true)
  }
}
