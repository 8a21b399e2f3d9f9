package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode}

/** Write-side surface — the catalog/table-management analog of the
  * reference's catalog API (/root/reference/src/catalog/mod.rs:1,
  * mutable.rs:1; its index support maps to bucketed+sorted layout,
  * which is how Spark gets index-like co-located joins).
  *
  * Scale notes: partitioned layout gives partition pruning on read
  * (PartitionFilters in the scan); bucketed+sorted tables let equal-
  * key joins and aggregations run with zero exchange; for 100 TB
  * land the fact tables bucketed by their join key at write time and
  * every downstream join of two same-bucketed tables skips both
  * shuffles.
  */
object Sinks {

  /** Hive-style partitioned parquet layout (directory per key value). */
  def writePartitioned(df: DataFrame, path: String, partitionCols: String*): Unit =
    df.write.mode(SaveMode.Overwrite).partitionBy(partitionCols: _*).parquet(path)

  /** Run `body` with sorted-bucket scans honoring the table's sortBy
    * order — keenwa's "the index satisfies the ordering enforcer"
    * case (reference rules/implementation/index.rs:19
    * IndexOnlyScanRule + properties/ordering). Spark 4 gates this
    * behind `spark.sql.legacy.bucketedTableScan.outputOrdering`
    * (default OFF: with several files per bucket the scan concatenates
    * them and per-bucket order is NOT guaranteed, so the planner
    * conservatively re-sorts). After a write that lands ONE sorted
    * file per bucket (any [[BucketedStore]] create or compaction),
    * the order IS guaranteed and this scope makes a store-side join
    * plan with ZERO Sort and ZERO Exchange — at 100 TB an elided sort
    * per join is real money (SinksSpec asserts both behaviors).
    * Spark only honors it when every touched bucket has one file;
    * scoping (rather than a session-wide default) keeps freshly
    * appended multi-file stores correct.
    */
  def withSortedBucketScan[T](spark: org.apache.spark.sql.SparkSession)(body: => T): T = {
    val key = "spark.sql.legacy.bucketedTableScan.outputOrdering"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "true")
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  /** Remove a managed table's LEFTOVER warehouse directory when the
    * table is not in this session's catalog — the cross-JVM gotcha:
    * the in-memory catalog dies with the JVM but the warehouse dir
    * survives, and Spark 4's saveAsTable then refuses with
    * LOCATION_ALREADY_EXISTS. Two safety rails for a SHARED warehouse
    * dir: the location is resolved the way saveAsTable resolves it (the
    * name's database, or the CURRENT database — not blindly the
    * warehouse root), and the delete only fires when every file is a
    * table-write artifact (part-files / commit-protocol markers) —
    * anything else might be live data owned by another application,
    * and we refuse rather than delete.
    */
  def clearOrphanLocation(spark: org.apache.spark.sql.SparkSession,
      table: String): Unit = {
    import org.apache.hadoop.fs.Path
    if (!spark.catalog.tableExists(table)) {
      val (db, tbl) = table.split('.') match {
        case Array(d, t) => (d, t)
        case _           => (spark.catalog.currentDatabase, table)
      }
      val loc = new Path(new Path(spark.catalog.getDatabase(db).locationUri),
        tbl.toLowerCase)
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(loc)) {
        val it = fs.listFiles(loc, true)
        while (it.hasNext) {
          val n = it.next().getPath.getName
          val tableArtifact = n.startsWith("part-") || n.startsWith("_SUCCESS") ||
            n.startsWith("_committed") || n.startsWith("_started") ||
            n.startsWith("_temporary") || n.startsWith(".")
          require(tableArtifact,
            s"clearOrphanLocation: orphan location $loc contains non-table file '$n' — " +
              "refusing to delete data this session does not own; remove it manually")
        }
        fs.delete(loc, true)
      }
    }
  }

  /** Compact a parquet directory to ~`targetFileMB`-sized files —
    * the small-files remediation every long-running 100 TB ingest
    * needs (file-count pressure on the namenode/listing, tiny-row-
    * group scan overhead). Size-based partition count from the actual
    * on-disk footprint. The rewrite lands through
    * [[BucketedStore.swapIn]] (tag `compact`), and a crash at any
    * point heals on the next call.
    */
  def compactParquet(spark: org.apache.spark.sql.SparkSession, path: String,
      targetFileMB: Int = 128): Unit = {
    import org.apache.hadoop.fs.Path
    // Hadoop FileSystem API throughout: a 100 TB ingest lives on
    // HDFS/S3/GCS, where java.io.File cannot reach.
    val dir = new Path(path)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a compaction that died at any point heals first (the directory is
    // restored from `_compact_old` if it died between the renames)
    BucketedStore.recoverSwap(fs, dir, "compact", "compactParquet")
    require(fs.exists(dir) && fs.getFileStatus(dir).isDirectory,
      s"compactParquet: $path is not a directory")
    // a repartition+rewrite would FLATTEN a Hive-partitioned layout (and
    // the top-level size scan would see 0 bytes -> 1 file); refuse instead
    val entries = fs.listStatus(dir)
    val subdirs = entries.filter(_.isDirectory)
    require(subdirs.isEmpty,
      s"compactParquet: $path has a partitioned layout (${subdirs.head.getPath.getName}, ...); " +
        "compact each leaf partition directory instead")
    val bytes = entries
      .filter(e => e.isFile && e.getPath.getName.endsWith(".parquet"))
      .map(_.getLen).sum
    val parts = math.max(1, (bytes / (targetFileMB * 1024L * 1024L)).toInt)
    val (tmp, _) = BucketedStore.swapPaths(dir, "compact")
    spark.read.parquet(path).repartition(parts)
      .write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    BucketedStore.swapIn(fs, dir, "compact", "compactParquet")
  }

  /** Z-order clustered parquet: globally sort by the Morton code of
    * two columns so each output file's min/max bounds are tight in
    * BOTH dimensions — parquet predicate pushdown then skips files/
    * row-groups for range filters on either column.
    */
  def writeZOrdered(df: DataFrame, path: String, c1: String, c2: String,
      numFiles: Int): Unit = {
    import org.apache.spark.sql.functions.{col, lit, max, min}
    // normalize both dimensions to 16-bit range first — unbalanced bit
    // widths would make the wider column dominate the curve and leave
    // the narrow one unclustered
    val Array(mn1, mx1, mn2, mx2) = df
      .agg(min(col(c1)), max(col(c1)), min(col(c2)), max(col(c2)))
      .collect().head.toSeq.map(_.toString.toDouble.toLong).toArray
    def scale(c: String, mn: Long, mx: Long) = {
      val span = math.max(mx - mn, 1L)
      (col(c).cast("bigint") - lit(mn)) * lit(65535L) / lit(span)
    }
    val z = graft.functions.zorder(scale(c1, mn1, mx1), scale(c2, mn2, mx2))
    df.repartitionByRange(numFiles, z).sortWithinPartitions(z)
      .write.mode(SaveMode.Overwrite).parquet(path)
  }

  /** Deterministic training-order shuffle, written as ~`nShards`
    * shard files (the final pipeline step: training wants the corpus
    * in pseudo-random order, and REPRODUCIBLY so — a re-run or a
    * retried stage must yield the same sequence, which rules out
    * RNG). Position = a Knuth-style mod-p hash of `key` with `seed`
    * (31-bit domain products, ANSI-overflow-safe), tie-broken by the
    * key itself for a total order. Laid out by `repartitionByRange` +
    * `sortWithinPartitions`, so shard k holds the k-th contiguous
    * slice of the shuffled sequence and reading part files in name
    * order replays the exact global order. At 100 TB this is one
    * range-partitioned sort — sampled bounds, the same plan shape as
    * any global ORDER BY, no single-task window anywhere. A different
    * `seed` reshuffles every epoch without rewriting pipeline logic.
    */
  def writeTrainingShards(df: DataFrame, path: String, nShards: Int,
      key: String = "doc_id", seed: Long = 17L): Unit = {
    import org.apache.spark.sql.functions.{col, lit, pmod}
    // P = 2^31-1 (Mersenne prime): ~2.1B distinct positions, so
    // positions are ~unique per doc at billion-doc scale (the old
    // P≈1e6 collided every 1M-th id into ascending-id runs — weak
    // shuffling for training order). Two multiply-mod rounds mix the
    // affine structure away; all intermediates stay ANSI-safe
    // (pmod result < 2^31; x*427799 < 2^50, x*1000003 < 2^51).
    val P = 2147483647L
    val r1 = pmod((pmod(col(key), lit(P)) + lit(seed % P)) * lit(427799L), lit(P))
    val pos = pmod((r1 + lit(1L)) * lit(1000003L), lit(P))
    df.withColumn("shuffle_pos", pos)
      .repartitionByRange(nShards, col("shuffle_pos"), col(key))
      .sortWithinPartitions(col("shuffle_pos"), col(key))
      .write.mode(SaveMode.Overwrite).parquet(path)
  }

  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).option("header", "true").csv(path)

  def writeJson(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).json(path)

  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).orc(path)
}
