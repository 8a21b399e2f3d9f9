package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming cohort retention — ss05's dashboard shape: the matrix is
  * re-published every micro-batch as new events arrive. State is the
  * COMPACT activity store of distinct (user_id, week) pairs (the
  * bot-proof collapse: bounded by users x weeks, never event volume),
  * not executor memory — the same store-resident pattern as
  * [[DedupStream]].
  *
  * Per micro-batch: collapse the batch to its user-weeks, anti-join
  * the store so only NEVER-SEEN pairs append (a replayed batch
  * appends nothing — the store self-heals, like the signature store),
  * then recompute the matrix from the post-append store content and
  * overwrite the output. The store is read ONCE per batch (cached for
  * the anti-join) and the matrix recomputes from `store ∪ fresh` —
  * exactly the post-append content, so the matrix stays a pure
  * function of the store and a crash between the two writes is
  * harmless: any replay converges to the same output. Per-batch cost:
  * batch collapse + one agg over the compact store; the matrix itself
  * is O(weeks²) rows.
  *
  * MAINTENANCE: every append lands one more parquet file, and a
  * months-long stream would degrade on file listing alone — so the
  * same self-triggering cadence as the signature store
  * ([[graft.operators.NearDupStore.maybeCompact]]): when the
  * store's file count passes `maxStoreFiles`, it is rewritten to
  * size-based file counts ([[graft.sources.Sinks.compactParquet]]) in
  * the single writer's between-batch quiet window. Contents are
  * already distinct (the anti-join invariant), so compaction is a pure
  * rewrite — the matrix is unchanged. Each batch first heals a
  * compaction swap that died (`_compact_old` restored), so the batch
  * never reads a missing store as an empty one.
  */
object RetentionStream {

  /** Parquet data files directly under `path` (KB listing, no read). */
  private def storeFileCount(spark: org.apache.spark.sql.SparkSession,
      path: String): Int = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) 0
    else fs.listStatus(p).count(s =>
      s.isFile && s.getPath.getName.endsWith(".parquet"))
  }

  /** Compact the activity store when its file count exceeds
    * `maxFiles` — returns whether it compacted. Safe to call from the
    * foreachBatch loop: single writer, between-batch quiet window. */
  def maybeCompactRetentionStore(spark: org.apache.spark.sql.SparkSession,
      storePath: String, maxFiles: Int): Boolean = {
    require(maxFiles >= 1, s"need maxFiles >= 1, got $maxFiles")
    if (storeFileCount(spark, storePath) > maxFiles) {
      graft.sources.Sinks.compactParquet(spark, storePath); true
    } else false
  }

  /** `eventStream` must carry (user_id, ts). Matrix lands at
    * `outPath` (full overwrite — it is cohort x offset, tiny);
    * activity pairs accumulate at `storePath`, compacted whenever the
    * file count passes `maxStoreFiles` (None = never, the pre-cadence
    * behavior).
    *
    * `publishEvery`: the matrix is NOT key-local — a user's cohort
    * is their GLOBAL min week, so one late pair can move a user
    * between cohorts and change two cohorts' whole rows, and cohort
    * membership cannot be pruned without a cohort→users index. The
    * honest dial is therefore cadence ([[StoreFold]]'s cadence
    * contract): the anti-join append absorbs every batch. Replay still
    * converges: a replayed batch appends nothing and a replayed
    * publish recomputes the same pure function of the store.
    */
  def start(storePath: String, eventStream: DataFrame,
      outPath: String, checkpoint: String,
      maxStoreFiles: Option[Int] = None,
      publishEvery: Int = 1): StreamingQuery = {
    require(publishEvery >= 1, s"need publishEvery >= 1, got $publishEvery")
    eventStream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val dir = new org.apache.hadoop.fs.Path(storePath)
        graft.sources.BucketedStore.recoverSwap(
          dir.getFileSystem(spark.sparkContext.hadoopConfiguration), dir,
          "compact", "retention")
        val pairs = graft.operators.Sessionize.activityWeeks(batch)
        val existing =
          try spark.read.parquet(storePath).persist()
          catch { case _: org.apache.spark.sql.AnalysisException =>
            spark.createDataFrame(
              spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
              pairs.schema)
          }
        val fresh = pairs.join(existing, Seq("user_id", "week"), "left_anti")
          .persist()
        try {
          fresh.write.mode("append").parquet(storePath)
          // existing ∪ fresh IS the post-append store content — one
          // store read serves both the anti-join and the matrix
          if (batchId % publishEvery == 0)
            graft.operators.Sessionize
              .retentionFromWeeks(existing.unionByName(fresh))
              .write.mode("overwrite").parquet(outPath)
        } finally { fresh.unpersist(); existing.unpersist() }
        maxStoreFiles.foreach(maybeCompactRetentionStore(spark, storePath, _))
        ()
      }
      .option("checkpointLocation", checkpoint)
      .start()
  }
}
