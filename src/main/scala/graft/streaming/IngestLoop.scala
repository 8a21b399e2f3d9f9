package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.{Dedup, NearDupStore}

/** The one foreachBatch loop every store-ingest stream runs
  * ([[DedupStream]], [[MediaDedupStream]], [[ErStream]]): per
  * micro-batch it runs an ingest against a store, lands the ingest's
  * rows at `outPath` partitioned by a `micro_batch` column, then runs the
  * store's compaction cadence. Per-batch cost ∝ batch size: the store
  * side of every classify join is bucketed and exchange-free, and the
  * corpus is never re-read.
  *
  * foreachBatch because ingest is a batch pipeline with several actions
  * (classify, result write, store appends) — not expressible as one
  * incremental operator.
  *
  * IDEMPOTENT UNDER RETRY. The result sink is dynamic partition
  * overwrite on micro_batch: a batch retried after a crash mid-write
  * replaces exactly its own partition instead of appending duplicate
  * rows. The store appends are not transactional — a crash between the
  * result write and an append replays the batch against a store that
  * already holds its rows — so every ingest run here is itself
  * replay-idempotent: its pair source excludes the batch's own ids
  * from the corpus side, appends skip ids the store already holds
  * (and tombstoned ids), and label merges vanish on replay because
  * they already happened ([[NearDupStore]],
  * [[graft.operators.Er.ingestBatch]]).
  *
  * COMPACTION CADENCE. `compact` runs after the result write, in the
  * single writer's between-batch quiet window, so its directory swaps
  * race nothing; callers pass a self-triggering cadence
  * (`maybeCompact`), which compacts only when a table's deepest bucket
  * passes the file threshold.
  */
private[streaming] object IngestLoop {
  def start(stream: DataFrame, outPath: String, checkpoint: String,
      compact: Option[SparkSession => Unit] = None)(
      ingest: DataFrame => DataFrame): StreamingQuery =
    stream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        ingest(batch).withColumn("micro_batch", lit(batchId))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("micro_batch")
          .parquet(outPath)
        compact.foreach(_(batch.sparkSession))
      }
      .option("checkpointLocation", checkpoint)
      .start()

  /** A near-dup store's stream: [[NearDupStore.ingest]] per batch,
    * [[NearDupStore.maybeCompact]] on the `maxFilesPerBucket` cadence. */
  def nearDup(s: NearDupStore, stream: DataFrame, outPath: String,
      checkpoint: String, maxFilesPerBucket: Option[Int]): StreamingQuery =
    start(stream, outPath, checkpoint,
      maxFilesPerBucket.map(n => spark => s.maybeCompact(spark, n)))(
      b => s.ingest(b.sparkSession, b))

  /** [[nearDup]] with live cluster labels ([[NearDupStore.ingestLabeled]]):
    * the cadence compacts the store and the label store, which also
    * folds the remap once it outgrows `maxRemapRows`
    * ([[Dedup.maybeCompactLabelStore]]). */
  def nearDupLabeled(s: NearDupStore, stream: DataFrame, outPath: String,
      checkpoint: String, maxFilesPerBucket: Option[Int],
      maxRemapRows: Long): StreamingQuery =
    start(stream, outPath, checkpoint,
      maxFilesPerBucket.map(n => spark => {
        s.maybeCompact(spark, n)
        Dedup.maybeCompactLabelStore(spark, s.name, n, maxRemapRows)
      }))(b => s.ingestLabeled(b.sparkSession, b))
}
