package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Dedup

/** Streaming incremental near-dup dedup: a document stream is
  * classified micro-batch by micro-batch against the materialized
  * signature store ([[Dedup.writeSignatureStore]]), and each batch's
  * unique docs are appended, so every later micro-batch dedups against
  * everything that came before. Every stream here runs [[IngestLoop]],
  * which documents the sink and its idempotence under retry.
  */
object DedupStream {

  /** Classify a stream of (doc_id, text) through
    * [[graft.operators.NearDupStore.ingest]] on the signature store; the
    * (doc_id, status, match_id) rows land at `outPath`. With
    * `maxFilesPerBucket` the store compacts on that cadence. */
  def start(store: String, docStream: DataFrame, jaccardMin: Double,
      outPath: String, checkpoint: String,
      maxFilesPerBucket: Option[Int] = None): StreamingQuery =
    IngestLoop.nearDup(Dedup.signatureStore(store, jaccardMin), docStream,
      outPath, checkpoint, maxFilesPerBucket)

  /** [[start]] with live cluster labels
    * ([[graft.operators.NearDupStore.ingestLabeled]]): each row carries
    * the doc's CURRENT cluster_id. `maxFilesPerBucket` compacts the
    * signature store and the label store, which also folds the remap
    * once it outgrows `maxRemapRows` ([[Dedup.maybeCompactLabelStore]]). */
  def startLabeled(store: String, docStream: DataFrame, jaccardMin: Double,
      outPath: String, checkpoint: String,
      maxFilesPerBucket: Option[Int] = None,
      maxRemapRows: Long = 100000L): StreamingQuery =
    IngestLoop.nearDupLabeled(Dedup.signatureStore(store, jaccardMin),
      docStream, outPath, checkpoint, maxFilesPerBucket, maxRemapRows)

  /** Streaming decontamination — d20's production loop: the reference
    * bloom is built ONCE ([[Dedup.writeBloomSidecar]])
    * and every micro-batch probes the same sidecar bytes (loaded once
    * here, not per batch), confirming candidates against `ref` so
    * per-doc counts stay exact. Per-batch cost: one map-only probe of
    * the batch + one candidate-broadcast confirm pass over `ref`; the
    * sidecar rebuilds only when the reference corpus changes. Output
    * (doc_id, n_shared, contaminated) lands partitioned by
    * micro_batch through [[IngestLoop]], idempotent under retry.
    *
    * CONTRACT: `ref` and the sidecar must describe the same corpus.
    * The bloom has no false positives that survive the confirm, but a
    * reference row added AFTER the sidecar was built is invisible to
    * the probe (a false NEGATIVE — its matches are silently missed
    * even though `ref` contains it). `refreshGrowthFactor` closes that
    * gap on a cadence: before each micro-batch the reference's row
    * count is compared against the count stored in the sidecar at
    * build time ([[Dedup.maybeRefreshBloomSidecar]]),
    * and past the factor the bloom is rebuilt, atomically swapped, and
    * reloaded — so reference growth is screened from the NEXT batch
    * on. Stale window: rows added since the last refresh are missed
    * until the trigger fires (bounded by the factor); None keeps the
    * build-once behavior (rebuild + restart to pick up growth).
    */
  def startDecontaminate(sidecarPath: String, ref: => DataFrame,
      docStream: DataFrame, minShared: Int,
      outPath: String, checkpoint: String,
      refreshGrowthFactor: Option[Double] = None,
      bloomExpectedItems: Long = 1L << 20,
      bloomNumBits: Long = 1L << 23): StreamingQuery = {
    // loaded once, reloaded only when the refresh cadence swaps the
    // sidecar — never re-read per batch
    var (n, bf) = Dedup.readBloomSidecar(docStream.sparkSession, sidecarPath)
    IngestLoop.start(docStream, outPath, checkpoint) { batch =>
      val spark = batch.sparkSession
      // `ref` is by-name: a batch DataFrame snapshots its file
      // listing at creation, so a growing reference directory needs
      // a fresh plan per micro-batch (pass `spark.read.parquet(dir)`
      // as the argument) — both the growth probe and the confirm
      // join below must see the CURRENT reference
      val refDf = ref
      refreshGrowthFactor.foreach { f =>
        if (Dedup.maybeRefreshBloomSidecar(spark,
            sidecarPath, refDf, f, bloomExpectedItems, bloomNumBits)) {
          val reloaded = Dedup.readBloomSidecar(spark, sidecarPath)
          n = reloaded._1; bf = reloaded._2
        }
      }
      Dedup.bloomDecontaminateWith(batch, refDf, bf, n, minShared)
    }
  }
}
