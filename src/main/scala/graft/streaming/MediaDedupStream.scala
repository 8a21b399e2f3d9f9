package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.MediaDedup

/** Streaming incremental PERCEPTUAL dedup — [[DedupStream]]'s streams
  * on the media stores: a fingerprint stream (doc_id, hash_hi, hash_lo —
  * image dHash, audio Haitsma–Kalker) classifies against the bucketed
  * fingerprint store ([[MediaDedup.writeFingerprintStore]]), a
  * frame-hash stream against the video-signature store
  * ([[MediaDedup.writeVideoSignatureStore]]). Every stream here runs
  * [[IngestLoop]], which documents the sink and its idempotence under
  * retry; each new video's frames must arrive WHOLE in one micro-batch.
  */
object MediaDedupStream {

  /** Classify a fingerprint stream; `maxHamming` must match the store's
    * dial tier (the scheme check fails the first batch fast otherwise). */
  def start(store: String, fpStream: DataFrame, maxHamming: Int,
      outPath: String, checkpoint: String,
      maxFilesPerBucket: Option[Int] = None): StreamingQuery =
    IngestLoop.nearDup(MediaDedup.fingerprintStore(store, maxHamming), fpStream,
      outPath, checkpoint, maxFilesPerBucket)

  /** [[start]] with live cluster labels ([[DedupStream.startLabeled]]'s
    * media twin). */
  def startLabeled(store: String, fpStream: DataFrame, maxHamming: Int,
      outPath: String, checkpoint: String,
      maxFilesPerBucket: Option[Int] = None,
      maxRemapRows: Long = 100000L): StreamingQuery =
    IngestLoop.nearDupLabeled(MediaDedup.fingerprintStore(store, maxHamming), fpStream,
      outPath, checkpoint, maxFilesPerBucket, maxRemapRows)

  /** Classify a stream of frame-hash rows against the video store, the
    * maxDf stop-frame valve re-derived from the store every batch. */
  def startVideo(store: String, frameStream: DataFrame, minShared: Int,
      maxDf: Int, outPath: String, checkpoint: String,
      maxFilesPerBucket: Option[Int] = None): StreamingQuery =
    IngestLoop.nearDup(MediaDedup.videoStore(store, minShared, maxDf), frameStream,
      outPath, checkpoint, maxFilesPerBucket)

  /** [[startVideo]] with live cluster labels. */
  def startVideoLabeled(store: String, frameStream: DataFrame,
      minShared: Int, maxDf: Int, outPath: String, checkpoint: String,
      maxFilesPerBucket: Option[Int] = None,
      maxRemapRows: Long = 100000L): StreamingQuery =
    IngestLoop.nearDupLabeled(MediaDedup.videoStore(store, minShared, maxDf), frameStream,
      outPath, checkpoint, maxFilesPerBucket, maxRemapRows)
}
