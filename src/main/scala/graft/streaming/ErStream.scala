package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Er

/** Streaming incremental entity resolution: a record stream is resolved
  * micro-batch by micro-batch against the bucketed entity store
  * ([[Er.writeEntityStore]]) through [[Er.ingestBatch]], each batch's
  * records appended so later micro-batches link against them, entity
  * merges landing as KB remap rows. Runs [[IngestLoop]], which
  * documents the sink and its idempotence under retry.
  */
object ErStream {

  /** `recordStream` columns must match the store's record schema
    * (including `spec.keyCol`). Per-record resolutions land at
    * `outPath`; the store compacts on the `maxFilesPerBucket` cadence
    * ([[Er.maybeCompactEntityStore]]). */
  def start(store: String, recordStream: DataFrame, spec: Er.LinkSpec,
      outPath: String, checkpoint: String,
      maxFilesPerBucket: Option[Int] = None): StreamingQuery =
    IngestLoop.start(recordStream, outPath, checkpoint,
      maxFilesPerBucket.map(n => spark => Er.maybeCompactEntityStore(spark, store, n)))(
      b => Er.ingestBatch(b.sparkSession, store, b, spec))
}
