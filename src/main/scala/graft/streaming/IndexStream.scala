package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming ANN index maintenance — the ingest half of a continuously
  * growing vector corpus: each micro-batch of (vec_id, embedding) rows
  * is assigned against the STORED quantizer sidecars (centroids +
  * residual codebook — never retrained by ingest) and appended to the
  * IVF-PQ index's codes table, so searches see new vectors as soon as
  * their batch lands. Per-batch cost ∝ batch size: one assign scan, the
  * replay guard's read of the stored vec_ids, one bucket-aligned write.
  *
  * foreachBatch because the append is a batch write, not an
  * incremental operator. Exactly-once: the sink is
  * [[graft.operators.Similarity.appendToIvfPqIndex]], whose
  * [[graft.sources.BucketedStore.unseen]] filter skips the vectors the
  * index already holds, so Structured Streaming's at-least-once batch
  * replay — before or after a compaction — converges to exactly-once
  * index contents (StreamingSpec replays batches and asserts the code
  * rows don't double).
  */
object IndexStream {

  /** Start ingest into the [[graft.operators.Similarity.writeIvfPqIndex]]
    * index at `indexPath`; progress checkpoints at `checkpoint`.
    * `maxFilesPerBucket`: compaction cadence — after each batch's
    * append, compact the codes table iff some bucket holds more than
    * this many files ([[graft.operators.Similarity.maybeCompactIvfPqIndex]]).
    * Runs in the between-batch quiet window of the single writer, so
    * the directory swap races nothing. */
  def start(indexPath: String, vecStream: DataFrame,
      checkpoint: String, maxFilesPerBucket: Option[Int] = None): StreamingQuery =
    vecStream.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.operators.Similarity.appendToIvfPqIndex(batch, indexPath)
        maxFilesPerBucket.foreach(graft.operators.Similarity
          .maybeCompactIvfPqIndex(batch.sparkSession, indexPath, _))
      }
      .option("checkpointLocation", checkpoint)
      .start()
}
