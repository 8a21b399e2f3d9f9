package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming ANN index maintenance — the ingest half of a continuously
  * growing vector corpus: each micro-batch of (vec_id, embedding) rows
  * is assigned against the STORED quantizer sidecars (centroids +
  * residual codebook — never retrained by ingest) and committed into
  * the IVF-PQ index's inverted lists, so searches see new vectors as
  * soon as their batch lands. Per-batch cost ∝ batch size: one assign
  * scan + one batch-sized shuffle + one rename per touched cell; the
  * stored codes are never read.
  *
  * foreachBatch because the append is a batch write with its own
  * commit protocol, not an incremental operator. Exactly-once: the
  * sink is [[graft.operators.Similarity.appendToIvfPqIndexIdempotent]]
  * — staging + deterministic per-(cell, batch) rename commit — so
  * Structured Streaming's at-least-once batch replay converges to
  * exactly-once index contents (StreamingSpec replays a batch and
  * asserts the code rows don't double).
  */
object IndexStream {

  /** Start ingest into the [[graft.operators.Similarity.writeIvfPqIndex]]
    * index at `indexPath`; progress checkpoints at `checkpoint`.
    * `maxFilesPerCell`: compaction cadence — after each batch commit,
    * compact the inverted lists iff some cell directory exceeds this
    * many files ([[graft.operators.Similarity.maybeCompactIvfPqIndex]]).
    * Runs in the between-batch quiet window of the single writer, so
    * the directory swap races nothing. */
  def start(indexPath: String, vecStream: DataFrame,
      checkpoint: String, maxFilesPerCell: Option[Int] = None): StreamingQuery =
    vecStream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.operators.Similarity
          .appendToIvfPqIndexIdempotent(batch, indexPath, batchId)
        maxFilesPerCell.foreach { n =>
          graft.operators.Similarity
            .maybeCompactIvfPqIndex(batch.sparkSession, indexPath, n)
        }
        ()
      }
      .option("checkpointLocation", checkpoint)
      .start()
}
