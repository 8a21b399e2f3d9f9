package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming heavy hitters — t15's Misra-Gries frequent-token sketch
  * maintained across micro-batches. State is store-resident like
  * every streaming state in graft (no executor memory, no watermark-
  * unbounded state), and replay-idempotent.
  *
  * Per micro-batch ([[StoreFold]]'s loop): exact batch token counts
  * (one batch-sized partial-agg shuffle) are MG-truncated to `cap`
  * counters and land as THIS batch's partial. The published sketch is
  * the bulk MG-merge of every partial: sum counts per token, subtract
  * the (cap+1)-th largest combined count, drop non-positives; the fold
  * merges closed partials the same way.
  *
  * GUARANTEE (mergeable summaries, Agarwal et al. 2012, PODS — the
  * same bound t15's batch gate checks): every decrement of Δ at ANY
  * stage (in-batch truncate, publish merge, compaction fold) consumes
  * ≥ (cap+1)·Δ of total count mass, so the total under-count of any
  * token is ≤ N/(cap+1) for N = whole-stream token count — i.e. every
  * token with true count > N/(cap+1) SURVIVES in the published
  * sketch regardless of batch boundaries or fold order. The
  * StreamingSpec gates exactly this against exact whole-stream
  * counts.
  *
  * Store growth is batches × cap rows (KB per batch) until
  * `maxStoreParts` folds closed partials into one base partial.
  */
object HeavyHitterStream {

  /** MG-truncate a (w, cnt) frame to ≤ cap rows: subtract the
    * (cap+1)-th largest count, drop non-positives. The threshold
    * election reads cap+1 rows driver-side (KB, TakeOrdered). */
  private[streaming] def mgTruncate(counts: DataFrame, cap: Int): DataFrame = {
    val top = counts.orderBy(desc("cnt"), col("w")).limit(cap + 1).collect()
    if (top.length <= cap) counts
    else {
      val dec = top.last.getLong(1)
      counts.select(col("w"), (col("cnt") - lit(dec)).as("cnt"))
        .filter(col("cnt") > 0)
    }
  }

  private def batchCounts(batch: DataFrame): DataFrame =
    batch.select(explode(
      filter(split(trim(col("text")), " "), w => w =!= "")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))

  /** Bulk MG-merge of (w, cnt) partials. */
  private def merge(parts: DataFrame, cap: Int): DataFrame =
    mgTruncate(parts.groupBy(col("w")).agg(sum(col("cnt")).as("cnt")), cap)

  /** The current published sketch: bulk MG-merge of all partials. */
  def publishedSketch(spark: SparkSession, storePath: String, cap: Int): DataFrame =
    merge(spark.read.parquet(storePath), cap)

  /** `docStream` must carry (doc_id, text). Published sketch lands at
    * `outPath` (full overwrite, ≤ cap rows); partials accumulate at
    * `storePath`, folded past `maxStoreParts` (None = never). The MG
    * merge truncates against the GLOBAL sketch, so `publishEvery`
    * cadence is the dial. */
  def start(storePath: String, docStream: DataFrame, cap: Int,
      outPath: String, checkpoint: String,
      maxStoreParts: Option[Int] = None,
      publishEvery: Int = 1): StreamingQuery =
    StoreFold.start(docStream, checkpoint, StoreFold.Twin(
      Seq(StoreFold.Sub(storePath, "heavy-hitter", merge(_, cap))),
      StoreFold.Every(outPath, publishEvery, publishedSketch(_, storePath, cap)),
      maxStoreParts, (batch, _) => Seq(mgTruncate(batchCounts(batch), cap))))
}
