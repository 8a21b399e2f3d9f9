package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming anomalous-bucket detection — ts03's integer-exact flag
  * re-published every micro-batch over the WHOLE stream so far. State
  * is the store-resident per-(key, bucket) count partials (bounded by
  * keys × buckets-touched-per-batch, never event volume), the same
  * no-executor-memory pattern as every streaming state in graft.
  *
  * Per micro-batch ([[StoreFold]]'s loop): exact batch bucket counts
  * (one batch-sized partial-agg shuffle) land as THIS batch's partial.
  * The published anomaly table =
  * [[graft.operators.Timeseries.anomalousFromCounts]] over the store's
  * per-(key, bucket) sums — a pure function of the store, so the output
  * always equals the batch operator run on every event seen so far
  * (StreamingSpec gates exactly this). Unlike the Misra-Gries partials
  * ([[HeavyHitterStream]]), plain counts merge LOSSLESSLY — the fold
  * just sums closed partials.
  */
object AnomalyStream {

  /** Per-(key, bucket) counts of one batch (ts_ns already µs-floored
    * upstream if oracle parity matters downstream). */
  private def batchCounts(batch: DataFrame, bucketNs: Long): DataFrame =
    batch.select(col("event_type"),
        expr(s"ts_ns div ${bucketNs}L").as("bucket"))
      .groupBy(col("event_type"), col("bucket"))
      .agg(count(lit(1)).as("n"))

  /** Lossless counts merge — the published read and the fold. */
  private def merge(parts: DataFrame): DataFrame =
    parts.groupBy(col("event_type"), col("bucket"))
      .agg(sum(col("n")).as("n"))

  /** Current published anomalies: the ts03 flag over the merged
    * store. */
  def publishedAnomalies(spark: SparkSession, storePath: String,
      num: Long, den: Long): DataFrame =
    graft.operators.Timeseries.anomalousFromCounts(
      merge(spark.read.parquet(storePath)), num, den)

  /** `eventStream` must carry (event_type, ts_ns). Published
    * anomalies land at `outPath` (full overwrite — anomaly-sized);
    * count partials accumulate at `storePath`, folded past
    * `maxStoreParts` (None = never). */
  def start(storePath: String, eventStream: DataFrame, bucketNs: Long,
      num: Long, den: Long, outPath: String, checkpoint: String,
      maxStoreParts: Option[Int] = None,
      publishEvery: Int = 1): StreamingQuery =
    StoreFold.start(eventStream, checkpoint, StoreFold.Twin(
      Seq(StoreFold.Sub(storePath, "anomaly", merge)),
      StoreFold.Every(outPath, publishEvery,
        publishedAnomalies(_, storePath, num, den)),
      maxStoreParts, (batch, _) => Seq(batchCounts(batch, bucketNs))))
}
