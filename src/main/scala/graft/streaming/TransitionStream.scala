package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Basket

/** Streaming Markov transition matrix — ar03 kept continuously, with
  * the cross-batch seam done right: a (prev → cur) pair whose two
  * events land in DIFFERENT micro-batches must still count, so the
  * stream carries a per-user BOUNDARY store (each batch's last event
  * per user) next to the pair-count store, and batch b's first event
  * per user bridges against the boundary of batches < b.
  *
  * Contract: per-user event time is non-decreasing across batches
  * (the standard append/watermark discipline). Under it the boundary
  * row IS the minimal cross-batch state — user-sized, never
  * event-volume.
  *
  * Both stores ride the [[StoreFold]] loop:
  *  - pairs: (src, dst, n) per batch — counts SUM (lossless,
  *    associative), fold = one groupBy.
  *  - bound: (user_id, ts_ns, event_id, event_type) last event per
  *    user per batch — fold = per-user argmax by (ts, id), and batch
  *    b only ever reads partitions with batch_id < b (the fold base
  *    `-1` qualifies: it merges strictly older batches), so a
  *    REPLAYED batch recomputes its pairs from the same immutable
  *    prior state and overwrites its own partitions — idempotent.
  *
  * Published = [[Basket.transitionsFromCounts]] over the summed pair
  * store. StreamingSpec asserts published == batch ar03 over the
  * union after every batch, including a batch whose first event
  * completes a cross-boundary pair.
  */
object TransitionStream {

  private def pairsOf(events: DataFrame, prevBound: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_ns"), col("event_id"))
    // within-batch predecessor; the batch-first event (lag null)
    // bridges to the stored boundary event of strictly older batches
    val withPrev = events
      .select(col("user_id"), col("ts_ns"), col("event_id"),
        col("event_type"))
      .withColumn("prev", lag(col("event_type"), 1).over(w))
    val bridged = withPrev.filter(col("prev").isNull)
      .join(prevBound.select(col("user_id"),
        col("event_type").as("bprev")), Seq("user_id"), "left")
      .select(col("user_id"), col("bprev").as("prev"), col("event_type"))
    withPrev.filter(col("prev").isNotNull)
      .select(col("user_id"), col("prev"), col("event_type"))
      .unionAll(bridged)
      .filter(col("prev").isNotNull)
      .groupBy(col("prev").as("src"), col("event_type").as("dst"))
      .agg(count(lit(1)).as("n"))
  }

  /** Per-user last event of `events` (exact (ts, id) argmax). */
  private def lastPerUser(events: DataFrame): DataFrame =
    events.groupBy(col("user_id"))
      .agg(max(struct(col("ts_ns"), col("event_id"), col("event_type")))
        .as("m"))
      .select(col("user_id"), col("m.ts_ns").as("ts_ns"),
        col("m.event_id").as("event_id"),
        col("m.event_type").as("event_type"))

  /** Boundary state of batches strictly older than `batchId`: the
    * per-user argmax over qualifying partitions (the fold base -1
    * merges only closed — strictly older — batches). */
  private def boundBefore(spark: SparkSession, boundPath: String,
      batchId: Long): DataFrame =
    lastPerUser(spark.read.parquet(boundPath)
      .filter(col("batch_id") < batchId)
      .drop("batch_id"))

  /** Summed pair counts — the published read and the fold. */
  private def pairCounts(parts: DataFrame): DataFrame =
    parts.groupBy(col("src"), col("dst")).agg(sum(col("n")).as("n"))

  /** Published transition table from the summed pair store. */
  def published(spark: SparkSession, pairsPath: String): DataFrame =
    Basket.transitionsFromCounts(pairCounts(spark.read.parquet(pairsPath)))

  /** `events` must carry `user_id`, `ts_ns`, `event_id`, `event_type`
    * with per-user non-decreasing event time across batches. The
    * transition table lands at `outPath` (full overwrite); pair and
    * boundary partials accumulate under `storePath`/pairs and /bound,
    * folded past `maxStoreParts`. The matrix is types², a global
    * rollup, so `publishEvery` cadence is the dial. */
  private[graft] def twin(storePath: String, outPath: String,
      maxStoreParts: Option[Int] = None,
      publishEvery: Int = 1): StoreFold.Twin = {
    val pairsPath = s"$storePath/pairs"
    val boundPath = s"$storePath/bound"
    StoreFold.Twin(
      Seq(StoreFold.Sub(pairsPath, "transitions", pairCounts),
        StoreFold.Sub(boundPath, "transitions-bound", lastPerUser)),
      StoreFold.Every(outPath, publishEvery, published(_, pairsPath)),
      maxStoreParts,
      { (batch, batchId) =>
        val spark = batch.sparkSession
        val bound = new org.apache.hadoop.fs.Path(boundPath)
        val prev =
          if (bound.getFileSystem(spark.sparkContext.hadoopConfiguration)
              .exists(bound)) boundBefore(spark, boundPath, batchId)
          else spark.emptyDataFrame
            .withColumn("user_id", lit(0L))
            .withColumn("event_type", lit("")).limit(0)
        Seq(pairsOf(batch, prev), lastPerUser(batch))
      })
  }

  def start(storePath: String, eventStream: DataFrame, outPath: String,
      checkpoint: String, maxStoreParts: Option[Int] = None,
      publishEvery: Int = 1)
      : StreamingQuery =
    StoreFold.start(eventStream, checkpoint,
      twin(storePath, outPath, maxStoreParts, publishEvery))
}
