package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Sessionize

/** Streaming DAU / trailing-MAU stickiness — ss11 kept continuously.
  * The growth dashboard is exactly the metric a team wants LIVE, and
  * the batch plan's input is already the minimal sufficient
  * statistic: the DISTINCT (user, day) presence set. So the stream
  * stores presence rows, not events.
  *
  * State = per-(user, day, batch) distinct presence rows on the
  * [[StoreFold]] loop. Presence union is idempotent — a duplicate
  * (user, day) across batches collapses in the store-wide DISTINCT —
  * so the published table is a pure function of the presence SET, and
  * the fold (DISTINCT over closed partials) cannot change any
  * published row.
  *
  * Published = [[Sessionize.stickinessFromPresence]] over the store:
  * per-user disjoint coverage intervals → per-day ±1 nets → one
  * running sum over the calendar spine. Per-batch cost: one
  * batch-sized distinct + a presence-sized recompute — presence is
  * user×active-day rows, orders of magnitude below event volume, and
  * the bot-proofing is structural (a 10M-event bot day is ONE row).
  *
  * StreamingSpec asserts published == the batch ss11 plan over the
  * events seen so far, after every micro-batch, including a
  * replay-overlap batch and the fold cadence.
  */
object EngagementStream {

  /** The presence SET of partials — the published read and the fold. */
  private def presence(parts: DataFrame): DataFrame =
    parts.select(col("user_id"), col("day")).distinct()

  /** Published stickiness table from the presence store. */
  def published(spark: SparkSession, storePath: String,
      windowDays: Int): DataFrame =
    Sessionize.stickinessFromPresence(
      presence(spark.read.parquet(storePath)), windowDays)

  /** `eventStream` must carry `user_id` and `ts`. The stickiness
    * table lands at `outPath` (full overwrite — grid-day rows);
    * presence partials accumulate at `storePath`, folded past
    * `maxStoreParts`. The histogram re-bins over the global calendar
    * window, so `publishEvery` cadence is the dial. */
  def start(storePath: String, eventStream: DataFrame, windowDays: Int,
      outPath: String, checkpoint: String,
      maxStoreParts: Option[Int] = None,
      publishEvery: Int = 1): StreamingQuery =
    StoreFold.start(eventStream, checkpoint, StoreFold.Twin(
      Seq(StoreFold.Sub(storePath, "engagement", presence)),
      StoreFold.Every(outPath, publishEvery,
        published(_, storePath, windowDays)),
      maxStoreParts, (batch, _) => Seq(batch
        .select(col("user_id"), col("ts").cast("date").as("day"))
        .distinct())))
}
