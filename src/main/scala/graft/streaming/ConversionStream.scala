package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming conversion-lag report — ss08 kept continuously: for
  * every signup matched to the user's FIRST purchase at-or-after it
  * within `tolNs`, the running conversion count and EXACT p50/p90 lag
  * seconds (the same histogram election as the batch operator),
  * re-published every micro-batch and equal to batch
  * [[graft.operators.Sessionize.conversionLag]] over every event seen
  * so far (StreamingSpec gates this, including a conversion whose
  * signup and purchase arrive in different batches).
  *
  * STATE, two sub-stores of the [[StoreFold]] loop:
  *   - `pending/` signups awaiting their first at-or-after purchase:
  *     signup rows (event_id, user_id, tns, resolved=0) plus
  *     RESOLUTION MARKERS (event_id, resolved=1) appended when the
  *     first such purchase arrives — matched-within-tolerance and
  *     beyond-tolerance alike, because "first purchase after" is
  *     decided the moment ANY purchase ≥ tns lands (a later, closer
  *     purchase can never be the FIRST). The merged view keeps
  *     signups with no marker; the fold physically drops resolved
  *     pairs. Bounded by unresolved signups, never event volume.
  *   - `hist/`   (lag_s, n) counts of converted lags — summed
  *     partials; the published percentiles are elected over this
  *     histogram exactly like the batch operator (shared
  *     `TextOps.percentileThresholds`).
  *
  * EXACTNESS: under per-user event-time-ordered batches (the
  * [[FunnelStream]] contract; in-batch disorder fine), a pending
  * signup has seen NO purchase ≥ its tns yet, so the first batch
  * containing one decides the match globally — the incremental
  * resolution replays the batch as-of-forward semantics bit-exactly,
  * and each signup resolves exactly once.
  */
object ConversionStream {

  private def pendingMerge(df: DataFrame): DataFrame =
    df.groupBy(col("event_id"))
      .agg(max(col("resolved")).as("resolved"),
        max(col("user_id")).as("user_id"), max(col("tns")).as("tns"))
      .filter(col("resolved") === 0)
      .select(col("event_id"), col("user_id"), col("tns"), col("resolved"))

  private def histMerge(df: DataFrame): DataFrame =
    df.groupBy(col("lag_s")).agg(sum(col("n")).as("n"))

  private def pendingView(spark: SparkSession, storePath: String): DataFrame =
    pendingMerge(StoreFold.readOr(spark, s"$storePath/pending",
      "event_id BIGINT, user_id BIGINT, tns BIGINT, resolved INT"))

  private def histView(spark: SparkSession, storePath: String): DataFrame =
    histMerge(StoreFold.readOr(spark, s"$storePath/hist",
      "lag_s BIGINT, n BIGINT"))

  /** The published report, batch `conversionLag()`'s exact output
    * shape — one row always (n_converted=0 + NULL percentiles on a
    * conversion-free stream, the same contract). */
  def publishedConversion(spark: SparkSession, storePath: String): DataFrame = {
    val hist = histView(spark, storePath).withColumn("_g", lit(0))
      .localCheckpoint(true)
    def thr(p: Double, out: String) =
      graft.operators.TextOps.percentileThresholds(hist, "_g", "lag_s", p)
        .select(col("thr").as(out))
        .agg(max(col(out)).as(out))
    hist.agg(coalesce(sum(col("n")), lit(0L)).as("n_converted"))
      .crossJoin(broadcast(thr(0.5, "p50_lag_s")))
      .crossJoin(broadcast(thr(0.9, "p90_lag_s")))
  }

  /** This batch's hist and pending partials, resolved against the
    * pending store. */
  private def partials(storePath: String, batch: DataFrame,
      tolNs: Long): Seq[DataFrame] = {
    val spark = batch.sparkSession
    val ev = batch.withColumn("tns", expr("(ts_ns div 1000) * 1000"))
    val newSignups = ev.filter(col("event_type") === "signup")
      .select(col("event_id"), col("user_id"), col("tns"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("tns").as("p_tns"))
      .groupBy(col("user_id"), col("p_tns")).agg(count(lit(1)).as("_c"))
      .drop("_c")
    val cands = pendingView(spark, storePath)
      .select(col("event_id"), col("user_id"), col("tns"))
      .unionByName(newSignups)
      .localCheckpoint(true)
    // first purchase at-or-after each candidate signup, batch-sized
    val first = cands.join(purchases, Seq("user_id"))
      .filter(col("p_tns") >= col("tns"))
      .groupBy(col("event_id")).agg(min(col("p_tns")).as("fp"))
    val resolvedAll = cands.join(first, Seq("event_id"))
      .select(col("event_id"), col("tns"), col("fp"))
      .localCheckpoint(true)
    val lags = resolvedAll.filter(col("fp") - col("tns") <= tolNs)
      .select(expr("(fp - tns) div 1000000000L").as("lag_s"))
    val histPartial = lags.groupBy(col("lag_s")).agg(count(lit(1)).as("n"))
    // pending partial: this batch's NEW signups (pending rows) + a
    // resolution marker for every signup whose first-after purchase
    // arrived (within tolerance or beyond — both are final)
    val pendingPartial = newSignups.withColumn("resolved", lit(0))
      .unionByName(resolvedAll.select(col("event_id"),
        lit(null).cast("bigint").as("user_id"),
        lit(null).cast("bigint").as("tns"), lit(1).as("resolved")))
    Seq(histPartial, pendingPartial)
  }

  /** `eventStream` must carry (user_id, event_id, ts_ns, event_type).
    * The published report elects global percentiles over the whole lag
    * histogram, so `publishEvery` cadence, not key-local incremental
    * publish, is the dial. */
  private[graft] def twin(storePath: String, tolNs: Long, outPath: String,
      maxStoreParts: Option[Int] = None,
      publishEvery: Int = 1): StoreFold.Twin =
    StoreFold.Twin(
      Seq(StoreFold.Sub(s"$storePath/hist", "conv-hist", histMerge),
        StoreFold.Sub(s"$storePath/pending", "conv-pending", pendingMerge)),
      StoreFold.Every(outPath, publishEvery, publishedConversion(_, storePath)),
      maxStoreParts, (batch, _) => partials(storePath, batch, tolNs))

  def start(storePath: String, eventStream: DataFrame, tolNs: Long,
      outPath: String, checkpoint: String,
      maxStoreParts: Option[Int] = None,
      publishEvery: Int = 1): StreamingQuery =
    StoreFold.start(eventStream, checkpoint,
      twin(storePath, tolNs, outPath, maxStoreParts, publishEvery))
}
