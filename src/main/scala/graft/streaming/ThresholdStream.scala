package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming per-group percentile thresholds — t20's CCNet-style
  * adaptive quality gate kept continuously: "each language's bottom-p
  * score cutoff, over everything seen so far", re-published every
  * micro-batch so a downstream filter always gates against the
  * freshest distribution.
  *
  * State = per-(group, score) count partials in `batch_id=`
  * partitions with dynamic overwrite (the [[StoreFold]] layout —
  * counts merge LOSSLESSLY, a replayed batch replaces its own
  * partial). The published threshold table is
  * [[graft.operators.TextOps.percentileThresholds]] over the
  * store's merged histogram — a pure function of the store, so
  * replay converges and the published cutoffs are EXACTLY the batch
  * operator's over every row seen so far (StreamingSpec gates this),
  * with none of the sketch error a t-digest stream would carry.
  * State is bounded by groups × distinct scores — the same
  * "histogram ≪ corpus" premise as batch t20; a continuous score
  * belongs in [[graft.operators.TextOps.percentileGateApprox]]'s
  * sketch instead.
  *
  * PUBLISH MODES ([[EwmaStream]]'s pattern — the election is
  * group-local, a batch can only move the cutoffs of groups it
  * touches): full (default) re-elects every group per batch;
  * incremental (`incrementalPubParts = Some(n)`) partitions store
  * and published table by `pk = pmod(hash(group), n)` and re-elects
  * only the touched pk partitions via dynamic overwrite — per-batch
  * publish cost ∝ touched groups' histograms, flat however many
  * groups have accumulated. Read through [[StoreFold.readPublished]];
  * content is publish-mode-independent.
  */
object ThresholdStream {

  private def batchCounts(batch: DataFrame, group: String,
      score: String): DataFrame =
    batch.groupBy(col(group), col(score)).agg(count(lit(1)).as("n"))

  /** Lossless histogram merge; keeps `pk` when the store carries one
    * (functionally dependent on `group`, so grouping by it never
    * splits a group's histogram). */
  private def mergeCounts(parts: DataFrame, group: String,
      score: String): DataFrame = {
    val keys =
      if (parts.columns.contains("pk")) Seq(group, score, "pk")
      else Seq(group, score)
    parts.groupBy(keys.map(col): _*).agg(sum(col("n")).as("n"))
  }

  /** `scoredStream` must carry `group` and integer `score` columns.
    * Thresholds land at `outPath` (group-count rows); count partials
    * accumulate at `storePath`, folded past `maxStoreParts`. */
  def start(storePath: String, scoredStream: DataFrame, group: String,
      score: String, p: Double, outPath: String, checkpoint: String,
      maxStoreParts: Option[Int] = None,
      incrementalPubParts: Option[Int] = None,
      publishEvery: Int = 1): StreamingQuery =
    StoreFold.start(scoredStream, checkpoint, StoreFold.Twin(
      Seq(StoreFold.Sub(storePath, "threshold", mergeCounts(_, group, score))),
      StoreFold.KeyLocal(outPath, publishEvery, incrementalPubParts,
        storeKeyCol = group, pubKeyCol = group,
        st => graft.operators.TextOps.percentileThresholds(
          mergeCounts(st, group, score)
            .select(col(group), col(score), col("n")),
          group, score, p)),
      maxStoreParts, (batch, _) => Seq(batchCounts(batch, group, score))))
}
