package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming EWMA — ts08 kept continuously: the per-key
  * exponentially-weighted trend re-published every micro-batch as
  * events land.
  *
  * State = per-(key, bucket, batch) bucket-total PARTIALS (decimal
  * sums — associative/commutative, so merge order never matters) in
  * `batch_id=` partitions on the shared [[StoreFold]] layout. The
  * published table re-merges the partials to exact per-bucket cents
  * and re-runs [[graft.operators.Timeseries.ewmaFromCents]]'s
  * integer fold END TO END: a late event that lands in an EARLIER
  * bucket legitimately shifts every later bucket's ewma, so the fold
  * for a TOUCHED key always re-runs over that key's full history.
  * Published output is therefore always identical to batch ts08 over
  * every event seen so far (StreamingSpec gates this, late-event case
  * included).
  *
  * PUBLISH MODES. The fold is key-local (key a's ewma never reads key
  * b's buckets), so a batch can only change the published rows of the
  * keys it touches, and both [[StoreFold.KeyLocal]] dials apply. Full
  * (default) re-merges the whole store: per-batch publish cost grows
  * with ACCUMULATED keys × buckets over a months-long stream even when
  * each batch touches a bounded working set. Incremental
  * (`incrementalPubParts = Some(p)`) re-merges only the touched pk
  * partitions: publish cost ∝ touched-pk store rows ≈
  * (1-(1-1/p)^T)·store for T touched keys — flat when the batch
  * working set is bounded, however much history has accumulated
  * (Scale's ewmaStoreFold probe measures this across 48 batches).
  * Read the published table through [[StoreFold.readPublished]];
  * content is publish-mode-independent.
  *
  * SCALE: per batch, one batch-sized partial agg + a touched-pk-sized
  * (incremental) or store-sized (full) re-merge + fold; events never
  * cross a batch boundary twice — only (key, bucket, total) partials
  * do. The fold under the dial is ITSELF incremental ([[StoreFold]]'s
  * pk-store path): it re-merges only the touched pk dirs and parallel
  * byte-copies the rest into the swap target, so untouched history never re-encodes; the residual
  * per-fold constant (pruned-read listing + up-to-p copies) is
  * amortized by `maxStoreParts` — a LARGER value than the
  * full-publish default is usually right in incremental mode.
  */
object EwmaStream {

  /** Per-(key, bucket) decimal totals of one frame — also
    * [[HoltStream]]'s partials. */
  private[streaming] def partials(df: DataFrame, keyCol: String, bucketNs: Long)
      : DataFrame =
    df.select(col(keyCol).cast("string").as("k"),
        expr(s"ts_ns div ${bucketNs}L").as("bucket"),
        col("value").cast("decimal(18,2)").as("vd"))
      .groupBy(col("k"), col("bucket"))
      .agg(sum(col("vd")).cast("decimal(38,2)").as("total"))

  /** Lossless bucket-total merge; keeps the `pk` partition column
    * when the store carries one (pk is functionally dependent on k,
    * so grouping by it never splits a key). */
  private[streaming] def merge(parts: DataFrame): DataFrame = {
    val keys =
      if (parts.columns.contains("pk")) Seq("k", "bucket", "pk")
      else Seq("k", "bucket")
    parts.groupBy(keys.map(col): _*)
      .agg(sum(col("total")).cast("decimal(38,2)").as("total"))
  }

  /** Exact per-(key, bucket) cents over store partials. */
  private[streaming] def cents(store: DataFrame): DataFrame =
    merge(store).select(col("k"), col("bucket"),
      (col("total") * 100).cast("long").as("cents"))

  /** `eventStream` must carry (`keyCol`, ts_ns, value). The
    * publish-side pk hash rides keyCol: the fold output's keyCol IS the
    * store's string k, so both sides bucket identically. */
  def start(storePath: String, eventStream: DataFrame, keyCol: String,
      bucketNs: Long, alphaDen: Long, outPath: String, checkpoint: String,
      maxStoreParts: Option[Int] = None,
      incrementalPubParts: Option[Int] = None,
      publishEvery: Int = 1): StreamingQuery =
    StoreFold.start(eventStream, checkpoint, StoreFold.Twin(
      Seq(StoreFold.Sub(storePath, "ewma", merge)),
      StoreFold.KeyLocal(outPath, publishEvery, incrementalPubParts,
        storeKeyCol = "k", pubKeyCol = keyCol,
        st => graft.operators.Timeseries.ewmaFromCents(cents(st),
          alphaDen, keyCol)),
      maxStoreParts, (batch, _) => Seq(partials(batch, keyCol, bucketNs))))
}
