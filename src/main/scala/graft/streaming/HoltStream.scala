package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming Holt double-exponential smoothing — ts15 kept
  * continuously: the per-key level + linear-trend forecaster
  * re-published every micro-batch as events land (the metrics shape
  * where [[EwmaStream]]'s single EWMA lags every ramp).
  *
  * State = per-(key, bucket, batch) bucket-total PARTIALS (decimal
  * sums — associative/commutative) on the shared [[StoreFold]]
  * layout, exactly [[EwmaStream]]'s store; the published table
  * re-merges them to exact cents and re-runs
  * [[graft.operators.Timeseries.holtFromCents]]'s two-register
  * integer fold END TO END, so a late event that re-opens an early
  * bucket legitimately shifts every later level/trend and published
  * output always equals batch ts15 over every event seen so far
  * (StreamingSpec gates this, late-event case included).
  *
  * The fold is KEY-LOCAL (two registers per key, never reading
  * another key's buckets), so both [[StoreFold.KeyLocal]] dials
  * apply: `publishEvery` cadence, or `incrementalPubParts` touched-pk
  * publish (read through [[StoreFold.readPublished]]).
  *
  * SCALE: [[EwmaStream]]'s exact budget — per batch one batch-sized
  * partial agg + a touched-pk-sized (incremental) or store-sized
  * (full) re-merge + a bucket-sized fold with 2 longs of state per
  * key; events never cross a batch boundary twice, only (key,
  * bucket, total) partials do.
  */
object HoltStream {

  /** `eventStream` must carry (`keyCol`, ts_ns, value). The
    * publish-side pk hash rides keyCol (the fold output's keyCol IS the
    * store's string k, [[EwmaStream]]'s contract). */
  def start(storePath: String, eventStream: DataFrame, keyCol: String,
      bucketNs: Long, alphaDen: Long, betaDen: Long, outPath: String,
      checkpoint: String,
      maxStoreParts: Option[Int] = None,
      incrementalPubParts: Option[Int] = None,
      publishEvery: Int = 1): StreamingQuery =
    StoreFold.start(eventStream, checkpoint, StoreFold.Twin(
      Seq(StoreFold.Sub(storePath, "holt", EwmaStream.merge)),
      StoreFold.KeyLocal(outPath, publishEvery, incrementalPubParts,
        storeKeyCol = "k", pubKeyCol = keyCol,
        st => graft.operators.Timeseries.holtFromCents(EwmaStream.cents(st),
          alphaDen, betaDen, keyCol)),
      maxStoreParts,
      (batch, _) => Seq(EwmaStream.partials(batch, keyCol, bucketNs))))
}
