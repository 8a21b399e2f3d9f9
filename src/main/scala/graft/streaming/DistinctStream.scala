package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming distinct cardinality per key — q38's HLL sketch kept
  * incrementally: "distinct users per event type, over the whole
  * stream so far", re-published every micro-batch. The fifth
  * mergeable-sketch family member (HLL/theta/Misra-Gries/GK), and the
  * production metric (DAU/MAU-style) a 100 TB event pipeline cannot
  * compute exactly without shuffling every distinct id per batch.
  *
  * State = per-(key, batch) serialized DataSketches HLL sketches
  * (`hll_sketch_agg` binaries, KB each — lgK=12 ≈ 1.6% rse) in
  * `batch_id=` partitions with dynamic overwrite — the
  * [[StoreFold]] layout with sketch bytes instead of counts.
  * Published estimate = `hll_sketch_estimate(hll_union_agg(...))`
  * over the store: HLL union is register-wise max — associative,
  * commutative, idempotent — so the published table is a pure
  * function of the SET of stored sketches: replay converges, and the
  * fold cadence (union closed partials into `batch_id=-1`) cannot
  * change any estimate. Per-batch cost: one batch-sized sketch agg +
  * a store-sized (keys × partitions rows, KB payloads) union — event
  * ids NEVER cross a batch boundary, only registers do.
  *
  * The estimate's CONTRACT (not its value) is the gate, as in q38:
  * within ±5% of the exact cumulative distinct count, and invariant
  * under the fold (StreamingSpec asserts both).
  */
object DistinctStream {

  private def batchSketches(batch: DataFrame, keyCol: String,
      idCol: String): DataFrame =
    batch.groupBy(col(keyCol))
      .agg(hll_sketch_agg(col(idCol), lit(12)).as("sk"))

  private def estimatesOf(parts: DataFrame, keyCol: String): DataFrame =
    parts.groupBy(col(keyCol))
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"), lit(false)))
        .as("n_distinct_est"))

  /** Published estimates: one (key, n_distinct_est) row per key from
    * the unioned store sketches. */
  def estimates(spark: SparkSession, storePath: String,
      keyCol: String): DataFrame =
    estimatesOf(spark.read.parquet(storePath), keyCol)

  /** Register-wise HLL union of closed partials; keeps the `pk`
    * partition column when the store carries one (functionally
    * dependent on the key). */
  private def mergeSketches(closed: DataFrame, keyCol: String): DataFrame = {
    val keys =
      if (closed.columns.contains("pk")) Seq(keyCol, "pk")
      else Seq(keyCol)
    closed.groupBy(keys.map(col): _*)
      .agg(hll_union_agg(col("sk"), lit(false)).as("sk"))
  }

  /** `eventStream` must carry `keyCol` and `idCol`. Estimates land at
    * `outPath` (key-count rows); sketch partials accumulate at
    * `storePath`, folded past `maxStoreParts`. The HLL union is
    * KEY-LOCAL, so both [[StoreFold.KeyLocal]] dials apply
    * (`publishEvery` cadence or `incrementalPubParts` touched-pk
    * publish, read through [[StoreFold.readPublished]]). */
  def start(storePath: String, eventStream: DataFrame, keyCol: String,
      idCol: String, outPath: String, checkpoint: String,
      maxStoreParts: Option[Int] = None,
      publishEvery: Int = 1,
      incrementalPubParts: Option[Int] = None): StreamingQuery =
    StoreFold.start(eventStream, checkpoint, StoreFold.Twin(
      Seq(StoreFold.Sub(storePath, "distinct", mergeSketches(_, keyCol))),
      StoreFold.KeyLocal(outPath, publishEvery, incrementalPubParts,
        storeKeyCol = keyCol, pubKeyCol = keyCol, estimatesOf(_, keyCol)),
      maxStoreParts, (batch, _) => Seq(batchSketches(batch, keyCol, idCol))))
}
