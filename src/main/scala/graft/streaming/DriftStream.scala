package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming drift monitor: [[graft.operators.Quality.psiDrift]]
  * (dq06) re-published every micro-batch over the WHOLE stream so
  * far — the production shape of distribution monitoring, where the
  * PSI table updates as data lands instead of on a nightly batch.
  *
  * State = per-batch (value → cohort counts) partials on the
  * [[StoreFold]] loop. Counts sum is lossless and associative, so the
  * fold merges closed partials without changing any published number.
  *
  * Late data is handled by construction: PSI is a whole-history
  * statistic, so a late event simply lands in its batch's partial
  * and the next publish reflects it (bins may shift when a late
  * value extends the global [min, max] — exactly what the batch twin
  * would do, which is the parity contract).
  *
  * SCALE: the store holds distinct-value rows (quantize the value
  * upstream — cents already are — if its cardinality is unbounded),
  * never stream length; per batch one batch-sized partial agg + one
  * store-sized rollup + bins-sized math.
  */
object DriftStream {

  private def merge(parts: DataFrame): DataFrame =
    parts.groupBy("c").agg(sum("na").as("na"), sum("nb").as("nb"))

  /** Current published PSI table: dq06 over the merged store. */
  def publishedPsi(spark: SparkSession, storePath: String,
      bins: Int): DataFrame =
    graft.operators.Quality.psiFromCounts(
      merge(spark.read.parquet(storePath)), bins)

  /** `stream` must carry `valCol` (integer-quantized value) and
    * `grpCol` (cohort boolean). The PSI table lands at `outPath`
    * (overwrite per publish). PSI re-bins GLOBALLY (one late value can
    * move every bin boundary), so there is no key-local incremental
    * publish — `publishEvery` cadence is the dial. */
  def start(storePath: String, stream: DataFrame, valCol: String,
      grpCol: String, bins: Int, outPath: String, checkpoint: String,
      maxStoreParts: Option[Int] = None,
      publishEvery: Int = 1): StreamingQuery =
    StoreFold.start(stream, checkpoint, StoreFold.Twin(
      Seq(StoreFold.Sub(storePath, "drift", merge)),
      StoreFold.Every(outPath, publishEvery, publishedPsi(_, storePath, bins)),
      maxStoreParts, (batch, _) => Seq(graft.operators.Quality
        .valueCohortCounts(batch, valCol, grpCol))))
}
