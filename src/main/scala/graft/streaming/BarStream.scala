package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming OHLC bars — ts02 kept continuously: per (key, bucket)
  * open/high/low/close/n/total re-published every micro-batch as
  * events land (the live-dashboard shape; late events fold into
  * their bar exactly, because the merge is event-time, not
  * arrival-time).
  *
  * State = per-(key, bucket, batch) bar PARTIALS in `batch_id=`
  * partitions with dynamic overwrite (the [[StoreFold]] layout).
  * Each field's merge is associative/commutative: n/total sum
  * (decimal-exact), high max, low min, and open/close ride
  * min/max(struct(ts, id, value)) — the (ts, id) total order makes
  * first/last mergeable across partials without replaying events, so
  * the published table is a pure function of the store and ALWAYS
  * equals batch [[graft.operators.Timeseries.ohlcBars]] over every
  * event seen so far (StreamingSpec gates this). The fold cadence
  * merges closed partials losslessly into `batch_id=-1`.
  *
  * SCALE: per batch, one batch-sized partial agg + a store-sized
  * (keys × buckets-touched × partitions) re-merge; event values
  * never cross a batch boundary twice — only bar-sized partials do.
  */
object BarStream {

  private def ord(ts: String, id: String, v: String) =
    struct(col(ts), col(id), col(v))

  /** One frame's bar partials: key, bucket, n, o_/c_ (ts, id, value)
    * endpoint structs, high, low, total (decimal). */
  private def partials(df: DataFrame, keyCol: String, bucketNs: Long)
      : DataFrame =
    // endpoints/extremes keep the RAW double (min/max/argmin merge
    // exactly — no decimal round-trip); only the SUM needs the
    // decimal domain for order-independence
    df.select(col(keyCol),
        expr(s"ts_ns div ${bucketNs}L").as("bucket"),
        col("ts_ns"), col("event_id"), col("value").as("v"),
        col("value").cast("decimal(18,2)").as("vd"))
      .groupBy(col(keyCol), col("bucket"))
      .agg(count(lit(1)).as("n"),
        min(ord("ts_ns", "event_id", "v")).as("o"),
        max(col("v")).as("high"),
        min(col("v")).as("low"),
        max(ord("ts_ns", "event_id", "v")).as("c"),
        sum(col("vd")).cast("decimal(38,2)").as("total"))

  /** Re-merge partials that already carry o/c endpoint structs —
    * shared by the published read and the fold. Keeps the `pk`
    * partition column when the store carries one (functionally
    * dependent on the key — grouping by it never splits a bar). */
  private def merge(parts: DataFrame, keyCol: String): DataFrame = {
    val keys =
      if (parts.columns.contains("pk")) Seq(keyCol, "bucket", "pk")
      else Seq(keyCol, "bucket")
    parts.groupBy(keys.map(col): _*)
      .agg(sum(col("n")).as("n"),
        min(col("o")).as("o"),
        max(col("high")).as("high"),
        min(col("low")).as("low"),
        max(col("c")).as("c"),
        sum(col("total")).cast("decimal(38,2)").as("total"))
  }

  private def barsOf(parts: DataFrame, keyCol: String): DataFrame =
    merge(parts, keyCol)
      .select(col(keyCol), col("bucket"), col("n"),
        col("o.v").as("open"), col("high"), col("low"),
        col("c.v").as("close"),
        col("total").cast("double").as("total"))

  /** `eventStream` must carry (event_id, `keyCol`, ts_ns, value).
    * The bar merge is KEY-LOCAL, so both [[StoreFold.KeyLocal]] dials
    * apply: `publishEvery` cadence, or `incrementalPubParts` touched-pk
    * publish (read through [[StoreFold.readPublished]]). */
  def start(storePath: String, eventStream: DataFrame, keyCol: String,
      bucketNs: Long, outPath: String, checkpoint: String,
      maxStoreParts: Option[Int] = None,
      publishEvery: Int = 1,
      incrementalPubParts: Option[Int] = None): StreamingQuery =
    StoreFold.start(eventStream, checkpoint, StoreFold.Twin(
      Seq(StoreFold.Sub(storePath, "bar", merge(_, keyCol))),
      StoreFold.KeyLocal(outPath, publishEvery, incrementalPubParts,
        storeKeyCol = keyCol, pubKeyCol = keyCol, barsOf(_, keyCol)),
      maxStoreParts, (batch, _) => Seq(partials(batch, keyCol, bucketNs))))
}
