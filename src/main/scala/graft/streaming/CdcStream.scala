package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming CDC: maintain a keyed latest-state snapshot over an
  * update stream and publish a change feed (I/U/D) per micro-batch —
  * [[graft.operators.Warehouse.snapshotDiff]] run continuously. This
  * is the bridge from an event log to a serving dimension: the
  * snapshot is the MERGE target, the change feed is what downstream
  * incremental consumers subscribe to.
  *
  * State = per-key latest-state partials on the [[StoreFold]] loop.
  * The snapshot is a pure function of the store: per-key
  * `max(struct(ts, is_del, attrs))` — event-time latest-wins, so the
  * merge is associative/commutative/idempotent and LOSSLESS under
  * the fold cadence, and late/out-of-order data cannot regress state
  * (an older update loses the max regardless of arrival batch).
  *
  * Deletes are first-class: rows matching `deleteWhen` become
  * tombstones that WIN the per-key max at their timestamp and drop
  * the key from the live snapshot — the change feed reports D when a
  * previously-live key dies, and a later re-insert surfaces as I.
  *
  * The published change feed for batch N = diff(snapshot(store \ N),
  * snapshot(store)) — both legs pure functions of the post-write
  * store, landing as the feed's own `batch_id=N` partition
  * ([[StoreFold.Feed]]), so a replay rewrites the identical feed.
  *
  * SCALE: per batch, the batch-sized partial agg + one store-sized
  * per-key max + the snapshot-sized diff join; the store is bounded
  * by keys × partitions (folded to ~1 row/key by the cadence), never
  * by stream length.
  */
object CdcStream {

  /** Per-key latest state of one frame: key, ts, is_del, attrs —
    * one partial-aggregable max(struct). */
  private def latest(df: DataFrame, keyCol: String, tsCol: String,
      attrCols: Seq[String], deleteWhen: Option[String]): DataFrame = {
    // re-aggregating already-latest store rows must PRESERVE their
    // stored tombstone flag, not reset it
    val isDel = deleteWhen.map(expr).getOrElse(
      if (df.columns.contains("_is_del")) col("_is_del") else lit(false))
    df.select(col(keyCol) +: col(tsCol).as("_ts") +:
        isDel.as("_is_del") +: attrCols.map(col): _*)
      .groupBy(col(keyCol))
      .agg(max(struct(col("_ts") +: col("_is_del") +:
        attrCols.map(col): _*)).as("_m"))
      .select(col(keyCol) :: col("_m._ts").as("_ts") ::
        col("_m._is_del").as("_is_del") ::
        attrCols.map(c => col(s"_m.$c").as(c)).toList: _*)
  }

  /** [[snapshot]] over an already-loaded store frame — both legs of
    * the per-batch diff derive from ONE cached read (the
    * RetentionStream lesson: don't re-list and re-scan the store per
    * leg). */
  private def snapshotOf(store: DataFrame, keyCol: String,
      attrCols: Seq[String], excludeBatch: Option[Long]): DataFrame = {
    val scoped = excludeBatch match {
      case Some(b) => store.filter(col("batch_id").cast("long") =!= b)
      case None => store
    }
    latest(scoped, keyCol, "_ts", attrCols, None)
      .filter(!col("_is_del"))
      .drop("_is_del")
  }

  /** The LIVE snapshot of the store (tombstoned keys excluded).
    * `excludeBatch` drops that batch's partial first — the "previous
    * snapshot" leg of the per-batch diff. */
  def snapshot(spark: SparkSession, storePath: String, keyCol: String,
      attrCols: Seq[String], excludeBatch: Option[Long] = None): DataFrame =
    snapshotOf(spark.read.parquet(storePath), keyCol, attrCols, excludeBatch)

  /** `updateStream` must carry `keyCol`, `tsCol` and `attrCols`.
    * Rows matching `deleteWhen` (a SQL boolean over those columns)
    * are tombstones. Change-feed rows (key, change_type,
    * old_/new_ attrs) land in `feedPath/batch_id=N`; the live
    * snapshot is [[snapshot]] over `storePath`. The fold max-merges
    * closed partials (latest-wins is lossless) and KEEPS tombstones in
    * the base: they must keep outranking older live rows that could
    * arrive late.
    */
  def start(storePath: String, updateStream: DataFrame, keyCol: String,
      tsCol: String, attrCols: Seq[String], deleteWhen: Option[String],
      feedPath: String, checkpoint: String,
      maxStoreParts: Option[Int] = None): StreamingQuery =
    StoreFold.start(updateStream, checkpoint, StoreFold.Twin(
      Seq(StoreFold.Sub(storePath, "cdc",
        latest(_, keyCol, "_ts", attrCols, None))),
      StoreFold.Feed(feedPath, { (store, batchId) =>
        val prev = snapshotOf(store, keyCol, attrCols,
          excludeBatch = Some(batchId)).drop("_ts")
        val cur = snapshotOf(store, keyCol, attrCols, None).drop("_ts")
        graft.operators.Warehouse
          .snapshotDiff(prev, cur, Seq(keyCol), attrCols)
      }),
      maxStoreParts,
      (batch, _) => Seq(latest(batch, keyCol, tsCol, attrCols, deleteWhen))))
}
