package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming funnel — ss04 kept continuously: the full ordered-stage
  * conversion report (n_sessions, per-stage reach counts and ratios)
  * re-published every micro-batch, equal to batch
  * [[graft.operators.Sessionize.funnel]] over every event seen so far
  * (StreamingSpec gates this, including a conversion assembled across
  * batches).
  *
  * STATE is the ss05 discipline — never event volume:
  *   - `open/`   per-user OPEN-session state: (user_id, last_ts, lvl)
  *     — 3 values per active user, latest-wins merge. `lvl` is how
  *     far the funnel chain got; because the chain achieves stages in
  *     ORDER, the achieved set is always a prefix and one integer
  *     carries the whole entry state for continuation.
  *   - `closed/` CLOSED-session counters: (lvl, n) rows summed —
  *     at most stages+1 rows per partial.
  * Both are sub-stores of the [[StoreFold]] loop (with the `late/`
  * contract monitor below); each fold merges closed partials
  * losslessly.
  *
  * WHY one integer suffices: when a session continues into a new
  * batch, every new event is later than every event already folded
  * (see contract below), so the chain conditions `ts >= t_prev`
  * against previously-achieved stage times are always true — only
  * WHICH stages were achieved matters, not when. Continuation is
  * implemented by seeding the session with `lvl` synthetic stage
  * events at distinct ts below any real event, then running the SAME
  * window chain as the batch operator — one uniform code path, and
  * exactness follows from the chain's own semantics.
  *
  * CONTRACT: micro-batches must be per-user event-time ordered (each
  * batch's events at or after the user's folded `last_ts`) — the
  * standard replay/ingest shape. Out-of-order WITHIN a batch is fine
  * (the chain computes wholesale); an event arriving after its
  * session was closed by the gap would reopen nothing — that late/
  * watermark discipline is the stateful-sessionization side
  * (EventsStreamingSpec), not this dashboard's. Violations are NOT
  * silent: [[lateEvents]] counts them per batch into a `late/`
  * store, so an operator alerts instead of discovering drift later.
  *
  * SCALE: per batch — one (user) window over the BATCH only, one
  * broadcast-sized join against the open store (active users), and
  * counter-sized appends. The corpus is never rescanned.
  */
object FunnelStream {

  private def openMerge(df: DataFrame): DataFrame =
    df.groupBy(col("user_id"))
      .agg(max(struct(col("last_ts"), col("lvl"))).as("s"))
      .select(col("user_id"), col("s.last_ts").as("last_ts"),
        col("s.lvl").as("lvl"))

  private def closedMerge(df: DataFrame): DataFrame =
    df.groupBy(col("lvl")).agg(sum(col("n")).as("n"))

  private def openState(spark: SparkSession, storePath: String): DataFrame =
    openMerge(StoreFold.readOr(spark, s"$storePath/open",
      "user_id BIGINT, last_ts BIGINT, lvl INT"))

  private def lateMerge(df: DataFrame): DataFrame =
    df.groupBy(col("user_id")).agg(sum(col("n")).as("n"))

  /** CONTRACT MONITOR: total events that arrived BEFORE their user's
    * already-folded last_ts — i.e. violations of the per-user
    * time-ordered-batches contract. Nonzero means the published
    * report may undercount (the violating events were still chained,
    * but stages their lateness should have unlocked in ALREADY-CLOSED
    * sessions are unrecoverable with bounded state). An operator
    * alerts on this instead of discovering a silent drift later.
    */
  def lateEvents(spark: SparkSession, storePath: String): Long = {
    val r = lateMerge(StoreFold.readOr(spark, s"$storePath/late",
      "user_id BIGINT, n BIGINT"))
      .agg(coalesce(sum(col("n")), lit(0L))).head()
    r.getLong(0)
  }

  private def closedCounts(spark: SparkSession, storePath: String): DataFrame =
    closedMerge(StoreFold.readOr(spark, s"$storePath/closed",
      "lvl INT, n BIGINT"))

  /** The published report, batch `funnel()`'s exact output shape. */
  def publishedFunnel(spark: SparkSession, storePath: String,
      stages: Seq[String]): DataFrame = {
    val perLevel = closedCounts(spark, storePath)
      .unionByName(openState(spark, storePath)
        .groupBy(col("lvl")).agg(count(lit(1)).as("n")))
    val aggs = sum(col("n")).as("n_sessions") +:
      stages.zipWithIndex.map { case (st, i) =>
        sum(when(col("lvl") >= i + 1, col("n")).otherwise(0L)).as(s"n_$st")
      }
    val counted = perLevel.agg(aggs.head, aggs.tail: _*)
      .select(coalesce(col("n_sessions"), lit(0L)).as("n_sessions") +:
        stages.map(st => coalesce(col(s"n_$st"), lit(0L)).as(s"n_$st")): _*)
    stages.foldLeft(counted) { (df, st) =>
      df.withColumn(s"r_$st",
        round(col(s"n_$st").cast("double") / col("n_sessions"), 6))
    }
  }

  /** One micro-batch: continue/split per-user sessions against the
    * open store, run the batch window chain with synthetic seeds, and
    * return this batch's late, closed-session and open-state partials
    * (in that order, open last). */
  private def partials(storePath: String, batch: DataFrame,
      stages: Seq[String], gapNs: Long): Seq[DataFrame] = {
    val spark = batch.sparkSession
    import spark.implicits._
    val k = stages.length
    val prior = openState(spark, storePath).localCheckpoint(true)
    val ev = batch.select(col("user_id"), col("event_type"),
      col("ts_ns"), col("event_id"))
    val wOrd = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_ns"), col("event_id"))
    val withPrior = ev.join(
      prior.select(col("user_id"), col("last_ts"), col("lvl").as("lvl0")),
      Seq("user_id"), "left")
    // sess 0 = continuation of the stored open session; 1.. = fresh
    val sessed = withPrior
      .withColumn("prev_ts",
        coalesce(lag(col("ts_ns"), 1).over(wOrd), col("last_ts")))
      .withColumn("is_new",
        when(col("prev_ts").isNull ||
          col("ts_ns") - col("prev_ts") > gapNs, 1L).otherwise(0L))
      .withColumn("sess", sum(col("is_new")).over(
        wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("user_id"), col("event_type"), col("ts_ns"),
        col("event_id"), col("sess"))
      .localCheckpoint(true)
    // users whose first batch row CONTINUES the open session
    val contUsers = sessed.groupBy(col("user_id"))
      .agg(min(col("sess")).as("s0")).filter(col("s0") === 0L)
      .select(col("user_id"))
    // synthetic seed events: the open session's achieved prefix,
    // at distinct ts below any real event — the chain re-derives the
    // entry state from them (one uniform code path with the batch op)
    val stageDf = stages.zipWithIndex
      .map { case (st, i) => (st, i + 1) }.toDF("event_type", "stage_i")
    val syn = prior.join(contUsers, Seq("user_id"))
      .join(broadcast(stageDf), col("stage_i") <= col("lvl"))
      .select(col("user_id"), col("event_type"),
        (lit(Long.MinValue) + col("stage_i")).as("ts_ns"),
        (-col("stage_i")).cast("long").as("event_id"), lit(0L).as("sess"))
    val all = sessed.unionByName(syn)
    // the batch operator's own conditional-min chain, per (user, sess)
    val ws = Window.partitionBy(col("user_id"), col("sess"))
    val chained = stages.zipWithIndex.foldLeft(all) { case (df, (st, i)) =>
      val inOrder = if (i == 0) lit(true)
        else col("ts_ns") >= col(s"t_${stages(i - 1)}")
      df.withColumn(s"t_$st",
        min(when(col("event_type") === st && inOrder, col("ts_ns"))).over(ws))
    }
    val lvlExpr = stages.map(st =>
      when(col(s"t_$st").isNotNull, 1).otherwise(0)).reduce(_ + _)
    val perSess = chained.groupBy(col("user_id"), col("sess"))
      .agg(max(col("ts_ns")).as("end_ts"), max(lvlExpr).as("lvl"))
      .localCheckpoint(true)
    val maxSess = perSess.groupBy(col("user_id"))
      .agg(max(col("sess")).as("max_sess"))
    // closed this batch: every non-last batch session, plus the stored
    // open session of users whose first row SPLIT (gap) instead of
    // continuing
    val closedNew = perSess.join(maxSess, "user_id")
      .filter(col("sess") < col("max_sess")).select(col("lvl"))
    val closedPrior = prior
      .join(sessed.select(col("user_id")).distinct(), Seq("user_id"))
      .join(contUsers, Seq("user_id"), "left_anti")
      .select(col("lvl"))
    val closedPartial = closedNew.unionByName(closedPrior)
      .groupBy(col("lvl")).agg(count(lit(1)).as("n"))
      .localCheckpoint(true)
    val openPartial = perSess.join(maxSess, "user_id")
      .filter(col("sess") === col("max_sess"))
      .select(col("user_id"), col("end_ts").as("last_ts"), col("lvl"))
      .localCheckpoint(true)
    // contract monitor: events earlier than the user's folded last_ts
    // (one batch-sized agg; rides the already-joined prior frame)
    val latePartial = withPrior
      .filter(col("last_ts").isNotNull && col("ts_ns") < col("last_ts"))
      .groupBy(col("user_id")).agg(count(lit(1)).as("n"))
      .localCheckpoint(true)
    Seq(latePartial, closedPartial, openPartial)
  }

  /** `eventStream` must carry (user_id, event_id, ts_ns, event_type).
    * The funnel report is one global row, so `publishEvery` cadence is
    * the dial. */
  def start(storePath: String, eventStream: DataFrame, stages: Seq[String],
      gapNs: Long, outPath: String, checkpoint: String,
      maxStoreParts: Option[Int] = None,
      publishEvery: Int = 1): StreamingQuery = {
    require(stages.nonEmpty && stages.distinct == stages,
      s"need distinct non-empty stages, got $stages")
    StoreFold.start(eventStream, checkpoint, StoreFold.Twin(
      Seq(StoreFold.Sub(s"$storePath/late", "funnel-late", lateMerge),
        StoreFold.Sub(s"$storePath/closed", "funnel-closed", closedMerge),
        StoreFold.Sub(s"$storePath/open", "funnel-open", openMerge)),
      StoreFold.Every(outPath, publishEvery,
        publishedFunnel(_, storePath, stages)),
      maxStoreParts, (batch, _) => partials(storePath, batch, stages, gapNs)))
  }
}
