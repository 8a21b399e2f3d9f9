package graft.operators

import org.apache.spark.sql.{DataFrame, GraftBridge}

/** Shared lineage cut for materialization points inside iterative
  * rounds and ingest pipelines: a RELIABLE checkpoint when the session
  * has a checkpoint dir configured (`sparkContext.setCheckpointDir` —
  * on a real cluster an executor loss then replays one round/stage,
  * not the whole upstream chain; `localCheckpoint` stores partitions
  * executor-LOCALLY, so a lost executor makes them unrecomputable and
  * fails the job), else memory-only `localCheckpoint` (the local
  * single-JVM harness default, where executor loss ≡ JVM loss and the
  * reliable write would only add I/O).
  *
  * Hoisted from [[Graph]]'s per-round cut so the ingest/materialize
  * paths that previously called `localCheckpoint(true)` directly on
  * corpus-sized frames ([[Multimodal.sharedFrameSig]]'s signature
  * frame, [[MediaDedup]]/[[Dedup]]/[[Er]] ingest checkpoints) honor
  * the same dial — set one checkpoint dir and every cut in the repo
  * becomes fault-tolerant.
  *
  * The cut frame's size estimate is capped
  * ([[org.apache.spark.sql.GraftBridge.capCheckpointStats]]), so the
  * estimates of an iterative loop's rounds do not compound.
  */
private[graft] object Cut {
  def apply(df: DataFrame): DataFrame = GraftBridge.capCheckpointStats(
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined)
      df.checkpoint(eager = true)
    else df.localCheckpoint(true))
}
