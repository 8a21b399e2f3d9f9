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
  * A cut frame reports the bytes the materializing job measured
  * ([[org.apache.spark.sql.GraftBridge.cut]]), so the static planner
  * broadcasts a batch-sized cut and an iterative loop's estimates do
  * not compound from round to round.
  */
private[graft] object Cut {
  def apply(df: DataFrame): DataFrame =
    GraftBridge.cut(df, df.sparkSession.sparkContext.getCheckpointDir.isDefined)
}
