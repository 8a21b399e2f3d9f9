package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.BucketedStore

/** The incremental near-duplicate store protocol, written once: the
  * signature ([[Dedup.signatureStore]]), fingerprint
  * ([[MediaDedup.fingerprintStore]]) and video
  * ([[MediaDedup.videoStore]]) stores are definitions of it. A
  * definition supplies only
  *  - the rows a batch adds to each of its [[BucketedStore]] tables,
  *    derived from one per-batch [[base]] frame;
  *  - its pair source: (batch_id, corpus_id, …) pairs of those rows
  *    against the store, with zero store-side exchange;
  *  - its id table, the doc_id-bucketed table [[BucketedStore.unseen]]
  *    filters appends against.
  * Ingest (classify, append the unseen uniques, return
  * (doc_id, status near|unique, match_id)), labeled ingest
  * ([[Dedup.labeledIngest]]), delete, compact and the compaction
  * cadence live here and nowhere else. A new near-dup store adds a
  * definition, never its own ingest, append or compaction.
  *
  * ONE PASS PER BATCH. An ingest builds the batch's rows once and cuts
  * them (they are batch-sized); classification and the append both
  * read the cut rows, so the batch is scanned, shuffled and shingled,
  * blocked or frame-deduped once per ingest.
  *
  * STORE CONTRACT — doc_id is a corpus-global IDENTIFIER: one id names
  * one immutable document. The pair sources exclude the batch's own
  * ids from the corpus side, so re-ingesting CHANGED content under an
  * existing id is an update the store does not model (the doc
  * classifies against the store minus itself). Assign a fresh doc_id
  * per content version; content-hash ids satisfy this for free.
  *
  * REPLAY SAFETY. A crash between the result write and the store
  * append replays the batch against a store that already holds its
  * rows. Two guards make the replay classify and append identically:
  * the corpus-side exclusion above (the store minus the batch is the
  * frame of reference the first run saw), and the append lands only
  * ids the id table does not hold yet ([[BucketedStore.unseen]], which
  * also keeps a tombstoned id dead after compaction dropped its rows).
  * The id table is appended LAST, so a crash between two table appends
  * re-appends the probe rows (duplicates the pair sources absorb)
  * instead of losing them.
  */
abstract class NearDupStore(val name: String) {

  /** The batch-derived frame (doc_id, …) every table's rows come from —
    * shingle sets, fingerprints, distinct frame hashes. */
  protected def base(batch: DataFrame): DataFrame

  /** Each store table, by its suffix to [[name]], with the rows a batch
    * adds to it, derived from the cut [[base]] (`identity` for the table
    * that holds the base as is). */
  protected def tables: Seq[(String, DataFrame => DataFrame)]

  /** The suffix of the doc_id-bucketed table whose ids the append
    * filters against. */
  protected def idTable: String

  /** (batch_id, corpus_id, …) pairs of a batch's rows (suffix → rows)
    * against the store. */
  protected def pairs(spark: SparkSession, rows: Map[String, DataFrame]): DataFrame

  /** A store table's live rows (tombstoned docs filtered). */
  protected final def read(spark: SparkSession, suffix: String): DataFrame =
    BucketedStore.read(spark, name + suffix, name)

  private def tableNames: Seq[String] = tables.map(name + _._1)

  /** A batch's rows per table suffix, each built once and cut. */
  private def rowsOf(batch: DataFrame): Map[String, DataFrame] = {
    val b = Cut(base(batch))
    tables.map { case (t, f) =>
      val r = f(b)
      t -> (if (r eq b) b else Cut(r))
    }.toMap
  }

  /** The pair source over a raw batch. */
  final def matches(spark: SparkSession, batch: DataFrame): DataFrame =
    pairs(spark, rowsOf(batch))

  /** One production ingest step: classify `batch` against the store —
    * `near` with the smallest matching corpus id, else `unique` — append
    * the unique docs' rows so the next batch dedups against them, and
    * return (doc_id, status, match_id). The classification is cut before
    * the append, so the append job does not read the tables it writes. */
  final def ingest(spark: SparkSession, batch: DataFrame): DataFrame = {
    val rows = rowsOf(batch)
    val m = pairs(spark, rows)
      .groupBy(col("batch_id")).agg(min(col("corpus_id")).as("match_id"))
    val classified = rows(idTable).select(col("doc_id"))
      .join(broadcast(m), col("doc_id") === col("batch_id"), "left")
      .select(col("doc_id"),
        when(col("match_id").isNotNull, "near").otherwise("unique").as("status"),
        coalesce(col("match_id"), lit(-1L)).as("match_id"))
      .transform(Cut(_))
    appendUnique(spark, rows, classified.filter(col("status") === "unique"))
    classified
  }

  /** [[ingest]] + incremental cluster labels ([[Dedup.labeledIngest]]):
    * near docs attach to the smallest matched cluster root, bridged
    * clusters merge by remap rows only, and the returned rows
    * (doc_id, status, match_id, cluster_id) carry the CURRENT cluster. */
  final def ingestLabeled(spark: SparkSession, batch: DataFrame): DataFrame = {
    val rows = rowsOf(batch)
    Dedup.labeledIngest(spark, name, rows(idTable).select(col("doc_id")),
      pairs(spark, rows).select(col("batch_id"), col("corpus_id")),
      appendUnique(spark, rows, _))
  }

  /** Append the rows of the `uniques` ids the store does not hold yet,
    * one aligned append per table, the id table last. */
  private def appendUnique(spark: SparkSession, rows: Map[String, DataFrame],
      uniques: DataFrame): Unit = {
    val fresh = Cut(BucketedStore.unseen(spark, uniques.select(col("doc_id")),
      name + idTable, name))
    tables.map(_._1).sortBy(_ == idTable).foreach { t =>
      BucketedStore.append(rows(t).join(broadcast(fresh), Seq("doc_id"), "left_semi"),
        name + t)
    }
  }

  /** Retire docs (takedown / TTL / GDPR): [[BucketedStore.delete]]'s lazy
    * tombstones — reads filter them at once, [[compact]] drops the rows,
    * and the id stays dead for this store generation (a rebuild resets
    * the tombstones). Labels retire with the same tombstones. */
  final def delete(spark: SparkSession, ids: DataFrame): Unit =
    BucketedStore.delete(spark, name, ids)

  /** Rewrite every store table to one sorted file per bucket, tombstoned
    * rows dropped ([[BucketedStore.compact]]). */
  final def compact(spark: SparkSession): Unit =
    tableNames.foreach(BucketedStore.compact(spark, _, name))

  /** Compact when some table's deepest bucket holds more than
    * `maxFilesPerBucket` files ([[BucketedStore.maybeCompact]]); returns
    * whether it compacted. */
  final def maybeCompact(spark: SparkSession, maxFilesPerBucket: Int): Boolean =
    BucketedStore.maybeCompact(spark, tableNames, maxFilesPerBucket)(
      compact(spark))
}
