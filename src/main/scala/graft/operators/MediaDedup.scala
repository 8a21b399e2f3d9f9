package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.BucketedStore

/** Incremental perceptual dedup — d09's signature-store loop at the
  * media layer, so a production media pipeline pays per BATCH, never
  * per corpus: the 64-bit fingerprints (image dHash m08, audio
  * Haitsma–Kalker m10, video frame hashes) live in a bucketed store
  * and each new batch classifies against it with zero store-side
  * exchange, appends its uniques, and rides the shared tombstone +
  * compaction machinery ([[BucketedStore]]).
  *
  * Store layout for `name`:
  *   - `${name}_fpblocks` (skey, doc_id, hash_hi, hash_lo) BUCKETED
  *     BY skey = xxhash64(j, bk) over [[Multimodal.hammingBlockKeys]]
  *     — the probe join target. Carrying the full hash in the block
  *     row makes the candidate join and the exact-hamming verify ONE
  *     hop (no second join back to a hash table). xxhash64 collisions
  *     can only ADD candidates (equal (j, bk) always collide), and
  *     the exact bit_count verify removes them — d02's skey argument.
  *   - `${name}_fps` (doc_id, hash_hi, hash_lo) bucketed by doc_id —
  *     the append-side dedup frame (anti-join target for crash
  *     replays) and the media_type-free canonical hash table.
  *   - `${name}_tombstones` — the shared suppression list (retire
  *     via [[deleteFromFingerprintStore]]).
  *   - `${name}_fpdial` — one row recording the blocking scheme. The
  *     scheme is FIXED per store (StoreFold's dial discipline): a
  *     store blocked with 2-of-8 chunk-pair keys probed with 3-chunk
  *     keys (or vice versa) would silently lose candidates, so
  *     ingest/append fail fast on a scheme mismatch.
  */
object MediaDedup {

  /** Blocking scheme id for a threshold — must agree between store
    * build and every later probe (see [[Multimodal.hammingBlockKeys]]
    * for the two schemes' completeness arithmetic). */
  private[operators] def schemeOf(maxHamming: Int): String = {
    require(maxHamming >= 0 && maxHamming <= 6,
      s"chunk-pair blocking is complete only for maxHamming <= 6, got $maxHamming")
    if (maxHamming <= 2) "chunks21" else "pairs16"
  }

  private def blocksOf(fps: DataFrame, maxHamming: Int): DataFrame =
    Multimodal.hammingBlockKeys(
        fps.select(col("doc_id"), col("hash_hi"), col("hash_lo")), maxHamming)
      .select(xxhash64(col("j"), col("bk")).as("skey"),
        col("doc_id"), col("hash_hi"), col("hash_lo"))

  /** Build (or rebuild) the fingerprint store from a full corpus of
    * (doc_id, hash_hi, hash_lo). A rebuild is a new store GENERATION:
    * tombstones reset with it (writeSignatureStore's contract). */
  def writeFingerprintStore(spark: SparkSession, name: String,
      fps: DataFrame, maxHamming: Int, buckets: Int = 8): Unit = {
    BucketedStore.create(
      blocksOf(fps, maxHamming), s"${name}_fpblocks", buckets, "skey")
    BucketedStore.create(
      fps.select(col("doc_id"), col("hash_hi"), col("hash_lo")),
      s"${name}_fps", buckets, "doc_id")
    graft.sources.Sinks.clearOrphanLocation(spark, s"${name}_fpdial")
    import spark.implicits._
    Seq((schemeOf(maxHamming), maxHamming)).toDF("scheme", "max_hamming")
      .coalesce(1).write.mode(SaveMode.Overwrite).format("parquet")
      .saveAsTable(s"${name}_fpdial")
    spark.sql(s"DROP TABLE IF EXISTS ${name}_tombstones")
  }

  /** Fail-fast scheme check — the store's blocking layout is fixed at
    * build time; probing with the other scheme's keys would silently
    * lose candidates (recall, not just cost). */
  private def requireScheme(spark: SparkSession, name: String,
      maxHamming: Int): Unit = {
    val dial = spark.table(s"${name}_fpdial").collect()
    require(dial.length == 1, s"${name}_fpdial is not a one-row dial table")
    val stored = dial(0).getAs[String]("scheme")
    val want = schemeOf(maxHamming)
    require(stored == want,
      s"$name: blocking scheme changed against an existing store — " +
        s"built as '$stored', this probe's maxHamming=$maxHamming needs " +
        s"'$want'; keys would not collide and candidates would be " +
        "silently lost. Rebuild the store or match the threshold tier.")
  }

  /** Candidate (batch_id, corpus_id, hamming) pairs of a batch
    * against the store — one equi join on the bucketed skey (zero
    * store-side exchange; only the batch shuffles), exact-hamming
    * verified in the same hop. Excludes EVERY current-batch id from
    * the corpus side (a batch-sized broadcast anti-join, stronger
    * than d09's self-id-only guard): a crash-replayed batch whose
    * append already landed cannot match itself OR its fellow batch
    * docs — without the batch-wide exclusion, two mutually-near
    * uniques appended before a crash would reclassify each other as
    * 'near' on replay, and the replayed partition overwrite would
    * land DIFFERENT rows than the first run. With it, replay is
    * bit-identical: the store minus the batch is exactly the frame
    * of reference the first run saw. */
  def fingerprintPairsAgainstStore(spark: SparkSession, name: String,
      batch: DataFrame, maxHamming: Int): DataFrame = {
    requireScheme(spark, name, maxHamming)
    val bk = Multimodal.hammingBlockKeys(
        batch.select(col("doc_id"), col("hash_hi"), col("hash_lo")), maxHamming)
      .select(xxhash64(col("j"), col("bk")).as("skey"),
        col("doc_id").as("batch_id"),
        col("hash_hi").as("bh"), col("hash_lo").as("bl"))
    val cb = BucketedStore.read(spark, s"${name}_fpblocks", name)
      .join(broadcast(batch.select(col("doc_id")).distinct()),
        Seq("doc_id"), "left_anti")
      .select(col("skey"), col("doc_id").as("corpus_id"),
        col("hash_hi").as("ch"), col("hash_lo").as("cl"))
    bk.join(cb, "skey")
      .select(col("batch_id"), col("corpus_id"),
        expr("bit_count(bh ^ ch) + bit_count(bl ^ cl)").cast("long")
          .as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** One production media-ingest step: classify `batch` (doc_id,
    * hash_hi, hash_lo) against the store — `near` with the smallest
    * matching corpus id within `maxHamming`, else `unique` — append
    * the unique docs' fingerprints so the next batch dedups against
    * them, and return the classification. Append-side dedup +
    * tombstone suppression make a crash-replayed batch idempotent
    * ([[Dedup.ingestBatch]]'s contract, including the immutable
    * doc_id requirement). */
  def ingestFingerprintBatch(spark: SparkSession, name: String,
      batch: DataFrame, maxHamming: Int): DataFrame = {
    val matches = fingerprintPairsAgainstStore(spark, name, batch, maxHamming)
      .groupBy(col("batch_id")).agg(min(col("corpus_id")).as("match_id"))
    val classified = batch.select(col("doc_id"))
      .join(matches, col("doc_id") === col("batch_id"), "left")
      .select(col("doc_id"),
        when(col("match_id").isNotNull, "near").otherwise("unique").as("status"),
        coalesce(col("match_id"), lit(-1L)).as("match_id"))
      .transform(Cut(_))
    appendUniqueFingerprints(spark, name, batch.join(
      classified.filter(col("status") === "unique").select("doc_id"), "doc_id"))
    classified
  }

  /** Append a batch's fingerprints to an existing store (no rebuild;
    * one more file per bucket per append — compact on cadence). The
    * scheme comes from the store's own dial, so appended rows block
    * exactly like the originals. */
  def appendToFingerprintStore(spark: SparkSession, name: String,
      batch: DataFrame): Unit = {
    val maxHamming =
      spark.table(s"${name}_fpdial").collect()(0).getAs[Int]("max_hamming")
    BucketedStore.append(blocksOf(batch, maxHamming), s"${name}_fpblocks")
    BucketedStore.append(batch.select(col("doc_id"), col("hash_hi"), col("hash_lo")),
      s"${name}_fps")
  }

  /** Append the unique docs the store does not hold yet — the
    * replay-safe filter of [[BucketedStore.unseen]]. */
  private def appendUniqueFingerprints(spark: SparkSession, name: String,
      uniques: DataFrame): Unit =
    appendToFingerprintStore(spark, name,
      BucketedStore.unseen(spark, uniques, s"${name}_fps", name))

  /** Initialize the cluster-label store for a fingerprint corpus —
    * [[Dedup.writeLabelStore]]'s shape with the hamming join as the
    * pair source: one connected-components run over the corpus' own
    * near-dup pairs (the LAST full run ever needed), singletons
    * labeled by their own id, empty remap. Pair with
    * [[writeFingerprintStore]] on the same corpus; read current
    * assignments via [[Dedup.clusterLabels]] (the tables are the
    * same layout, so the label machinery is shared verbatim). */
  def writeFingerprintLabelStore(spark: SparkSession, name: String,
      fps: DataFrame, maxHamming: Int, buckets: Int = 8): Unit = {
    // bounded closure — Dedup.writeLabelStore's r19 rationale
    val cc = Dedup.connectedComponentsBounded(
      Multimodal.hammingPairs(
        fps.select(col("doc_id"), col("hash_hi"), col("hash_lo")), maxHamming)
        .select(col("id_a"), col("id_b")))
    val labels = fps.select(col("doc_id"))
      .join(cc, col("doc_id") === col("id"), "left")
      .select(col("doc_id"), coalesce(col("lab"), col("doc_id")).as("root"))
    Dedup.createLabelStore(labels, name, buckets)
  }

  /** [[ingestFingerprintBatch]] + incremental cluster-label
    * maintenance — [[Dedup.ingestBatchLabeled]]'s attach/merge/remap
    * machinery ([[Dedup.labeledIngest]]) with the fingerprint store's
    * pair source and unique-append: each near-dup attaches to the
    * smallest matched cluster root, bridged clusters merge by remap
    * rows only, and the returned rows carry the doc's CURRENT
    * cluster_id. Cost ∝ batch; replay-idempotent for the same
    * reasons. */
  def ingestFingerprintBatchLabeled(spark: SparkSession, name: String,
      batch: DataFrame, maxHamming: Int): DataFrame =
    Dedup.labeledIngest(spark, name, batch,
      fingerprintPairsAgainstStore(spark, name, batch, maxHamming),
      appendUniqueFingerprints(spark, name, _))

  /** Retire fingerprints (takedown / TTL): the shared lazy tombstones —
    * reads anti-join, compaction reclaims. */
  def deleteFromFingerprintStore(spark: SparkSession, name: String,
      ids: DataFrame): Unit =
    BucketedStore.delete(spark, name, ids)

  private def fingerprintTables(name: String) = Seq(s"${name}_fpblocks", s"${name}_fps")

  /** Rewrite both store tables to one sorted file per bucket,
    * tombstoned rows dropped physically — [[BucketedStore.compact]]. */
  def compactFingerprintStore(spark: SparkSession, name: String): Unit =
    fingerprintTables(name).foreach(BucketedStore.compact(spark, _, name))

  /** Threshold-triggered compaction — [[BucketedStore.maybeCompact]]
    * on the fingerprint tables. */
  def maybeCompactFingerprintStore(spark: SparkSession, name: String,
      maxFilesPerBucket: Int): Boolean =
    BucketedStore.maybeCompact(spark, fingerprintTables(name), maxFilesPerBucket)(
      compactFingerprintStore(spark, name))

  // -------------------------------------------------------------------
  // Incremental VIDEO-signature store — the same d09 loop for m12's
  // SET-of-frame-hashes signatures, where one-hash-per-doc fingerprints
  // don't apply: a video's signature is its distinct frame dHashes, a
  // match is ≥ minShared shared hashes, and the skew hazard is the
  // stop-frame valve's (a black frame every video carries). Without
  // this store a production pipeline classifying NEW videos against a
  // 100 TB corpus would re-run m12's full self-join (or re-decode the
  // corpus) every batch.
  //
  // Store layout for `name`:
  //   - `${name}_vframes` (fkey, doc_id, hash_hi, hash_lo) BUCKETED BY
  //     fkey = xxhash64(hash_hi, hash_lo): one row per (video, distinct
  //     frame hash), the probe-join target. The frame hash itself is
  //     the band key (m12's argument), fkey only folds the two halves
  //     into one bucketable column — collisions can only ADD join rows
  //     and the in-hop (hash_hi, hash_lo) equality filter removes them
  //     before anything is counted.
  //   - `${name}_vdocs` (doc_id) bucketed by doc_id — the append-side
  //     dedup frame (crash-replay anti-join target).
  //   - `${name}_tombstones` — the shared suppression list.
  //
  // NO dial table: unlike the hamming tiers there is only one blocking
  // layout (the exact 64-bit frame hash), and minShared / maxDf are
  // PROBE parameters — in particular the maxDf valve is RE-DERIVED
  // from the store's own df counts on every probe, never frozen at
  // build time: a frame hash rare at build can go hot as the corpus
  // grows (ingests append more videos carrying it), and a frozen keep
  // list would let its k² join rows back in.
  // -------------------------------------------------------------------

  private def vframesOf(frames: DataFrame): DataFrame =
    frames.select(col("doc_id"), col("hash_hi"), col("hash_lo")).distinct()
      .select(xxhash64(col("hash_hi"), col("hash_lo")).as("fkey"),
        col("doc_id"), col("hash_hi"), col("hash_lo"))

  /** Build (or rebuild) the video-signature store from a full corpus
    * of frame-hash rows (doc_id, hash_hi, hash_lo — one row per frame
    * is fine; the per-video DISTINCT signature is taken here). A
    * rebuild is a new store generation: tombstones reset with it. */
  def writeVideoSignatureStore(spark: SparkSession, name: String,
      frames: DataFrame, buckets: Int = 8): Unit = {
    val sig = vframesOf(frames)
    BucketedStore.create(sig, s"${name}_vframes", buckets, "fkey")
    BucketedStore.create(
      sig.select(col("doc_id")).distinct(), s"${name}_vdocs", buckets, "doc_id")
    spark.sql(s"DROP TABLE IF EXISTS ${name}_tombstones")
  }

  /** Candidate (batch_id, corpus_id, shared) rows of a batch of videos
    * against the store: shared = distinct frame hashes in common,
    * already filtered to ≥ minShared. ONE equi join on the bucketed
    * fkey ALONE (zero store-side exchange — a single-key join on the
    * bucket column co-partitions for free, where a (fkey, hash)
    * multi-key join would re-shuffle the store under Spark's
    * all-cluster-keys co-partition rule) with the exact hash-equality
    * verify in the same hop (fkey collisions only add rows; the
    * filter removes them — m14's skey argument), and the groupBy
    * count IS the shared-frame verify, m12's shape with the store as
    * the right side.
    *
    * The `maxDf` stop-frame valve is re-derived from the STORE's
    * current df counts on every probe (a partial-aggregable count per
    * (fkey, hash) over the bucketed scan — grouping includes the
    * bucket column, so the scan's partitioning satisfies the
    * aggregation: exchange-free), and applied to the BATCH side: the
    * HOT set (df > maxDf — small by the valve's own premise: stop
    * frames are few) anti-joins the batch's frame rows, so a hash
    * that went hot through appends contributes nothing to the join
    * from either side. Valving one side of an inner join removes the
    * hash's pairs entirely, so this equals valving the store side —
    * without ever re-shuffling store rows. Join output is bounded by
    * batch_rows × maxDf — linear in the batch, never k².
    *
    * Replay guard (the fingerprint store's batch-wide discipline):
    * every current-batch id is excluded from the corpus side — AND
    * from the df counts — before anything is computed, so a
    * crash-replayed batch sees exactly the frame of reference the
    * first run saw and classifies bit-identically. */
  def videoPairsAgainstStore(spark: SparkSession, name: String,
      batch: DataFrame, minShared: Int, maxDf: Int): DataFrame = {
    require(minShared >= 1, s"need minShared >= 1, got $minShared")
    require(maxDf >= 1, s"need maxDf >= 1, got $maxDf")
    val corpus = BucketedStore.read(spark, s"${name}_vframes", name)
      .join(broadcast(batch.select(col("doc_id")).distinct()),
        Seq("doc_id"), "left_anti")
    val hot = corpus.groupBy(col("fkey"), col("hash_hi"), col("hash_lo"))
      .agg(count(lit(1)).as("df")).filter(col("df") > maxDf)
      .select(col("fkey"), col("hash_hi"), col("hash_lo"))
    val bsig = vframesOf(batch)
      .join(hot, Seq("fkey", "hash_hi", "hash_lo"), "left_anti")
      .select(col("fkey"), col("doc_id").as("batch_id"),
        col("hash_hi").as("bh"), col("hash_lo").as("bl"))
    val csig = corpus.select(col("fkey"), col("doc_id").as("corpus_id"),
      col("hash_hi").as("ch"), col("hash_lo").as("cl"))
    bsig.join(csig, "fkey")
      // exact hash equality as hamming-0 (m14's verify at threshold 0),
      // NOT `bh === ch && bl === cl`: Catalyst lifts equality filters
      // into the join keys, and a (fkey, hash) multi-key join
      // re-shuffles the bucketed store under the all-cluster-keys
      // co-partition rule — the non-equi form stays a post-join
      // condition, so the join keys remain fkey alone
      .filter(expr("bit_count(bh ^ ch) + bit_count(bl ^ cl) = 0"))
      .groupBy(col("batch_id"), col("corpus_id"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
  }

  /** One production video-ingest step: classify a batch of frame-hash
    * rows (doc_id, hash_hi, hash_lo — EVERY frame of each new video
    * must arrive in the same batch, or a split video classifies and
    * appends a partial signature) — `near` with the smallest corpus id
    * sharing ≥ minShared un-valved frame hashes, else `unique` —
    * append the unique videos' signatures so the next batch dedups
    * against them, and return (doc_id, status, match_id). Append-side
    * anti-join + tombstone suppression + the batch-wide corpus
    * exclusion make a crash-replayed batch bit-identical
    * ([[ingestFingerprintBatch]]'s contract). */
  def ingestVideoSignatureBatch(spark: SparkSession, name: String,
      batch: DataFrame, minShared: Int, maxDf: Int): DataFrame = {
    val matches = videoPairsAgainstStore(spark, name, batch, minShared, maxDf)
      .groupBy(col("batch_id")).agg(min(col("corpus_id")).as("match_id"))
    val classified = batch.select(col("doc_id")).distinct()
      .join(matches, col("doc_id") === col("batch_id"), "left")
      .select(col("doc_id"),
        when(col("match_id").isNotNull, "near").otherwise("unique").as("status"),
        coalesce(col("match_id"), lit(-1L)).as("match_id"))
      .transform(Cut(_))
    appendUniqueVideos(spark, name, batch.join(
      classified.filter(col("status") === "unique").select("doc_id"), "doc_id"))
    classified
  }

  /** Append new videos' frame-hash rows to an existing store (one more
    * file per bucket per append — compact on cadence). Appended rows
    * feed later probes' df counts, which is exactly what keeps the
    * valve honest as the corpus grows. */
  def appendVideoSignatures(spark: SparkSession, name: String,
      frames: DataFrame): Unit = {
    val sig = vframesOf(frames)
    BucketedStore.append(sig, s"${name}_vframes")
    BucketedStore.append(sig.select(col("doc_id")).distinct(), s"${name}_vdocs")
  }

  /** Append the frame rows of unique videos the store does not hold
    * yet — the replay-safe filter of [[BucketedStore.unseen]]. */
  private def appendUniqueVideos(spark: SparkSession, name: String,
      frames: DataFrame): Unit =
    appendVideoSignatures(spark, name,
      BucketedStore.unseen(spark, frames, s"${name}_vdocs", name))

  /** Initialize the cluster-label store for a video corpus —
    * [[writeFingerprintLabelStore]]'s shape with the shared-frame
    * join ([[Multimodal.sharedFrameSig]], valve included) as the pair
    * source: one full m12 run over the corpus (the LAST ever needed),
    * singletons labeled by their own id, empty remap. Pair with
    * [[writeVideoSignatureStore]] on the same frames; read current
    * assignments via [[Dedup.clusterLabels]]. */
  def writeVideoSignatureLabelStore(spark: SparkSession, name: String,
      frames: DataFrame, minShared: Int, maxDf: Int,
      buckets: Int = 8): Unit = {
    val sig = frames.select(col("doc_id"), col("hash_hi"), col("hash_lo"))
    // bounded closure — Dedup.writeLabelStore's r19 rationale
    val cc = Dedup.connectedComponentsBounded(
      Multimodal.sharedFrameSig(sig, minShared, maxDf)
        .select(col("id_a"), col("id_b")))
    val labels = sig.select(col("doc_id")).distinct()
      .join(cc, col("doc_id") === col("id"), "left")
      .select(col("doc_id"), coalesce(col("lab"), col("doc_id")).as("root"))
    Dedup.createLabelStore(labels, name, buckets)
  }

  /** [[ingestVideoSignatureBatch]] + incremental cluster-label
    * maintenance — [[Dedup.labeledIngest]] with the video store's
    * shared-frame pair source and frame-row unique-append: near
    * videos attach to the smallest matched cluster root, bridged
    * clusters merge by remap rows only, returned rows carry the
    * CURRENT cluster_id. Cost ∝ batch; replay-idempotent for the
    * same reasons as the unlabeled ingest. */
  def ingestVideoSignatureBatchLabeled(spark: SparkSession, name: String,
      batch: DataFrame, minShared: Int, maxDf: Int): DataFrame =
    Dedup.labeledIngest(spark, name,
      batch.select(col("doc_id")).distinct(),
      videoPairsAgainstStore(spark, name, batch, minShared, maxDf)
        .select(col("batch_id"), col("corpus_id")),
      uniqueDocs => appendUniqueVideos(spark, name,
        batch.join(uniqueDocs.select("doc_id"), "doc_id")))

  /** Retire videos (takedown / TTL) — the shared lazy tombstones. */
  def deleteFromVideoSignatureStore(spark: SparkSession, name: String,
      ids: DataFrame): Unit =
    BucketedStore.delete(spark, name, ids)

  private def videoTables(name: String) = Seq(s"${name}_vframes", s"${name}_vdocs")

  /** Rewrite both video-store tables to one sorted file per bucket —
    * [[BucketedStore.compact]]. */
  def compactVideoSignatureStore(spark: SparkSession, name: String): Unit =
    videoTables(name).foreach(BucketedStore.compact(spark, _, name))

  /** Threshold-triggered compaction for the video store. */
  def maybeCompactVideoSignatureStore(spark: SparkSession, name: String,
      maxFilesPerBucket: Int): Boolean =
    BucketedStore.maybeCompact(spark, videoTables(name), maxFilesPerBucket)(
      compactVideoSignatureStore(spark, name))
}
