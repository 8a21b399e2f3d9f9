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
  *     via [[NearDupStore.delete]]).
  *   - `${name}_fpdial` — one row recording the blocking scheme. The
  *     scheme is FIXED per store (StoreFold's dial discipline): a
  *     store blocked with 2-of-8 chunk-pair keys probed with 3-chunk
  *     keys (or vice versa) would silently lose candidates, so
  *     every probe fails fast on a scheme mismatch.
  *
  * Both stores are [[NearDupStore]] definitions ([[fingerprintStore]],
  * [[videoStore]]): ingest, labeled ingest, delete and compaction are
  * the shared protocol's.
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

  /** The fingerprint store `store` (built by [[writeFingerprintStore]])
    * as a [[NearDupStore]] at `maxHamming`, which must match the store's
    * dial tier (the scheme check reads `_fpdial` once per probe and fails
    * fast otherwise). A batch of (doc_id, hash_hi, hash_lo) adds its
    * fingerprints (`_fps`, the id table) and block keys (`_fpblocks`).
    * Its pair source yields (batch_id, corpus_id, hamming): one equi
    * join on the bucketed skey (zero store-side exchange; only the
    * batch shuffles), exact-hamming verified in the same hop. It
    * excludes EVERY current-batch id from the corpus side (a
    * batch-sized broadcast anti-join, stronger than the signature
    * store's self-id guard): without the batch-wide exclusion, two
    * mutually-near uniques appended before a crash would reclassify
    * each other as 'near' on replay, and the replayed partition
    * overwrite would land DIFFERENT rows than the first run. */
  def fingerprintStore(store: String, maxHamming: Int): NearDupStore =
    new NearDupStore(store) {
      protected def base(batch: DataFrame): DataFrame =
        batch.select(col("doc_id"), col("hash_hi"), col("hash_lo"))
      protected val tables = Seq(
        "_fpblocks" -> (blocksOf(_: DataFrame, maxHamming)), "_fps" -> identity[DataFrame] _)
      protected val idTable = "_fps"
      protected def pairs(spark: SparkSession, rows: Map[String, DataFrame]): DataFrame = {
        requireScheme(spark, store, maxHamming)
        val bk = rows("_fpblocks")
          .select(col("skey"), col("doc_id").as("batch_id"),
            col("hash_hi").as("bh"), col("hash_lo").as("bl"))
        val cb = read(spark, "_fpblocks")
          .join(broadcast(rows("_fps").select(col("doc_id")).distinct()),
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
    }

  /** Initialize the cluster-label store for a fingerprint corpus —
    * [[Dedup.createLabelStore]] over its hamming pairs. Pair with
    * [[writeFingerprintStore]] on the same corpus; read current
    * assignments via [[Dedup.clusterLabels]]. */
  def writeFingerprintLabelStore(spark: SparkSession, name: String,
      fps: DataFrame, maxHamming: Int, buckets: Int = 8): Unit =
    Dedup.createLabelStore(fps.select(col("doc_id")),
      Multimodal.hammingPairs(
        fps.select(col("doc_id"), col("hash_hi"), col("hash_lo")), maxHamming),
      name, buckets)

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

  /** The video-signature store `store` (built by
    * [[writeVideoSignatureStore]]) as a [[NearDupStore]]: a batch of
    * frame-hash rows (doc_id, hash_hi, hash_lo — EVERY frame of each new
    * video must arrive in the same batch, or a split video classifies
    * and appends a partial signature) adds its distinct frame hashes
    * (`_vframes`) and doc ids (`_vdocs`, the id table). A video is
    * `near` the smallest corpus id sharing ≥ `minShared` un-valved
    * frame hashes.
    *
    * The pair source yields (batch_id, corpus_id, shared). ONE equi join
    * on the bucketed fkey ALONE (zero store-side exchange — a
    * single-key join on the bucket column co-partitions for free, where
    * a (fkey, hash) multi-key join would re-shuffle the store under
    * Spark's all-cluster-keys co-partition rule) with the exact
    * hash-equality verify in the same hop (fkey collisions only add
    * rows; the filter removes them), and the groupBy count IS the
    * shared-frame verify, m12's shape with the store as the right side.
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
    * from the df counts — before anything is computed. */
  def videoStore(store: String, minShared: Int, maxDf: Int): NearDupStore = {
    require(minShared >= 1, s"need minShared >= 1, got $minShared")
    require(maxDf >= 1, s"need maxDf >= 1, got $maxDf")
    new NearDupStore(store) {
      protected def base(batch: DataFrame): DataFrame = vframesOf(batch)
      protected val tables = Seq("_vframes" -> identity[DataFrame] _,
        "_vdocs" -> ((_: DataFrame).select(col("doc_id")).distinct()))
      protected val idTable = "_vdocs"
      protected def pairs(spark: SparkSession, rows: Map[String, DataFrame]): DataFrame = {
        val corpus = read(spark, "_vframes")
          .join(broadcast(rows("_vdocs")), Seq("doc_id"), "left_anti")
        val hot = corpus.groupBy(col("fkey"), col("hash_hi"), col("hash_lo"))
          .agg(count(lit(1)).as("df")).filter(col("df") > maxDf)
          .select(col("fkey"), col("hash_hi"), col("hash_lo"))
        val bsig = rows("_vframes")
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
    }
  }

  /** Initialize the cluster-label store for a video corpus —
    * [[Dedup.createLabelStore]] over its shared-frame pairs
    * ([[Multimodal.sharedFrameSig]], valve included: one full m12 run,
    * the last ever needed). Pair with [[writeVideoSignatureStore]] on
    * the same frames; read current assignments via
    * [[Dedup.clusterLabels]]. */
  def writeVideoSignatureLabelStore(spark: SparkSession, name: String,
      frames: DataFrame, minShared: Int, maxDf: Int,
      buckets: Int = 8): Unit = {
    val sig = frames.select(col("doc_id"), col("hash_hi"), col("hash_lo"))
    Dedup.createLabelStore(sig.select(col("doc_id")).distinct(),
      Multimodal.sharedFrameSig(sig, minShared, maxDf), name, buckets)
  }
}
