package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{BucketedStore, Tables}

/** Entity resolution (record linkage): blocked candidate generation,
  * per-field similarity scoring, match classification, transitive
  * closure into entity clusters, and golden-record election — the
  * structured-data cousin of [[Dedup]]'s text/embedding near-dup
  * stack, and the step a training-data pipeline runs over metadata
  * tables (authors, domains, licenses) before joining them to the
  * document corpus.
  *
  * Reference anchor: keenwa expresses linkage as plain relational
  * operators (self-join + filter + aggregate over
  * src/operators/relational/logical/mod.rs); graft keeps that shape
  * and adds the blocking discipline that makes it survive scale.
  *
  * SCALE: the ONLY quadratic stage is inside a block — the self-join
  * hashes both sides on the block key, so cost is Σ |block|², never
  * N². Block-key choice is the contract: the caller picks keys whose
  * largest block is bounded (documented per call site); a hot block
  * is visible as one straggler task and fixed by refining the key,
  * exactly the [[Skew]] playbook. Everything downstream of scoring is
  * match-edge-sized (≪ candidate pairs ≪ N²): the transitive closure
  * is [[Dedup.connectedComponents]]'s contracted-label-graph min
  * propagation, and the golden-record election is one partial-aggregable
  * `min(struct(...))` groupBy — both shuffle entity-sized data only.
  * All similarity arithmetic is integer (edit distance, absolute
  * diffs, equality flags) — deterministic on any engine, ANSI-safe.
  */
object Er {
  type QFn = (SparkSession, String) => DataFrame

  /** Blocked candidate pairs with integer similarity features.
    *
    * `records` must carry `keyCol` (unique BIGINT). `blockKey` is
    * evaluated on each side and must match EXACTLY for a pair to be
    * considered (the recall/cost dial). `features` computes named
    * integer distances from the (left, right) column sets;
    * `keep` prunes pairs on those features (cheap, inside the block
    * join — candidate output is feature-filtered, not raw blocks).
    *
    * Output: (a_key, b_key, features...) with a_key < b_key.
    */
  def candidatePairs(records: DataFrame, keyCol: String,
      blockKey: (String => Column) => Column,
      features: Seq[(String, (String => Column, String => Column) => Column)],
      keep: Column): DataFrame = {
    val cols = records.columns.toSeq
    // Round-robin repartition of the PROBE side: the record table is
    // typically one small parquet file locally (1 scan split), and the
    // downstream broadcast block-join carries all the O(pairs·len²)
    // match scoring — serial without this. The shuffle is O(records),
    // noise next to the scoring; round-robin (not block-key) because
    // the broadcast join needs no co-location and hash-spreading rows
    // also levels hot blocks across tasks. Same discipline as the
    // documents.parquet CPU-bound map stages (CLAUDE.md).
    val spread = records.repartition(
      records.sparkSession.sparkContext.defaultParallelism)
    val a = spread.select(col(keyCol).as("_ak") +:
      cols.map(c => col(c).as(s"_a_$c")): _*)
      .withColumn("_blk", blockKey((c: String) => col(s"_a_$c")))
    val b = records.select(col(keyCol).as("_bk") +:
      cols.map(c => col(c).as(s"_b_$c")): _*)
      .withColumn("_blk", blockKey((c: String) => col(s"_b_$c")))
    val feats = features.map { case (n, f) =>
      f((c: String) => col(s"_a_$c"), (c: String) => col(s"_b_$c")).as(n)
    }
    a.join(b, Seq("_blk"))
      .filter(col("_ak") < col("_bk"))
      .select(col("_ak").as("a_key") +: col("_bk").as("b_key") +: feats: _*)
      .filter(keep)
  }

  /** CROSS-CATALOG record linkage: blocked candidate generation
    * between two DIFFERENT tables (A×B, not the self-join dedup
    * case) — match a vendor feed against the part catalog, an import
    * against the customer base. Each side brings its OWN block-key
    * extractor (the same entity can sit in structurally different
    * fields across catalogs), features see both sides' columns, and
    * there is no `a < b` dedup (every A×B pair is a distinct
    * hypothesis; A's row can match many B rows and vice versa).
    *
    * SCALE: identical economics to [[candidatePairs]] — the only
    * quadratic stage is within a block (Σ|blockA|·|blockB|, never
    * |A|·|B|); both sides hash on the block key, AQE broadcasts
    * whichever side is dim-sized. The A side round-robin-spreads for
    * the same single-scan-split reason.
    */
  def linkCatalogs(a: DataFrame, aKey: String, b: DataFrame, bKey: String,
      blockA: (String => Column) => Column,
      blockB: (String => Column) => Column,
      features: Seq[(String, (String => Column, String => Column) => Column)],
      keep: Column): DataFrame = {
    val aCols = a.columns.toSeq
    val bCols = b.columns.toSeq
    val av = a.repartition(a.sparkSession.sparkContext.defaultParallelism)
      .select(col(aKey).as("_ak") +: aCols.map(c => col(c).as(s"_a_$c")): _*)
      .withColumn("_blk", blockA((c: String) => col(s"_a_$c")))
    val bv = b
      .select(col(bKey).as("_bk") +: bCols.map(c => col(c).as(s"_b_$c")): _*)
      .withColumn("_blk", blockB((c: String) => col(s"_b_$c")))
    val feats = features.map { case (n, f) =>
      f((c: String) => col(s"_a_$c"), (c: String) => col(s"_b_$c")).as(n)
    }
    av.join(bv, Seq("_blk"))
      .select(col("_ak").as("a_key") +: col("_bk").as("b_key") +: feats: _*)
      .filter(keep)
  }

  /** Multi-pass blocking: the union of [[candidatePairs]] over
    * several block keys, deduped on the pair. The standard ER recall
    * lever — one key's misses (a typo in the blocked field itself)
    * are another's hits; cost is additive in the passes, still never
    * N². Feature columns are deterministic functions of the pair, so
    * the dedup keeps identical values whichever pass found the pair.
    */
  def candidatePairsMulti(records: DataFrame, keyCol: String,
      blockKeys: Seq[(String => Column) => Column],
      features: Seq[(String, (String => Column, String => Column) => Column)],
      keep: Column): DataFrame = {
    require(blockKeys.nonEmpty, "need at least one block key")
    blockKeys.map(candidatePairs(records, keyCol, _, features, keep))
      .reduce(_ unionAll _)
      .dropDuplicates("a_key", "b_key")
  }

  /** Entity assignment: transitive closure over match edges
    * (`a_key`/`b_key` pairs), then every record of `records` labeled
    * with its entity id = the smallest member key of its component
    * (unmatched records are their own singleton entity). Closure is
    * [[Dedup.connectedComponents]] — O(log diameter) rounds over
    * match-edge-sized frames.
    */
  def entityClusters(records: DataFrame, keyCol: String,
      matchEdges: DataFrame): DataFrame = {
    // bounded closure (r19): match-edge sets under the 100k ceiling
    // run the one-collect driver union-find instead of the iterative
    // distributed fixpoint's O(rounds) job-barrier tail — labels
    // proven identical (DedupSpec); larger graphs fall through to
    // distributed CC unchanged
    val cc = Dedup.connectedComponentsBounded(
      matchEdges.select(col("a_key").as("id_a"), col("b_key").as("id_b")))
    records.join(cc.withColumnRenamed("id", keyCol), Seq(keyCol), "left")
      .withColumn("entity_id", coalesce(col("lab"), col(keyCol)))
      .drop("lab")
  }

  // -------------------------------------------------------------------
  // Incremental entity resolution: a bucketed ENTITY STORE maintained
  // batch-by-batch, so the catalog is never re-blocked end-to-end —
  // the ER production loop, on the signature-store economics
  // ([[Dedup.writeSignatureStore]] / [[NearDupStore.ingestLabeled]]):
  //   `${name}_blocks` — one row per (record, block pass), keyed by
  //     skey = xxhash64(pass, block value) and carrying the record's
  //     columns (the feature inputs); bucketed+sorted by skey, so a
  //     batch's block join reads the store with ZERO store-side
  //     exchange — only the batch shuffles.
  //   `${name}_labels` — (rkey, root) entity labels, bucketed by rkey.
  //   `${name}_remap`  — (old_root, new_root), broadcast-sized: when a
  //     batch record bridges two entities nobody rewrites the labels —
  //     the losing root gets a remap row (lazy union-find, kept
  //     transitively resolved).
  // Unlike the dedup store, ingest appends EVERY batch record's blocks
  // (matched ones too): similarity is not transitive, so a future
  // record can match B without matching B's own match A — retiring
  // matched records would silently cost recall.
  // -------------------------------------------------------------------

  /** The blocking + matching contract of an entity store, evaluated
    * identically at store build and at every ingest (store and batch
    * must block the same way or increments silently lose recall).
    * `keep` prunes candidate pairs on the feature columns; `isMatch`
    * (also over the feature columns) is the link decision.
    */
  final case class LinkSpec(
      keyCol: String,
      blockKeys: Seq[(String => Column) => Column],
      features: Seq[(String, (String => Column, String => Column) => Column)],
      keep: Column,
      isMatch: Column)

  /** One row per (record, block pass): skey folds the pass index into
    * the block value (the skey trick that lets multi-pass blocking
    * live in ONE bucketed table — cross-pass skey collisions can only
    * ADD candidate pairs, and `keep`/`isMatch` re-verify on features).
    */
  def blockRows(records: DataFrame, spec: LinkSpec): DataFrame =
    spec.blockKeys.zipWithIndex.map { case (bk, i) =>
      records.withColumn("skey",
        xxhash64(lit(i), bk((c: String) => col(c)).cast("string")))
    }.reduce(_ unionAll _)

  /** Initialize the entity store: one full [[candidatePairsMulti]] +
    * closure run over the corpus (the LAST full re-block ever needed —
    * [[ingestBatch]] maintains the store from here on), blocks and
    * labels landed bucketed, empty remap.
    */
  def writeEntityStore(records: DataFrame, name: String, spec: LinkSpec,
      buckets: Int = 8): Unit = {
    val matches = candidatePairsMulti(records, spec.keyCol, spec.blockKeys,
      spec.features, spec.keep).filter(spec.isMatch)
    BucketedStore.create(blockRows(records, spec), s"${name}_blocks", buckets, "skey")
    Dedup.createLabelStore(records.select(col(spec.keyCol).as("rkey")),
      matches.select(col("a_key").as("id_a"), col("b_key").as("id_b")),
      name, buckets, "rkey")
  }

  /** Current (rkey, root) entity assignment — [[Dedup.clusterLabels]]
    * keyed on rkey: the labels table resolved one hop through the
    * broadcast remap, the labels side never shuffles.
    */
  def entityLabels(spark: SparkSession, name: String): DataFrame =
    Dedup.clusterLabels(spark, name, "rkey")

  /** One ER production ingest step: block `batch` against the store
    * (zero store-side exchange — the bucketed blocks table IS the
    * exchange, written once), link with `spec.isMatch`, then
    * [[Dedup.labeledIngest]] keyed on rkey: attach each matched record
    * to the SMALLEST matched entity root, merge entities a record
    * bridges (remap rows only — the labels table is never rewritten),
    * and append the batch's blocks + labels so the NEXT batch resolves
    * against them too. Returns (keyCol, status matched|unique,
    * match_id, entity_id).
    *
    * Contract mirrors [[NearDupStore.ingest]]: the store, not the batch,
    * is the frame of reference (intra-batch pairs link on the next
    * round via the appended records); keys are immutable identifiers;
    * replay is idempotent (self-matches excluded, appends anti-joined
    * on already-present keys, merge edges vanish on replay).
    */
  def ingestBatch(spark: SparkSession, name: String, batch: DataFrame,
      spec: LinkSpec): DataFrame = {
    val cols = batch.columns.toSeq
    val bb = blockRows(batch, spec)
      .select(col("skey") +: cols.map(c => col(c).as(s"_a_$c")): _*)
    // projection/rename keeps the store scan bucketed (skey survives)
    val sbr = BucketedStore.read(spark, s"${name}_blocks", name)
      .select(col("skey") +: cols.map(c => col(c).as(s"_b_$c")): _*)
    val feats = spec.features.map { case (n, f) =>
      f((c: String) => col(s"_a_$c"), (c: String) => col(s"_b_$c")).as(n)
    }
    val k = spec.keyCol
    val pairs = bb.join(sbr, Seq("skey"))
      // self-exclusion = replay idempotence: a retried batch whose
      // append landed must not match itself and reclassify
      .filter(col(s"_a_$k") =!= col(s"_b_$k"))
      .select(col(s"_a_$k").as("batch_id") +: col(s"_b_$k").as("corpus_id") +: feats: _*)
      .filter(spec.keep && spec.isMatch)
      .dropDuplicates("batch_id", "corpus_id")
      .select(col("batch_id"), col("corpus_id"))
    // append EVERY fresh batch record's blocks, not just the uniques
    // the fold hands over (see the store preamble: matched records
    // stay linkable) — replay-safe via the anti-join on keys the
    // labels table already holds (the fold appends labels after this)
    val appendBlocks = (_: DataFrame) => BucketedStore.append(blockRows(
      batch.join(BucketedStore.read(spark, s"${name}_labels", name, "rkey")
        .select(col("rkey").as(k)), Seq(k), "left_anti"), spec), s"${name}_blocks")
    Dedup.labeledIngest(spark, name, batch.select(col(k).as("rkey")), pairs,
        appendBlocks, "rkey")
      .select(col("rkey").as(k),
        when(col("status") === "near", "matched").otherwise(col("status")).as("status"),
        col("match_id"), col("cluster_id").as("entity_id"))
  }

  /** Fold the remap into the labels table and re-land one sorted file
    * per bucket for both store tables ([[Dedup.compactLabelStore]] +
    * [[BucketedStore.compact]]).
    */
  def compactEntityStore(spark: SparkSession, name: String): Unit = {
    Dedup.compactLabelStore(spark, name, "rkey")
    BucketedStore.compact(spark, s"${name}_blocks", name)
  }

  /** Self-triggering compaction cadence ([[BucketedStore.maybeCompact]]):
    * compact when any store table's deepest bucket exceeds
    * `maxFilesPerBucket` files (each ingest appends at most one file
    * per bucket, so this is the ingest count since the last compact) OR
    * the remap outgrew `maxRemapRows` (every read pays the broadcast).
    * Returns whether it compacted — streaming loops call this per
    * micro-batch in the writer's quiet window.
    */
  def maybeCompactEntityStore(spark: SparkSession, name: String,
      maxFilesPerBucket: Int, maxRemapRows: Long = 100000L): Boolean =
    BucketedStore.maybeCompact(spark, Seq(s"${name}_blocks", s"${name}_labels"),
      maxFilesPerBucket, Dedup.remapRows(spark, name) > maxRemapRows)(
      compactEntityStore(spark, name))

  // ---------------- entries ----------------
  // (Golden-record election is a one-liner on the clustered frame —
  // min(struct(key, attrs...)) groupBy(entity_id), partial-aggregable,
  // no per-entity sort — shown concretely in er03 below.)

  /** The er01–er03 block key, shared with the Scale probe so the
    * measured Σ|block|² always reflects the key the join actually
    * uses. The space separator is collision-free: the noun is a
    * whitespace-split token and cannot contain one. */
  def partBlockKey(name: Column, ptype: Column): Column =
    concat_ws(" ", element_at(split(name, " "), 2), ptype)

  /** The part-catalog linkage instantiation shared by er01–er03:
    * block = (last name token, p_type); features = name edit
    * distance, size gap, brand equality; match = dist<=2 && gap<=1.
    * Block sizes are bounded by the catalog vocabulary (max 56 at
    * sf0.01 — Σ|block|² ≈ 33k comparisons vs 2M all-pairs).
    */
  def partPairsOf(records: DataFrame): DataFrame =
    candidatePairs(records, "p_partkey",
      ac => partBlockKey(ac("p_name"), ac("p_type")),
      Seq(
        // banded codegen kernel: exact for dist <= 4, capped at 5
        // past it — indistinguishable under the keep gate, and the
        // early abandon skips most of each block's far pairs
        "name_dist" -> ((ac, bc) =>
          graft.functions.boundedLevenshtein(ac("p_name"), bc("p_name"), 4)),
        "size_diff" -> ((ac, bc) =>
          abs(ac("p_size") - bc("p_size")).cast("long")),
        "same_brand" -> ((ac, bc) =>
          when(ac("p_brand") === bc("p_brand"), 1L).otherwise(0L))),
      // cheap integer gate FIRST: the And short-circuits in codegen,
      // so the edit-distance kernel only runs on the size-compatible
      // fraction of each block (with the banded kernel: 10.9s naive
      // full-lattice → 2.2s at sf0.1)
      keep = col("size_diff") <= 2L && col("name_dist") <= 4L)

  private def partPairs(s: SparkSession, d: String): DataFrame =
    partPairsOf(Tables.part(s, d))

  /** Blocking-quality report — the numbers an ER engineer tunes the
    * block key BY, before any scoring runs: block count, hottest
    * block, in-block candidate pairs Σ b·(b−1)/2, the all-pairs
    * baseline n·(n−1)/2, and the reduction ratio 1 − cand/allpairs
    * (Christen's blocking metric). All exact integers off ONE
    * block-keyed count (partial-aggregable); the ratio one fixed-order
    * rounded division. One output row — the report that decides
    * whether a hot block needs a refined key BEFORE paying Σ|block|².
    */
  def blockingMetrics(records: DataFrame, idCol: String,
      blockOf: (String => Column) => Column): DataFrame = {
    val ac: String => Column = col
    val sizes = records.select(col(idCol), blockOf(ac).as("bk"))
      .groupBy(col("bk")).agg(count(lit(1)).as("b"))
    sizes.agg(sum(col("b")).as("n_records"),
        count(lit(1)).as("n_blocks"), max(col("b")).as("max_block"),
        sum(expr("b * (b - 1) div 2")).as("candidates"))
      .withColumn("all_pairs", expr("n_records * (n_records - 1) div 2"))
      .withColumn("reduction_ratio",
        when(col("all_pairs") > 0L, round(lit(1.0) -
          col("candidates").cast("double") / col("all_pairs").cast("double"),
          9)))
  }

  /** The er01/er05 linkage as a store contract: same block key, same
    * integer features, same keep gate; the link decision is
    * [[partMatches]]' (dist ≤ 2, size gap ≤ 1). */
  def partLinkSpec: LinkSpec = LinkSpec(
    keyCol = "p_partkey",
    blockKeys = Seq(ac => partBlockKey(ac("p_name"), ac("p_type"))),
    features = Seq(
      "name_dist" -> ((ac, bc) =>
        graft.functions.boundedLevenshtein(ac("p_name"), bc("p_name"), 4)),
      "size_diff" -> ((ac, bc) =>
        abs(ac("p_size") - bc("p_size")).cast("long")),
      "same_brand" -> ((ac, bc) =>
        when(ac("p_brand") === bc("p_brand"), 1L).otherwise(0L))),
    keep = col("size_diff") <= 2L && col("name_dist") <= 4L,
    isMatch = col("name_dist") <= 2L && col("size_diff") <= 1L)

  private def partMatches(s: SparkSession, d: String): DataFrame =
    partPairs(s, d).filter(col("name_dist") <= 2L && col("size_diff") <= 1L)

  private val erPairsSql = """
    SELECT a.p_partkey AS a_key, b.p_partkey AS b_key,
           CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS name_dist,
           CAST(abs(a.p_size - b.p_size) AS BIGINT) AS size_diff,
           CASE WHEN a.p_brand = b.p_brand THEN CAST(1 AS BIGINT)
                ELSE CAST(0 AS BIGINT) END AS same_brand
    FROM part a JOIN part b
      ON split_part(a.p_name, ' ', 2) = split_part(b.p_name, ' ', 2)
     AND a.p_type = b.p_type AND a.p_partkey < b.p_partkey
    WHERE levenshtein(a.p_name, b.p_name) <= 4
      AND abs(a.p_size - b.p_size) <= 2"""

  /** comp(id, entity_id) over the match edges, all parts included —
    * DuckDB fixpoint closure (UNION dedups (id, lab) states). */
  private val erCompSql = s"""
    WITH RECURSIVE
    cand AS ($erPairsSql),
    e0 AS (SELECT a_key, b_key FROM cand
           WHERE name_dist <= 2 AND size_diff <= 1),
    edges AS (SELECT a_key AS src, b_key AS dst FROM e0
              UNION ALL SELECT b_key, a_key FROM e0),
    reach(id, lab) AS (
      SELECT p_partkey, p_partkey FROM part
      UNION
      SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.id),
    comp AS (SELECT id, min(lab) AS entity_id FROM reach GROUP BY id)"""

  val entries: Seq[(String, QFn, Option[String])] = Seq(
    // ---- blocked + feature-filtered candidate pairs with integer
    //      similarity features: the recall surface an ER pipeline
    //      tunes. 2823 pairs at sf0.01 vs 2M all-pairs ----
    ("er01_candidate_pairs", (s: SparkSession, d: String) => {
      partPairs(s, d).orderBy("a_key", "b_key")
    }, Some(s"$erPairsSql ORDER BY a_key, b_key")),

    // ---- score calibration: candidate pairs bucketed by feature
    //      distance, with brand agreement as the proxy label — the
    //      threshold-tuning table behind er01's keep/isMatch gates
    //      ("at name_dist 3, do pairs still look like matches?").
    //      One partial-aggregable rollup over the candidate frame;
    //      output feature-grid-sized ----
    ("er10_score_calibration", (s: SparkSession, d: String) => {
      partPairs(s, d)
        .groupBy(col("name_dist"), col("size_diff"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("same_brand")).as("n_same_brand"))
        .select(col("name_dist"), col("size_diff"), col("n_pairs"),
          col("n_same_brand"),
          round(col("n_same_brand").cast("double") /
            col("n_pairs").cast("double"), 6).as("brand_agreement"))
        .orderBy("name_dist", "size_diff")
    }, Some(s"""
      WITH cand AS ($erPairsSql)
      SELECT name_dist, size_diff, count(*) AS n_pairs,
        CAST(sum(same_brand) AS BIGINT) AS n_same_brand,
        round(CAST(sum(same_brand) AS DOUBLE) / CAST(count(*) AS DOUBLE),
          6) AS brand_agreement
      FROM cand GROUP BY 1, 2 ORDER BY 1, 2""")),

    // ---- blocking-quality report for er01's block key: exact
    //      candidate count, hottest block, reduction ratio ----
    ("er09_blocking_metrics", (s: SparkSession, d: String) => {
      blockingMetrics(Tables.part(s, d), "p_partkey",
        ac => partBlockKey(ac("p_name"), ac("p_type")))
    }, Some("""
      WITH b AS (
        SELECT concat_ws(' ', string_split(p_name, ' ')[2], p_type) AS bk,
               count(*) AS b
        FROM part GROUP BY 1)
      SELECT CAST(sum(b) AS BIGINT) AS n_records,
        count(*) AS n_blocks,
        CAST(max(b) AS BIGINT) AS max_block,
        CAST(sum(b * (b - 1) // 2) AS BIGINT) AS candidates,
        CAST(sum(b) AS BIGINT) * (CAST(sum(b) AS BIGINT) - 1) // 2
          AS all_pairs,
        round(1.0 - CAST(sum(b * (b - 1) // 2) AS DOUBLE)
                    / CAST(CAST(sum(b) AS BIGINT)
                           * (CAST(sum(b) AS BIGINT) - 1) // 2 AS DOUBLE), 9)
          AS reduction_ratio
      FROM b""")),

    // ---- transitive closure of the match decision into entity ids:
    //      every part labeled, singletons included. Oracle = DuckDB
    //      recursive-CTE fixpoint; Spark = contracted-label CC ----
    ("er02_entity_clusters", (s: SparkSession, d: String) => {
      entityClusters(Tables.part(s, d), "p_partkey", partMatches(s, d))
        .select(col("p_partkey"), col("entity_id"))
        .orderBy("p_partkey")
    }, Some(s"""$erCompSql
      SELECT id AS p_partkey, entity_id FROM comp ORDER BY p_partkey""")),

    // ---- golden records: canonical attrs from the min-key member
    //      (one partial-aggregable election), plus per-entity rollups
    //      a catalog-cleanup job reports ----
    ("er03_canonical_records", (s: SparkSession, d: String) => {
      val clustered = entityClusters(Tables.part(s, d), "p_partkey",
        partMatches(s, d))
      clustered.groupBy(col("entity_id"))
        .agg(
          min(struct(col("p_partkey"), col("p_name"), col("p_brand"))).as("_c"),
          count(lit(1)).as("n_members"),
          countDistinct(col("p_brand")).as("n_brands"),
          min(col("p_size")).cast("long").as("size_min"),
          max(col("p_size")).cast("long").as("size_max"))
        .select(col("entity_id"), col("_c.p_name").as("canon_name"),
          col("_c.p_brand").as("canon_brand"), col("n_members"),
          col("n_brands"), col("size_min"), col("size_max"))
        .orderBy("entity_id")
    }, Some(s"""$erCompSql
      SELECT c.entity_id, p0.p_name AS canon_name,
             p0.p_brand AS canon_brand,
             count(*) AS n_members,
             count(DISTINCT p.p_brand) AS n_brands,
             CAST(min(p.p_size) AS BIGINT) AS size_min,
             CAST(max(p.p_size) AS BIGINT) AS size_max
      FROM comp c
      JOIN part p ON p.p_partkey = c.id
      JOIN part p0 ON p0.p_partkey = c.entity_id
      GROUP BY c.entity_id, p0.p_name, p0.p_brand
      ORDER BY entity_id""")),

    // ---- multi-pass blocking: (noun, type) ∪ (brand, size) — the
    //      second key recovers pairs whose NOUN differs within the
    //      edit budget (201 of 3024 pairs at sf0.01 are second-key-
    //      only), the classic recall lever when the blocked field
    //      itself can carry the typo ----
    ("er04_multikey_pairs", (s: SparkSession, d: String) => {
      candidatePairsMulti(Tables.part(s, d), "p_partkey",
        Seq(
          ac => partBlockKey(ac("p_name"), ac("p_type")),
          ac => concat_ws(" ", ac("p_brand"), ac("p_size").cast("string"))),
        Seq(
          "name_dist" -> ((ac, bc) =>
            graft.functions.boundedLevenshtein(ac("p_name"), bc("p_name"), 4)),
          "size_diff" -> ((ac, bc) =>
            abs(ac("p_size") - bc("p_size")).cast("long")),
          "same_brand" -> ((ac, bc) =>
            when(ac("p_brand") === bc("p_brand"), 1L).otherwise(0L))),
        keep = col("size_diff") <= 2L && col("name_dist") <= 4L)
        .orderBy("a_key", "b_key")
    }, Some(s"""
      SELECT DISTINCT * FROM (
        $erPairsSql
        UNION ALL
        SELECT a.p_partkey AS a_key, b.p_partkey AS b_key,
               CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS name_dist,
               CAST(abs(a.p_size - b.p_size) AS BIGINT) AS size_diff,
               CASE WHEN a.p_brand = b.p_brand THEN CAST(1 AS BIGINT)
                    ELSE CAST(0 AS BIGINT) END AS same_brand
        FROM part a JOIN part b
          ON a.p_brand = b.p_brand AND a.p_size = b.p_size
         AND a.p_partkey < b.p_partkey
        WHERE levenshtein(a.p_name, b.p_name) <= 4
          AND abs(a.p_size - b.p_size) <= 2)
      ORDER BY a_key, b_key""")),

    // ---- the ER production loop end-to-end: entity store built from
    //      the corpus split, one batch ingested THROUGH the store
    //      (blocked with zero store-side exchange, attached to min
    //      matched root, bridged entities merged by remap rows), final
    //      labels for every record read back from the store. Oracle
    //      replays the INCREMENTAL semantics: corpus closure → batch
    //      attach → merge closure (the store is the frame of
    //      reference — intra-batch pairs link on the NEXT round) ----
    ("er05_incremental_er", (s: SparkSession, d: String) => {
      val all = Tables.part(s, d)
      // deterministic ~20% "new batch" (d06's ANSI-safe Knuth hash)
      val isB =
        pmod(pmod(col("p_partkey"), lit(1000003L)) * lit(427799L), lit(1000003L)) % 5 === 0
      writeEntityStore(all.filter(!isB), "er05_store", partLinkSpec)
      val labeled = ingestBatch(s, "er05_store", all.filter(isB), partLinkSpec)
      entityLabels(s, "er05_store")
        .join(labeled.select(col("p_partkey").as("rkey"),
          col("status"), col("match_id")), Seq("rkey"), "left")
        .select(col("rkey").as("p_partkey"),
          coalesce(col("status"), lit("corpus")).as("status"),
          coalesce(col("match_id"), lit(-1L)).as("match_id"),
          col("root").as("entity_id"))
        .orderBy("p_partkey")
    }, Some("""
      WITH RECURSIVE
      flag AS (SELECT p_partkey,
                 (p_partkey % 1000003) * 427799 % 1000003 % 5 = 0 AS isb
               FROM part),
      cpairs AS (
        SELECT a.p_partkey AS a_key, b.p_partkey AS b_key
        FROM part a JOIN flag fa ON fa.p_partkey = a.p_partkey AND NOT fa.isb
             JOIN part b
               ON split_part(a.p_name, ' ', 2) = split_part(b.p_name, ' ', 2)
              AND a.p_type = b.p_type AND a.p_partkey < b.p_partkey
             JOIN flag fb ON fb.p_partkey = b.p_partkey AND NOT fb.isb
        WHERE levenshtein(a.p_name, b.p_name) <= 2
          AND abs(a.p_size - b.p_size) <= 1),
      edges AS (SELECT a_key AS src, b_key AS dst FROM cpairs
                UNION ALL SELECT b_key, a_key FROM cpairs),
      reach(id, lab) AS (
        SELECT p.p_partkey, p.p_partkey
        FROM part p JOIN flag f ON f.p_partkey = p.p_partkey AND NOT f.isb
        UNION
        SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.id),
      comp AS (SELECT id, min(lab) AS root FROM reach GROUP BY id),
      bpairs AS (
        SELECT a.p_partkey AS b_key, b.p_partkey AS s_key
        FROM part a JOIN flag fa ON fa.p_partkey = a.p_partkey AND fa.isb
             JOIN part b
               ON split_part(a.p_name, ' ', 2) = split_part(b.p_name, ' ', 2)
              AND a.p_type = b.p_type
             JOIN flag fb ON fb.p_partkey = b.p_partkey AND NOT fb.isb
        WHERE a.p_partkey <> b.p_partkey
          AND levenshtein(a.p_name, b.p_name) <= 2
          AND abs(a.p_size - b.p_size) <= 1),
      matched AS (SELECT bp.b_key, bp.s_key, c.root
                  FROM bpairs bp JOIN comp c ON c.id = bp.s_key),
      attach AS (SELECT b_key, min(root) AS aroot, min(s_key) AS match_id
                 FROM matched GROUP BY b_key),
      medges AS (SELECT DISTINCT a.aroot AS src, m.root AS dst
                 FROM matched m JOIN attach a USING (b_key)
                 WHERE m.root <> a.aroot),
      msym AS (SELECT src, dst FROM medges
               UNION ALL SELECT dst, src FROM medges),
      mreach(id, lab) AS (
        SELECT src, src FROM (SELECT DISTINCT src FROM msym)
        UNION
        SELECT e.dst, r.lab FROM mreach r JOIN msym e ON e.src = r.id),
      mcomp AS (SELECT id, min(lab) AS nroot FROM mreach GROUP BY id)
      SELECT c.id AS p_partkey, 'corpus' AS status,
             CAST(-1 AS BIGINT) AS match_id,
             coalesce(mc.nroot, c.root) AS entity_id
      FROM comp c LEFT JOIN mcomp mc ON mc.id = c.root
      UNION ALL
      SELECT p.p_partkey,
             CASE WHEN a.match_id IS NOT NULL THEN 'matched'
                  ELSE 'unique' END AS status,
             CAST(coalesce(a.match_id, -1) AS BIGINT) AS match_id,
             coalesce(mc.nroot, a.aroot, p.p_partkey) AS entity_id
      FROM part p JOIN flag f ON f.p_partkey = p.p_partkey AND f.isb
      LEFT JOIN attach a ON a.b_key = p.p_partkey
      LEFT JOIN mcomp mc ON mc.id = a.aroot
      ORDER BY p_partkey""")),

    // ---- Jaro-Winkler scoring inside the blocked join: the standard
    //      record-linkage name scorer next to edit distance (prefix
    //      typos score higher than suffix ones — the property a
    //      catalog's brand-prefixed names need). The codegen kernel's
    //      operation sequence matches DuckDB's jaro_winkler_similarity
    //      bit-for-bit; both sides round at 6dp and threshold on the
    //      ROUNDED value so the gate can never straddle a boundary ----
    ("er06_jaro_winkler", (s: SparkSession, d: String) => {
      candidatePairs(Tables.part(s, d), "p_partkey",
        ac => partBlockKey(ac("p_name"), ac("p_type")),
        Seq(
          "jw" -> ((ac, bc) =>
            round(graft.functions.jaroWinkler(ac("p_name"), bc("p_name")), 6)),
          "same_brand" -> ((ac, bc) =>
            when(ac("p_brand") === bc("p_brand"), 1L).otherwise(0L))),
        keep = col("jw") >= 0.88)
        .orderBy("a_key", "b_key")
    }, Some("""
      SELECT a.p_partkey AS a_key, b.p_partkey AS b_key,
             round(jaro_winkler_similarity(a.p_name, b.p_name), 6) AS jw,
             CASE WHEN a.p_brand = b.p_brand THEN CAST(1 AS BIGINT)
                  ELSE CAST(0 AS BIGINT) END AS same_brand
      FROM part a JOIN part b
        ON split_part(a.p_name, ' ', 2) = split_part(b.p_name, ' ', 2)
       AND a.p_type = b.p_type AND a.p_partkey < b.p_partkey
      WHERE round(jaro_winkler_similarity(a.p_name, b.p_name), 6) >= 0.88
      ORDER BY a_key, b_key""")),

    // ---- TRUE Damerau-Levenshtein inside the blocked join:
    //      transposition-aware edit distance (adjacent-swap = 1 op,
    //      the most common human typo), reported NEXT TO plain
    //      Levenshtein so transposed = lev - dl surfaces which pairs
    //      a transposition-blind matcher over-penalizes. The codegen
    //      kernel is the UNRESTRICTED variant on UTF-8 bytes —
    //      exactly DuckDB's damerau_levenshtein ('CA'->'ABC' = 2
    //      where restricted OSA says 3) ----
    ("er07_damerau", (s: SparkSession, d: String) => {
      candidatePairs(Tables.part(s, d), "p_partkey",
        ac => partBlockKey(ac("p_name"), ac("p_type")),
        Seq(
          "dl" -> ((ac, bc) =>
            graft.functions.damerauLevenshtein(ac("p_name"), bc("p_name"))),
          "lev" -> ((ac, bc) =>
            levenshtein(ac("p_name"), bc("p_name")).cast("long"))),
        keep = col("dl") <= 4L)
        .withColumn("transposed", col("lev") - col("dl"))
        .orderBy("a_key", "b_key")
    }, Some("""
      SELECT a.p_partkey AS a_key, b.p_partkey AS b_key,
             CAST(damerau_levenshtein(a.p_name, b.p_name) AS BIGINT) AS dl,
             CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS lev,
             CAST(levenshtein(a.p_name, b.p_name)
                  - damerau_levenshtein(a.p_name, b.p_name) AS BIGINT)
               AS transposed
      FROM part a JOIN part b
        ON split_part(a.p_name, ' ', 2) = split_part(b.p_name, ' ', 2)
       AND a.p_type = b.p_type AND a.p_partkey < b.p_partkey
      WHERE damerau_levenshtein(a.p_name, b.p_name) <= 4
      ORDER BY a_key, b_key""")),

    // ---- cross-catalog linkage: the part catalog against a "vendor
    //      feed" whose names carry a deterministic typo (3rd byte
    //      deleted) — the A×B record-linkage case, NOT self-dedup: a
    //      per-side block-key extractor (the noun survives the typo
    //      on both sides), no a<b dedup, every A×B pair a distinct
    //      hypothesis. The vendor frame is DERIVED (this container
    //      has one string-rich catalog), but the operator is the
    //      general two-table path ----
    ("er08_catalog_link", (s: SparkSession, d: String) => {
      val part = Tables.part(s, d)
      val vendor = part.select(col("p_partkey").as("v_id"),
        concat(substring(col("p_name"), 1, 2), expr("substring(p_name, 4)"))
          .as("v_name"),
        col("p_type").as("v_type"))
      linkCatalogs(part, "p_partkey", vendor, "v_id",
        ac => partBlockKey(ac("p_name"), ac("p_type")),
        bc => partBlockKey(bc("v_name"), bc("v_type")),
        Seq(
          "jw" -> ((ac, bc) =>
            round(graft.functions.jaroWinkler(ac("p_name"), bc("v_name")), 6)),
          "hit" -> ((ac, bc) =>
            when(ac("p_partkey") === bc("v_id"), 1L).otherwise(0L))),
        keep = col("jw") >= 0.94)
        .orderBy("a_key", "b_key")
    }, Some("""
      WITH v AS (SELECT p_partkey AS v_id,
          substr(p_name, 1, 2) || substr(p_name, 4) AS v_name,
          p_type AS v_type
        FROM part)
      SELECT a.p_partkey AS a_key, v.v_id AS b_key,
             round(jaro_winkler_similarity(a.p_name, v.v_name), 6) AS jw,
             CASE WHEN a.p_partkey = v.v_id THEN CAST(1 AS BIGINT)
                  ELSE CAST(0 AS BIGINT) END AS hit
      FROM part a JOIN v
        ON split_part(a.p_name, ' ', 2) = split_part(v.v_name, ' ', 2)
       AND a.p_type = v.v_type
      WHERE round(jaro_winkler_similarity(a.p_name, v.v_name), 6) >= 0.94
      ORDER BY a_key, b_key"""))
  )
}
