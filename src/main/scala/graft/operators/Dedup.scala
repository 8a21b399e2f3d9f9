package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{BucketedStore, Tables}
import graft.functions.fnv64
import graft.functions.simhash64

/** Deduplication operators for training-data pipelines.
  *
  * Scale design: nothing here is all-pairs. MinHash/LSH shuffles
  * O(docs x bands) band-key rows and verifies Jaccard only inside
  * buckets; SimHash blocks on 2-of-8 chunk-pair keys (complete for
  * hamming<=6, 2^16 bucket selectivity); n-gram Jaccard
  * scores against a query document (linear); exact dedup is one
  * hash-shuffle groupBy.
  */
object Dedup {
  type QFn = (SparkSession, String) => DataFrame

  /** distinct word-trigram shingles of `text`. Documents shorter than 3
    * words yield their full word sequence as the single shingle —
    * mirrors [[graft.functions.shingleHashes]], and avoids ANSI-mode
    * INVALID_ARRAY_INDEX_IN_ELEMENT_AT on 1–2-word docs (element_at
    * past the array end throws under Spark 4's default ANSI). */
  def shingles(text: Column): Column = {
    val w = split(trim(text), " ")
    array_distinct(
      when(size(w) >= 3,
        transform(sequence(lit(1), size(w) - 2),
          i => concat_ws(" ", element_at(w, i), element_at(w, i + 1), element_at(w, i + 2))))
        .otherwise(array(concat_ws(" ", w))))
  }


  /** MinHash+LSH near-duplicate pairs over (doc_id, text).
    *
    * Pipeline: shingle → 32-way minhash signature (one partial-agg
    * groupBy) → 8 bands of 4 → self-join on band key (the only
    * all-to-all shuffle, O(docs x 8) rows) → exact Jaccard verify on
    * bucket-collided candidates only. At 100 TB the band join's key
    * space keeps buckets tiny; skewed buckets are handled by AQE.
    */
  /** (doc_id, sh): one-pass distinct shingle-hash set per doc (custom
    * codegen kernel), with the CPU-bound map stage spread across all
    * cores first — a coarse input layout (one parquet file locally;
    * oversized or skewed splits at scale) would otherwise serialize
    * it, and the raw-text shuffle is cheap next to the shingle work
    * it balances. */
  private def shingled(documents: DataFrame): DataFrame =
    documents.select(col("doc_id"), col("text"))
      .repartition(documents.sparkSession.sparkContext.defaultParallelism)
      .select(col("doc_id"),
        graft.functions.shingleHashes(col("text"), 3).as("sh"))

  /** (doc_id, band, bkey): 8 band keys of 4 signature slots each from
    * the 32-way minhash signature (one partial-agg groupBy through the
    * custom MinHashSig aggregate; one row per (doc, band) from a
    * single signature pass — an 8-way unionAll would re-run the
    * aggregation per band). */
  private def minhashBands(docs: DataFrame): DataFrame = {
    val sigs = docs.select(col("doc_id"), explode(col("sh")).as("h"))
      .groupBy(col("doc_id"))
      .agg(graft.functions.minhashSig(col("h")).as("sig"))
    val bandArr = array((0 until 8).map { b =>
      struct(lit(b).as("band"),
        xxhash64((1 to 4).map(i => element_at(col("sig"), 4 * b + i)): _*).as("bkey"))
    }: _*)
    sigs.select(col("doc_id"), explode(bandArr).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bkey").as("bkey"))
  }

  def minhashPairs(documents: DataFrame, jaccardMin: Double): DataFrame = {
    val docs = shingled(documents)
    val bands = minhashBands(docs)
    // candidate pairs: collect each bucket once (buckets are tiny by
    // LSH construction; exact duplicates should be removed by exact
    // dedup first, which keeps bucket skew bounded at scale)
    val buckets = bands.groupBy(col("band"), col("bkey"))
      .agg(collect_list(col("doc_id")).as("ids"))
      .filter(size(col("ids")) > 1)
    val cands = buckets
      .select(posexplode(col("ids")).as(Seq("i", "id_x")), col("ids"))
      .select(col("id_x"), explode(slice(col("ids"), col("i") + 2, size(col("ids")))).as("id_y"))
      .select(least(col("id_x"), col("id_y")).as("id_a"),
        greatest(col("id_x"), col("id_y")).as("id_b"))
      .distinct()
    // exact Jaccard over the hashed shingle sets (standard practice:
    // 64-bit collisions are negligible) — but only for docs that are
    // actually candidates: at scale the verify stage must re-shingle
    // ~0.1% of the corpus, not all of it (AQE broadcasts the tiny id
    // list into the prune join)
    val candIds = cands
      .select(explode(array(col("id_a"), col("id_b"))).as("doc_id")).distinct()
    val candDocs = docs.join(candIds, "doc_id")
    val a = candDocs.select(col("doc_id").as("id_a"), col("sh").as("sh_a"))
    val b = candDocs.select(col("doc_id").as("id_b"), col("sh").as("sh_b"))
    cands.join(a, "id_a").join(b, "id_b")
      .select(col("id_a"), col("id_b"),
        (size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b")))).as("jaccard"))
      .filter(col("jaccard") >= jaccardMin)
      .orderBy("id_a", "id_b")
  }

  /** Sub-document units: explode each doc into fixed `windowWords`-word
    * windows (non-overlapping), the unit grain real pretraining corpora
    * deduplicate at — boilerplate, partial copies, and quotes recur at
    * the paragraph/window level even when whole documents differ.
    * Output: (doc_id, uid, utext), uid = doc_id * 2^20 + window index
    * (supports docs up to 2^20 windows and ids up to 2^43 — ANSI mode
    * throws loudly rather than wrapping beyond that). One explode, no
    * shuffle; unit count is ~words/windowWords per doc.
    */
  def subdocUnits(documents: DataFrame, windowWords: Int = 16): DataFrame = {
    val ws = filter(split(trim(col("text")), " "), w => w =!= "")
    documents.select(col("doc_id"), ws.as("ws"))
      .filter(size(col("ws")) > 0)
      .select(col("doc_id"),
        posexplode(transform(
          sequence(lit(0), size(col("ws")) - 1, lit(windowWords)),
          i => concat_ws(" ", slice(col("ws"), i + 1, lit(windowWords)))))
          .as(Seq("uidx", "utext")))
      .select(col("doc_id"),
        (col("doc_id") * lit(1048576L) + col("uidx")).as("uid"), col("utext"))
  }

  /** Sub-document near-dup dedup: minhash-LSH over window units,
    * CROSS-DOC pairs only, rolled up to a per-doc duplicated-unit
    * fraction (the filter signal: drop or trim docs whose windows are
    * mostly copies of other docs). Same machinery and shuffle budget
    * as [[minhashPairs]] — O(units x 8) band rows, bucket-collected
    * candidates, semi-join-pruned verify — with same-doc pairs
    * discarded at the candidate stage (before the verify joins).
    */
  def subdocDupStats(documents: DataFrame, windowWords: Int = 16,
      jaccardMin: Double = 0.5): DataFrame = {
    val units = subdocUnits(documents, windowWords)
    val docs = shingled(units.select(col("uid").as("doc_id"), col("utext").as("text")))
    val bands = minhashBands(docs)
    val buckets = bands.groupBy(col("band"), col("bkey"))
      .agg(collect_list(col("doc_id")).as("ids"))
      .filter(size(col("ids")) > 1)
    // uid unpacking must be integer-exact at any scale: a double
    // division would corrupt doc ids once uid passes 2^53
    val docOf: Column => Column = u => shiftright(u, 20)
    val cands = buckets
      .select(posexplode(col("ids")).as(Seq("i", "id_x")), col("ids"))
      .select(col("id_x"), explode(slice(col("ids"), col("i") + 2, size(col("ids")))).as("id_y"))
      .filter(docOf(col("id_x")) =!= docOf(col("id_y"))) // cross-doc only
      .select(least(col("id_x"), col("id_y")).as("id_a"),
        greatest(col("id_x"), col("id_y")).as("id_b"))
      .distinct()
    val candIds = cands
      .select(explode(array(col("id_a"), col("id_b"))).as("doc_id")).distinct()
    val candDocs = docs.join(candIds, "doc_id")
    val a = candDocs.select(col("doc_id").as("id_a"), col("sh").as("sh_a"))
    val b = candDocs.select(col("doc_id").as("id_b"), col("sh").as("sh_b"))
    val dupUnits = cands.join(a, "id_a").join(b, "id_b")
      .filter(graft.functions.jaccardHashes(col("sh_a"), col("sh_b")) >= jaccardMin)
      .select(explode(array(col("id_a"), col("id_b"))).as("uid")).distinct()
    val perDoc = units.groupBy(col("doc_id")).agg(count(lit(1)).as("n_units"))
    val dupPerDoc = dupUnits.select(docOf(col("uid")).as("doc_id"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_dup_units"))
    perDoc.join(dupPerDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_units"),
        coalesce(col("n_dup_units"), lit(0L)).as("n_dup_units"),
        round(coalesce(col("n_dup_units"), lit(0L)).cast("double") / col("n_units"), 6)
          .as("dup_fraction"))
      .orderBy("doc_id")
  }

  /** Eval-set decontamination: count each corpus doc's distinct 8-gram
    * shingle hashes shared with ANY doc of a (small) eval set, and flag
    * docs at >= `minShared` — the standard pre-training hygiene step
    * that keeps benchmark text out of the training mix. Scale shape:
    * the eval side collapses to one distinct hash set (tiny — eval
    * suites are MBs, corpora are TBs) and BROADCASTS into the corpus
    * shingle stream; the only shuffle is the per-doc count of matches,
    * which carries contaminated shingles only.
    */
  def decontaminate(corpus: DataFrame, evalSet: DataFrame, n: Int = 8,
      minShared: Int = 3): DataFrame = {
    val sh = graft.functions.shingleHashes(col("text"), n)
    val evalH = evalSet
      .repartition(evalSet.sparkSession.sparkContext.defaultParallelism)
      .select(explode(sh).as("h")).distinct()
    val corpusH = corpus
      .repartition(corpus.sparkSession.sparkContext.defaultParallelism)
      .select(col("doc_id"), explode(sh).as("h"))
    val shared = corpusH.join(broadcast(evalH), "h")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_shared"))
    corpus.select(col("doc_id")).join(shared, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared_8grams"),
        (coalesce(col("n_shared"), lit(0L)) >= minShared).as("contaminated"))
      .orderBy("doc_id")
  }

  /** [[decontaminate]] flipped to the 100 TB shape: screen a batch
    * against a MASSIVE seen/reference corpus (prior training runs, an
    * earlier crawl) whose distinct-shingle set is far beyond any
    * broadcast threshold — the case d12's `broadcast(evalH)` cannot
    * serve. Three phases:
    *   1. BUILD — one tree-aggregated pass folds the reference's
    *      n-gram shingle hashes into a fixed-size bloom
    *      (`numBits/8` bytes on the driver; a sidecar-sized object a
    *      production loop builds once and reuses across batches).
    *   2. PROBE — a map-only `might_contain` prefilter over the
    *      batch's shingles: no join, no exchange, stays in codegen.
    *   3. CONFIRM — the bloom has no false negatives, so the
    *      surviving candidate hashes are a superset of the truly
    *      shared ones and, under low contamination, tiny (bounded by
    *      shared + fpp x |batch shingles|). One semi-join of the
    *      reference against that broadcast candidate set drops the
    *      false positives, making the final per-doc counts EXACT —
    *      same semantics and oracle as d12.
    * Shuffle budget: reference scanned map-only (build once ever,
    * confirm once per batch, candidate side broadcast both times);
    * batch scanned once; every exchange is candidate-sized.
    */
  def bloomDecontaminate(corpus: DataFrame, ref: DataFrame, n: Int = 8,
      minShared: Int = 3, expectedItems: Long = 1L << 20,
      numBits: Long = 1L << 23): DataFrame = {
    val bf = buildShingleBloom(ref, n, expectedItems, numBits)
    bloomDecontaminateWith(corpus, ref, bf, n, minShared)
  }

  /** The d20 BUILD phase alone: fold `ref`'s n-gram shingle hashes
    * into a serialized bloom (numBits/8 bytes on the driver — the
    * reusable sidecar a production loop persists via
    * [[writeBloomSidecar]] and rebuilds only when the reference
    * changes). Null when the reference is empty.
    */
  def buildShingleBloom(ref: DataFrame, n: Int = 8,
      expectedItems: Long = 1L << 20, numBits: Long = 1L << 23): Array[Byte] = {
    val par = ref.sparkSession.sparkContext.defaultParallelism
    val sh = graft.functions.shingleHashes(col("text"), n)
    ref.repartition(par).select(explode(sh).as("h"))
      .agg(graft.functions.bloomAgg(col("h"), expectedItems, numBits).as("bf"))
      .head.getAs[Array[Byte]](0)
  }

  /** The d20 PROBE + CONFIRM phases against a prebuilt bloom — the
    * per-batch (or per-micro-batch: streaming decontamination reuses
    * this verbatim) work once the sidecar exists. `ref` is only
    * scanned for the candidate-broadcast confirm semi-join; the bloom
    * bytes ride the plan as a literal.
    */
  def bloomDecontaminateWith(corpus: DataFrame, ref: DataFrame,
      bf: Array[Byte], n: Int = 8, minShared: Int = 3): DataFrame = {
    val par = corpus.sparkSession.sparkContext.defaultParallelism
    val sh = graft.functions.shingleHashes(col("text"), n)
    val refH = ref.repartition(par).select(explode(sh).as("h"))
    val corpusH = corpus.repartition(par).select(col("doc_id"), explode(sh).as("h"))
    val cand =
      if (bf == null) corpusH.where(lit(false))
      else corpusH.where(graft.functions.bloomMightContain(bf, col("h")))
    val candSet = cand.select(col("h")).distinct()
    val confirmed = refH.join(broadcast(candSet), Seq("h"), "left_semi").distinct()
    val shared = cand.join(broadcast(confirmed), Seq("h"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_shared"))
    corpus.select(col("doc_id")).join(shared, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_shared"), lit(0L)).as(s"n_shared_${n}grams"),
        (coalesce(col("n_shared"), lit(0L)) >= minShared).as("contaminated"))
      .orderBy("doc_id")
  }

  /** Persist a [[buildShingleBloom]] result (binary sidecar:
    * magic + shingle n + built-at reference row count + byte length +
    * serialized filter). Empty reference (null bloom) writes length 0;
    * the loader returns null. `refRows` (-1 = unknown) is what the
    * refresh cadence ([[maybeRefreshBloomSidecar]]) compares reference
    * growth against. The length prefix + readFully make a torn file
    * fail loudly on read; the write lands on a tmp name first and
    * swaps in via rename so a crash mid-write never replaces a good
    * sidecar with a partial one.
    */
  def writeBloomSidecar(spark: SparkSession, path: String, bf: Array[Byte],
      n: Int, refRows: Long = -1L): Unit = {
    val fin = new org.apache.hadoop.fs.Path(s"$path/shingle_bloom.bin")
    val tmp = new org.apache.hadoop.fs.Path(s"$path/shingle_bloom.bin.tmp")
    val fs = fin.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = new java.io.DataOutputStream(fs.create(tmp, true))
    try {
      out.writeInt(0x47424c32) // "GBL2" (v2: + refRows; v1 still read)
      out.writeInt(n)
      out.writeLong(refRows)
      out.writeInt(if (bf == null) 0 else bf.length)
      if (bf != null) out.write(bf)
    } finally out.close()
    // swap: delete + rename (HDFS rename won't overwrite). The gap is
    // a missing-file window, not a torn-file window — a concurrent
    // reader fails loudly and retries; the single-writer streaming
    // loop swaps in its between-batch quiet window where it races
    // nothing (the store compaction's contract).
    if (fs.exists(fin)) fs.delete(fin, false)
    require(fs.rename(tmp, fin), s"bloom sidecar swap failed at $fin")
  }

  /** Load a bloom sidecar: (shingle n, serialized filter or null,
    * built-at reference rows — -1 when unknown/v1). */
  def readBloomSidecarMeta(spark: SparkSession,
      path: String): (Int, Array[Byte], Long) = {
    val p = new org.apache.hadoop.fs.Path(s"$path/shingle_bloom.bin")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = new java.io.DataInputStream(fs.open(p))
    try {
      val magic = in.readInt()
      require(magic == 0x47424c31 || magic == 0x47424c32,
        s"corrupt bloom sidecar at $p")
      val n = in.readInt()
      val refRows = if (magic == 0x47424c32) in.readLong() else -1L
      val len = in.readInt()
      if (len == 0) (n, null, refRows)
      else { val b = new Array[Byte](len); in.readFully(b); (n, b, refRows) }
    } finally in.close()
  }

  /** Load a bloom sidecar: (shingle n, serialized filter or null). */
  def readBloomSidecar(spark: SparkSession, path: String): (Int, Array[Byte]) = {
    val (n, bf, _) = readBloomSidecarMeta(spark, path)
    (n, bf)
  }

  /** Refresh CADENCE for the bloom sidecar — the companion of the
    * compaction triggers, closing the freshness gap the sidecar
    * contract documents (a reference row added after the build is
    * invisible to the probe until a rebuild): rebuild + atomically
    * swap the sidecar when the reference has grown by `growthFactor`
    * since the stored build (or when the stored count is unknown —
    * a v1 sidecar refreshes once onto v2 and then keys normally).
    * Returns whether it refreshed, so a serving loop knows to reload
    * the filter bytes.
    *
    * The growth probe is one count() of the reference — a
    * footer-level scan on parquet, cheap next to any batch's probe
    * work; the rebuild itself is the one-time tree-agg build, paid
    * only when the trigger fires. STALE-WINDOW SEMANTICS: matches
    * against reference rows added since the last refresh are missed
    * (false negatives) until the next trigger — the bound is
    * `growthFactor`; a use that cannot tolerate any window must
    * rebuild on every reference write instead of on a cadence.
    */
  def maybeRefreshBloomSidecar(spark: SparkSession, path: String,
      ref: DataFrame, growthFactor: Double = 1.5,
      expectedItems: Long = 1L << 20, numBits: Long = 1L << 23): Boolean = {
    require(growthFactor > 1.0, s"need growthFactor > 1, got $growthFactor")
    val (n, _, builtRows) = readBloomSidecarMeta(spark, path)
    val curRows = ref.count()
    // no-growth short-circuit FIRST: with builtRows == 0 (sidecar
    // built over an empty reference) the factor comparison
    // `curRows < 0 * f` would otherwise trigger a full rebuild on
    // EVERY batch while the reference stays empty
    if (builtRows >= 0 &&
      (curRows <= builtRows || curRows < builtRows * growthFactor)) false
    else {
      writeBloomSidecar(spark, path,
        buildShingleBloom(ref, n, expectedItems, numBits), n, curRows)
      true
    }
  }

  /** Exact duplicated-substring spans (the Lee et al. "Deduplicating
    * Training Data" companion to d11's near-dup windows): per doc, the
    * MAXIMAL word runs of >= `minWords` words in which every k-word
    * window also occurs verbatim in ANOTHER document — the spans a
    * substring-level dedup would trim. Positioned k-gram hashes
    * (64-bit FNV, the standard hash-equality approximation of a
    * suffix-array match; the oracle replays the same chain so both
    * sides share collision behavior), cross-doc-shared hashes by one
    * groupBy(h) (min(doc) != max(doc) — no count-distinct sketch
    * needed), then gaps-and-islands over each doc's surviving
    * positions. Shuffle budget: one O(positions) hash shuffle + one
    * join back on h + one per-doc window over DUPLICATED positions
    * only (at corpus scale the overwhelmingly common case is a tiny
    * duplicated fraction, so the window stage is cheap; the two
    * O(positions) stages are the irreducible cost of positional
    * k-grams, same budget class as d11's band explode).
    */
  def substringDupSpans(documents: DataFrame, k: Int = 8,
      minWords: Int = 16): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ws = filter(split(trim(col("text")), " "), w => w =!= "")
    val pos = documents
      .repartition(documents.sparkSession.sparkContext.defaultParallelism)
      .select(col("doc_id"), ws.as("ws"))
      .filter(size(col("ws")) >= k)
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(1), size(col("ws")) - (k - 1)),
          i => fnv64(concat_ws(" ", slice(col("ws"), i, lit(k))))))
          .as(Seq("p0", "h")))
      .select(col("doc_id"), (col("p0") + 1).as("pos"), col("h"))
    val dup = pos.groupBy(col("h"))
      .agg(min(col("doc_id")).as("mn"), max(col("doc_id")).as("mx"))
      .filter(col("mn") =!= col("mx"))
      .select(col("h"))
    // (doc_id, pos) is unique by construction (one h per position, one
    // dup row per h) — no distinct needed
    val marked = pos.join(dup, "h").select(col("doc_id"), col("pos"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    marked
      .withColumn("grp", col("pos") - row_number().over(w))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min(col("pos")).as("start_word"),
        (count(lit(1)) + (k - 1)).as("n_words"))
      .filter(col("n_words") >= minWords)
      .select(col("doc_id"), col("start_word").cast("bigint").as("start_word"),
        col("n_words").cast("bigint").as("n_words"))
      .orderBy("doc_id", "start_word")
  }

  /** Exact substring REMOVAL — the rewrite half of [[substringDupSpans]]
    * (Lee et al. "Deduplicating Training Data": don't just FLAG the
    * duplicated spans, emit the cleaned corpus). Every flagged span is
    * cut from every document that carries it (the paper's ExactSubstr
    * policy: all copies go; a keep-one policy is a doc_id predicate on
    * the span table away), words outside spans are kept in order, and
    * the output re-counts tokens so the pipeline can audit how much
    * text the surgery cost.
    *
    * Scale shape: the span table is small (duplicated-run fraction of
    * the corpus), so it aggregates per doc in a tiny shuffle and joins
    * BACK to the corpus by doc_id — broadcast when it fits, AQE
    * decides; the corpus rows themselves are rewritten in place by the
    * SpanCut codegen kernel — one byte pass per doc with an advancing
    * span cursor, O(words + spans) — and never shuffle. (A first cut
    * evaluated a words×spans transform/filter/exists lattice in
    * interpreted lambdas; same HOF→kernel upgrade as pqAssign.) Docs
    * without spans pass through verbatim. Spans are disjoint maximal
    * runs, so independently sorting starts and ends keeps the pairs
    * aligned.
    */
  def substringRemove(documents: DataFrame, k: Int = 8,
      minWords: Int = 16): DataFrame = {
    val spans = substringDupSpans(documents, k, minWords)
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("start_word"))).as("starts"),
        sort_array(collect_list(col("start_word") + col("n_words") - 1)).as("ends"))
    val none = array().cast("array<bigint>")
    val cut = graft.functions.spanCut(col("text"),
      coalesce(col("starts"), none), coalesce(col("ends"), none))
    documents
      .repartition(documents.sparkSession.sparkContext.defaultParallelism)
      .select(col("doc_id"), col("text"))
      .join(spans, Seq("doc_id"), "left")
      .select(col("doc_id"), cut.as("c"))
      .select(col("doc_id"),
        col("c").getField("n_words").as("n_words"),
        col("c").getField("n_removed").as("n_removed"),
        col("c").getField("clean_text").as("clean_text"))
      .orderBy("doc_id")
  }

  /** Cross-set near-duplicate detection: which docs of `batch` have a
    * near-dup (jaccard >= jaccardMin) in `corpus`. THE incremental
    * ingest shape: batch band keys join corpus band keys, so each
    * increment costs O(batch bands + cross-bucket candidates) — no
    * corpus self-pairs, no recompute of corpus-vs-corpus. At 100 TB
    * the corpus band table is a materialized signature store (write
    * `minhashBands` output once, bucketed by (band, bkey)); the
    * per-batch join then shuffles only the new docs' bands.
    */
  def minhashPairsAgainst(corpus: DataFrame, batch: DataFrame,
      jaccardMin: Double): DataFrame = {
    val cd = shingled(corpus)
    val bd = shingled(batch)
    val cb = minhashBands(cd)
      .select(col("doc_id").as("corpus_id"), col("band"), col("bkey"))
    val bb = minhashBands(bd)
      .select(col("doc_id").as("batch_id"), col("band"), col("bkey"))
    val cands = bb.join(cb, Seq("band", "bkey"))
      .select(col("batch_id"), col("corpus_id")).distinct()
    // exact-jaccard verify on cross-bucket candidates only (the joins
    // prune the shingle recompute to candidate ids)
    val a = bd.select(col("doc_id").as("batch_id"), col("sh").as("sh_a"))
    val c = cd.select(col("doc_id").as("corpus_id"), col("sh").as("sh_b"))
    cands.join(a, "batch_id").join(c, "corpus_id")
      .select(col("batch_id"), col("corpus_id"),
        graft.functions.jaccardHashes(col("sh_a"), col("sh_b")).as("jaccard"))
      .filter(col("jaccard") >= jaccardMin)
  }

  /** (doc_id, skey): a shingled doc set's band keys, band folded into
    * one bucketable `skey = xxhash64(band, bkey)`. */
  private def bandsOf(shingles: DataFrame): DataFrame =
    minhashBands(shingles)
      .select(col("doc_id"), xxhash64(col("band"), col("bkey")).as("skey"))

  /** Materialize the corpus signature store that makes incremental
    * dedup cost ∝ batch size: the band table keyed by a single
    * `skey = xxhash64(band, bkey)` and the per-doc shingle sets for
    * the verify stage, both [[BucketedStore]] tables. Every subsequent
    * batch join then reads the store with ZERO exchange on the store
    * side — only the (small) batch shuffles. skey folding band into
    * one column is what lets the store bucket on one key; cross-band
    * skey collisions can only ADD candidates, and the exact-jaccard
    * verify removes them. Ingest, delete and compaction go through
    * [[signatureStore]].
    */
  def writeSignatureStore(corpus: DataFrame, name: String, buckets: Int = 8): Unit = {
    val cd = shingled(corpus)
    BucketedStore.create(bandsOf(cd), s"${name}_bands", buckets, "skey")
    BucketedStore.create(cd, s"${name}_shingles", buckets, "doc_id")
    // a full rebuild is a NEW store generation: the suppression-list
    // contract ("a retired id stays dead") is scoped to one
    // generation — carrying the previous generation's tombstones
    // forward would silently drop legitimately fresh corpus docs
    // whose ids recur (content-hash ids recur by design)
    corpus.sparkSession.sql(s"DROP TABLE IF EXISTS ${name}_tombstones")
  }

  /** The signature store `store` (built by [[writeSignatureStore]]) as a
    * [[NearDupStore]] classifying at `jaccardMin`: a batch adds its
    * shingle sets (`_shingles`, the id table) and band keys (`_bands`);
    * its pair source is [[minhashPairsAgainst]] with the corpus side
    * read from the store — never re-shingled, re-signed or re-banded.
    * The batch's band keys join the bucketed `_bands` on skey (zero
    * store-side exchange), candidates verify by exact jaccard against
    * the bucketed `_shingles`. `corpus_id =!= batch_id` is the replay
    * guard: a retried batch whose rows were already appended must not
    * match ITSELF at jaccard 1.0. */
  def signatureStore(store: String, jaccardMin: Double): NearDupStore =
    new NearDupStore(store) {
      protected def base(batch: DataFrame): DataFrame = shingled(batch)
      protected val tables = Seq("_bands" -> (bandsOf _), "_shingles" -> identity[DataFrame] _)
      protected val idTable = "_shingles"
      protected def pairs(spark: SparkSession, rows: Map[String, DataFrame]): DataFrame = {
        val bb = rows("_bands").select(col("doc_id").as("batch_id"), col("skey"))
        val cb = read(spark, "_bands").select(col("doc_id").as("corpus_id"), col("skey"))
        val cands = bb.join(cb, "skey")
          .filter(col("corpus_id") =!= col("batch_id"))
          .select(col("batch_id"), col("corpus_id")).distinct()
        val a = rows("_shingles").select(col("doc_id").as("batch_id"), col("sh").as("sh_a"))
        val c = read(spark, "_shingles").select(col("doc_id").as("corpus_id"), col("sh").as("sh_b"))
        cands.join(a, "batch_id").join(c, "corpus_id")
          .select(col("batch_id"), col("corpus_id"),
            graft.functions.jaccardHashes(col("sh_a"), col("sh_b")).as("jaccard"))
          .filter(col("jaccard") >= jaccardMin)
      }
    }

  // -------------------------------------------------------------------
  // Incremental cluster labels: connected-component ids maintained
  // batch-by-batch ALONGSIDE a pair-producing store (signature,
  // fingerprint, video or ER blocks), so cluster resolution never
  // needs a full corpus rerun. Layout mirrors the store's
  // append/compact economics; `key` is the label key column (doc_id,
  // or rkey for ER):
  //
  //   `${name}_labels` — (key, root) appended per batch, the root
  //     resolved AT APPEND TIME; a BucketedStore table on key.
  //   `${name}_remap`  — (old_root, new_root), broadcast-sized: the
  //     lazy half of a union-find. When a batch doc bridges two
  //     existing clusters nobody rewrites the big labels table — the
  //     losing root gets a remap row. Kept transitively RESOLVED
  //     (every new_root is a current root): each batch rewrites this
  //     KB-sized table, never the labels.
  //
  // Current assignment = labels LEFT JOIN broadcast(remap): zero
  // shuffle on the labels side. Invariants: roots only merge downward
  // (to the smaller id); remap keys are dead roots, remap values are
  // live roots, so the key sets of old and new remap rows can never
  // collide and one hop always fully resolves.
  // -------------------------------------------------------------------

  private def writeRemap(name: String, remap: DataFrame): Unit =
    remap.write.mode(org.apache.spark.sql.SaveMode.Overwrite).format("parquet")
      .saveAsTable(s"${name}_remap")

  private def emptyRemap(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq.empty[(Long, Long)].toDF("old_root", "new_root")
  }

  /** Land a label store for a corpus — the one label-store creation
    * every labeled store shares: one connected-components run over the
    * corpus' own near-dup `edges` (id_a, id_b), the LAST full run ever
    * needed (ingest maintains labels from here on), each key of `ids`
    * labeled with its component's root, singletons with their own key,
    * and an empty remap. The closure is bounded (r19): pair sets under
    * the 100k ceiling run the one-collect driver union-find; larger
    * corpora fall through to the distributed fixpoint unchanged (labels
    * proven identical). */
  private[operators] def createLabelStore(ids: DataFrame, edges: DataFrame,
      name: String, buckets: Int, key: String = "doc_id"): Unit = {
    val spark = ids.sparkSession
    val cc = connectedComponentsBounded(edges.select(col("id_a"), col("id_b")))
    val labels = ids.join(cc, col(key) === col("id"), "left")
      .select(col(key), coalesce(col("lab"), col(key)).as("root"))
    BucketedStore.create(labels, s"${name}_labels", buckets, key)
    graft.sources.Sinks.clearOrphanLocation(spark, s"${name}_remap")
    writeRemap(name, emptyRemap(spark))
  }

  /** Initialize the label store for a corpus ([[createLabelStore]] over
    * its minhash pairs); [[NearDupStore.ingestLabeled]] maintains it.
    * Pair with [[writeSignatureStore]] on the same corpus. */
  def writeLabelStore(corpus: DataFrame, name: String, jaccardMin: Double,
      buckets: Int = 8): Unit =
    createLabelStore(corpus.select(col("doc_id")), minhashPairs(corpus, jaccardMin),
      name, buckets)

  /** Current (key, root) assignment: the labels table resolved one
    * hop through the broadcast remap — the labels side never shuffles.
    */
  def clusterLabels(spark: SparkSession, name: String,
      key: String = "doc_id"): DataFrame = {
    // ingest overwrites the remap, possibly from a streaming clone
    // session whose writes invalidate only its OWN relation cache —
    // refresh ours or a cached listing points at deleted remap files
    // (the labels refresh in BucketedStore.read). Metadata-only.
    spark.catalog.refreshTable(s"${name}_remap")
    val remap = spark.table(s"${name}_remap")
    BucketedStore.read(spark, s"${name}_labels", name, key)
      .join(broadcast(remap), col("root") === col("old_root"), "left")
      .select(col(key), coalesce(col("new_root"), col("root")).as("root"))
  }

  /** Incremental cluster-label maintenance for one batch, shared by the
    * near-dup stores ([[NearDupStore.ingestLabeled]]) and the ER store
    * ([[Er.ingestBatch]]): given the batch's (batch_id, corpus_id)
    * match pairs, attach each matched batch key to the SMALLEST matched
    * cluster root, and when one batch key matches several clusters,
    * merge them — by remap rows only, never by rewriting labels. Merge
    * closure (doc X bridges {5,7}, doc Y bridges {3,5} → 7 must reach
    * 3) runs over the batch-sized merge graph. `appendStore` receives
    * the batch's `unique` keys and runs before the labels append, so it
    * still sees the labels table without this batch. Returns (key,
    * status near|unique, match_id, cluster_id). Cost ∝ batch;
    * replay-idempotent (appends anti-joined, merge edges vanish on
    * replay because the merge already happened). Intra-batch near-dups
    * classify independently: the store, not the batch, is the frame of
    * reference. */
  private[operators] def labeledIngest(spark: SparkSession, name: String,
      batch: DataFrame, pairs: DataFrame, appendStore: DataFrame => Unit,
      key: String = "doc_id"): DataFrame = {
    val lab = clusterLabels(spark, name, key)
    val matched = pairs
      .join(lab, pairs("corpus_id") === lab(key))
      .select(col("batch_id"), col("corpus_id"), col("root"))
      .transform(Cut(_))
    val attach = matched.groupBy(col("batch_id"))
      .agg(min(col("root")).as("aroot"), min(col("corpus_id")).as("match_id"))
      .transform(Cut(_))
    // one batch doc matching clusters r1 < r2 merges r2 into r1
    val mergeEdges = matched.join(attach, "batch_id")
      .filter(col("root") =!= col("aroot"))
      .select(col("aroot").as("id_a"), col("root").as("id_b")).distinct()
    // bounded closure: the merge graph is batch-bridge-sized (usually
    // a handful of edges), so the driver union-find replaces the
    // empty-probe + ~3+4·rounds distributed-CC job tail with ONE
    // collect; past the ceiling it falls back to distributed CC
    val remapNew = broadcast(
      connectedComponentsBounded(mergeEdges)
        .filter(col("id") =!= col("lab"))
        .select(col("id").as("old_root"), col("lab").as("new_root"))
        .transform(Cut(_)))
    // old remap rows re-resolve through the new merges (their values
    // may have just died); new rows join them
    val remapAll = spark.table(s"${name}_remap")
      .join(remapNew.select(col("old_root").as("o2"), col("new_root").as("n2")),
        col("new_root") === col("o2"), "left")
      .select(col("old_root"), coalesce(col("n2"), col("new_root")).as("new_root"))
      .unionAll(remapNew)
      .transform(Cut(_))
    val labeled = batch.select(col(key))
      .join(attach, col(key) === col("batch_id"), "left")
      .select(col(key),
        when(col("match_id").isNotNull, "near").otherwise("unique").as("status"),
        coalesce(col("match_id"), lit(-1L)).as("match_id"),
        coalesce(col("aroot"), col(key)).as("root0"))
      .join(remapNew, col("root0") === col("old_root"), "left")
      .select(col(key), col("status"), col("match_id"),
        coalesce(col("new_root"), col("root0")).as("cluster_id"))
      .transform(Cut(_))
    // store maintenance, all replay-safe: the store's rows (next
    // batch matches against them), batch labels, re-resolved remap
    appendStore(batch.join(
      labeled.filter(col("status") === "unique").select(key), key))
    BucketedStore.append(BucketedStore.unseen(spark,
      labeled.select(col(key), col("cluster_id").as("root")),
      s"${name}_labels", name, key), s"${name}_labels")
    writeRemap(name, remapAll)
    labeled
  }

  /** Fold the remap into the labels table (an aligned
    * [[BucketedStore.rewrite]]) and empty it — run on a maintenance
    * cadence to keep the broadcast tiny and the label reads one-hop. */
  def compactLabelStore(spark: SparkSession, name: String,
      key: String = "doc_id"): Unit = {
    BucketedStore.rewrite(spark, s"${name}_labels", clusterLabels(spark, name, key))
    writeRemap(name, emptyRemap(spark))
  }

  /** Remap rows — the broadcast every label read pays. Refreshed: a
    * caller outside the writing (possibly cloned) session would
    * otherwise count a deleted file listing. */
  private[operators] def remapRows(spark: SparkSession, name: String): Long = {
    spark.catalog.refreshTable(s"${name}_remap")
    spark.table(s"${name}_remap").count()
  }

  /** Self-triggering compaction cadence for the LABEL store: compact
    * when the labels table's deepest bucket exceeds `maxFilesPerBucket`
    * files (each labeled ingest appends at most one file per bucket, so
    * this is the ingest count since the last compact) OR the remap
    * outgrew `maxRemapRows` (every label read pays the remap
    * broadcast, so remap growth taxes reads even when file counts are
    * fine). Returns whether it compacted — the labeled streaming loops
    * call this per micro-batch in the single writer's quiet window,
    * so a months-long labeled stream keeps both the file count and the
    * broadcast size capped. */
  def maybeCompactLabelStore(spark: SparkSession, name: String,
      maxFilesPerBucket: Int, maxRemapRows: Long = 100000L): Boolean =
    BucketedStore.maybeCompact(spark, Seq(s"${name}_labels"), maxFilesPerBucket,
      remapRows(spark, name) > maxRemapRows)(compactLabelStore(spark, name))

  /** SimHash near-duplicate pairs over (doc_id, text): Manku-style
    * (WWW'07) blocking — split the 64-bit signature into 8 chunks of
    * 8 bits and key each doc on all C(8,2)=28 ORDERED CHUNK PAIRS
    * (16-bit keys). Completeness: b blocks with keys of m blocks give
    * recall 1 for hamming <= b-m; here 8-2=6 errors can corrupt at
    * most 6 chunks, so >=2 chunks are clean and their pair key
    * collides. (The earlier 4x16 single-chunk layout was only
    * complete for hamming<=3 and silently missed pairs — caught by
    * the brute-force DuckDB oracle.) Scale: bucket key space is 2^16
    * per combo, so expected bucket size is n/65536 — the quadratic
    * per-bucket pair term stays bounded at corpus scale for 28x the
    * (cheap) band rows; wider signatures or 3-chunk keys extend the
    * same dial.
    */
  def simhashPairs(documents: DataFrame, maxHamming: Int): DataFrame = {
    require(maxHamming <= 6, s"2-of-8 chunk-pair blocking is only complete for hamming<=6, got $maxHamming")
    val spread = documents.select(col("doc_id"), col("text"))
      .repartition(documents.sparkSession.sparkContext.defaultParallelism)
    val docs = spread.select(col("doc_id"), simhash64(col("text")).as("sig"))
    // one row per (doc, chunk-pair key), then per-bucket pair
    // generation (same single-pass shape as minhashPairs)
    def chunk(c: Int) = shiftrightunsigned(col("sig"), 8 * c).bitwiseAND(lit(0xffL))
    val combos = for { a <- 0 until 8; b <- a + 1 until 8 } yield (a, b)
    val chunkArr = array(combos.map { case (a, b) =>
      chunk(a) * 256L + chunk(b)
    }: _*)
    val chunks = docs.select(col("doc_id"), col("sig"),
        posexplode(chunkArr).as(Seq("chunk_id", "chunk")))
    val buckets = chunks.groupBy(col("chunk_id"), col("chunk"))
      .agg(collect_list(struct(col("doc_id"), col("sig"))).as("ds"))
      .filter(size(col("ds")) > 1)
    buckets
      .select(posexplode(col("ds")).as(Seq("i", "x")), col("ds"))
      .select(col("x"), explode(slice(col("ds"), col("i") + 2, size(col("ds")))).as("y"))
      .select(
        least(col("x.doc_id"), col("y.doc_id")).as("id_a"),
        greatest(col("x.doc_id"), col("y.doc_id")).as("id_b"),
        bit_count(col("x.sig").bitwiseXOR(col("y.sig"))).cast("bigint").as("hamming"))
      .filter(col("hamming") <= maxHamming).distinct()
      .orderBy("id_a", "id_b")
  }

  /** Connected components over an undirected edge list `(id_a, id_b)`
    * — the dedup-resolution step that turns near-dup PAIRS into
    * CLUSTERS so one canonical doc per cluster survives. Iterative
    * min-label propagation over the CONTRACTED label graph: each
    * round projects the edges onto current labels (dropping intra-
    * label edges — the contracted graph SHRINKS as plateaus merge),
    * lets every LABEL adopt its minimum contracted neighbor, and
    * pointer-jumps (lab := label(lab)).
    *
    * The contraction is what makes chain-shaped graphs converge:
    * naive per-node min propagation (even with pointer halving)
    * floods the global minimum plateau-BY-plateau — an ER catalog
    * chained through size steps (er02: cliques of equal-name parts
    * linked size→size±1) measured 35+ rounds for a diameter-92
    * graph, because a jump to a stale local minimum makes no
    * progress until that minimum itself is relabeled. On the
    * contracted graph every plateau is ONE node, so the same flood
    * eats whole plateaus per round and the edge set it runs on
    * shrinks geometrically (that ER graph: 6 rounds).
    *
    * The contracted edge set ITSELF iterates: the original edge list
    * is projected exactly ONCE (at initialization, where labels = ids
    * make the projection the identity); each round then remaps the
    * current contracted edges through the round's label-level merge
    * map. Per-round cost = contracted-sized joins (the merge map, the
    * edge remap, the label-graph groupBy — all bounded by the current
    * contracted edge count, which only decreases) plus ONE pass over
    * the node labels (a left join against the contracted-sized merge
    * map — broadcast under AQE once the map shrinks, never a shuffle
    * of the original edges). Lineage is
    * cut per round: with a reliable checkpoint dir configured
    * (`sparkContext.setCheckpointDir`) rounds checkpoint to it — an
    * executor loss at 100 TB replays one round, not all — otherwise
    * memory-only `localCheckpoint` (the local-harness default).
    * Convergence = the contracted graph has no edges left (a driver
    * isEmpty probe, inherent to iterative fixpoints); throws instead
    * of silently returning under-merged labels if the round budget is
    * exhausted. `convergenceCheckEvery` batches the probes: probe
    * only every k-th round, trading at most k−1 no-op rounds after
    * the true fixpoint (a round over an empty contracted graph moves
    * nothing) for k× fewer driver job barriers — the right dial when
    * per-round DATA cost is negligible next to driver job latency
    * (the local/many-round regime; at 100 TB data cost dominates and
    * k = 1 is right). (GraphX has an RDD-based equivalent; this stays
    * on the DataFrame path so Catalyst/AQE handle partitioning and
    * skew.)
    */
  def connectedComponents(edges: DataFrame, maxIter: Int = 30,
      convergenceCheckEvery: Int = 1): DataFrame = {
    require(convergenceCheckEvery >= 1,
      s"need convergenceCheckEvery >= 1, got $convergenceCheckEvery")
    def cut(df: DataFrame): DataFrame = Cut(df)
    val sym = cut(edges.select(col("id_a").as("x"), col("id_b").as("y"))
      .unionAll(edges.select(col("id_b").as("x"), col("id_a").as("y"))))
    var labels = cut(sym.select(col("x").as("id")).distinct()
      .select(col("id"), col("id").as("lab")))
    // contracted label graph, SYMMETRIC + self-loop-free. Initialized
    // from the original edges once (labels = ids ⇒ the projection is
    // the identity); every later round derives it from ITSELF, so the
    // original |edges| never re-joins.
    var ce = cut(sym.filter(col("x") =!= col("y"))
      .select(col("x").as("lx"), col("y").as("ly")).distinct())
    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      converged = iter % convergenceCheckEvery == 0 && ce.isEmpty
      if (!converged) {
        // every label adopts its min contracted neighbor (strictly
        // improving rows only — keeps the remap joins small), then
        // one label-level pointer jump (nl composed with itself):
        // g = the round's merge map over DEAD labels only
        val nl = ce.groupBy(col("lx")).agg(min(col("ly")).as("nl"))
          .filter(col("nl") < col("lx"))
        val g = cut(nl.join(
            nl.select(col("lx").as("jx"), col("nl").as("jnl")),
            col("nl") === col("jx"), "left")
          .select(col("lx").as("lab0"),
            least(col("nl"), coalesce(col("jnl"), col("nl"))).as("lab1")))
        // node labels: one pass, remapped through the contracted-sized
        // g (labels only decrease — least() is belt-and-braces)
        labels = cut(labels.join(g, labels("lab") === g("lab0"), "left")
          .select(col("id"),
            least(col("lab"), coalesce(col("lab1"), col("lab"))).as("lab")))
        // contracted graph: remap both endpoints through the SAME map,
        // drop the edges the merge just internalized. Symmetry is
        // preserved (both directions remap identically), so next
        // round's per-label min sees every neighbor.
        val gx = g.select(col("lab0").as("lx"), col("lab1").as("gx"))
        val gy = g.select(col("lab0").as("ly"), col("lab1").as("gy"))
        ce = cut(ce.join(gx, Seq("lx"), "left").join(gy, Seq("ly"), "left")
          .select(coalesce(col("gx"), col("lx")).as("lx"),
            coalesce(col("gy"), col("ly")).as("ly"))
          .filter(col("lx") =!= col("ly")).distinct())
      }
      iter += 1
    }
    // batched probing can exhaust the round budget with the last
    // probe still pending — settle it before declaring failure
    if (!converged) converged = ce.isEmpty
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds " +
          "(contracted-graph rounds shrink the edge set geometrically; " +
          "raise maxIter)")
    labels
  }

  /** [[connectedComponents]] with a small-graph fast path: edge sets
    * at or under `maxDriverEdges` run a driver-side min-label
    * union-find in ONE collect instead of the iterative distributed
    * closure (~3 + 4·rounds eager jobs — all driver-barrier latency
    * when the graph is a handful of merge edges, the shape of
    * [[graft.operators.Er.ingestBatch]]'s per-batch entity bridges).
    * The probe is `limit(max+1).collect()` — one job, never more than
    * max+1 rows pulled — and anything larger falls through to the
    * distributed path unchanged. Same output contract: (id, lab) with
    * lab = the component's minimum member, one row per node that
    * appears in any edge.
    */
  def connectedComponentsBounded(edges: DataFrame,
      maxDriverEdges: Int = 100000, maxIter: Int = 30,
      convergenceCheckEvery: Int = 1): DataFrame = {
    require(maxDriverEdges >= 0, s"need maxDriverEdges >= 0, got $maxDriverEdges")
    val spark = edges.sparkSession
    val probe = edges.select(col("id_a").cast("long"), col("id_b").cast("long"))
      .limit(maxDriverEdges + 1).collect()
    if (probe.length > maxDriverEdges)
      connectedComponents(edges, maxIter, convergenceCheckEvery)
    else {
      import spark.implicits._
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        // path compression
        var c = x
        while (parent.getOrElse(c, c) != r) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      probe.foreach { r =>
        val (a, b) = (r.getLong(0), r.getLong(1))
        parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
        val (ra, rb) = (find(a), find(b))
        // min-label union: the smaller root wins, matching the
        // distributed closure's min-propagation fixpoint
        if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
      }
      parent.keys.toSeq.sorted.map(id => (id, find(id))).toDF("id", "lab")
    }
  }

  /** Domain-weighted sampling to a token budget — the mixture step of
    * a training-data pipeline ("sample source s at weight w until the
    * run hits its token target"). Semantics: per source, walk docs in
    * deterministic hash order (d06's overflow-safe mod-p hash, doc_id
    * tiebreak) and keep every doc whose RUNNING token count fits the
    * source's budget; budgets split `budgetNum/budgetDen` of the
    * corpus' total tokens across sources ∝ weight, all in integer
    * arithmetic so the oracle replays bit-exactly.
    *
    * SCALE SHAPE: the textbook version is one window cum-sum
    * partitioned by source — but a 100 TB corpus has FEW sources, so
    * that window serializes each source through one task. Instead,
    * two phases: (A) aggregate a (source, h-range-bucket) token
    * histogram — tiny (sources × [[MixtureBuckets]] rows), collected
    * to the driver like ANN sidecar metadata — and prefix-scan it to
    * find each source's boundary bucket + entry offset; (B) one
    * window partitioned by (source, bucket) — parallelism = sources ×
    * buckets, each task a ~1/buckets slice — computes the global
    * running count as bucket offset + in-bucket cum-sum. Selection is
    * provably the window-cum-sum rule (DedupSpec cross-checks the
    * naive single-window version); cost is one scan + one small agg +
    * one bucket-parallel window, no per-source serial stage.
    */
  val MixtureBuckets = 128
  private val MixtureHashP = 1000003L

  /** The mixture API's weight input: one (source, w) row per source,
    * integer weights (integer budget math is what makes the
    * selection oracle-replayable bit-exactly). The d17 entry derives
    * a synthetic table from the source names so its DuckDB oracle can
    * replay it; a real pipeline passes its own curated table here. */
  def mixtureWeightsFromNames(documents: DataFrame): DataFrame =
    documents.select(col("source")).distinct()
      .select(col("source"),
        (pmod(regexp_extract(col("source"), "([0-9]+)$", 1).cast("long"),
          lit(4L)) + lit(1L)).as("w"))

  /** Epoch UPSAMPLING to rational per-source weights — the other half
    * of the mixing dial ([[mixtureSample]] down-samples to ≤ 1 epoch;
    * real training mixes run high-quality sources at 2–4 epochs).
    * `weights` rows are (source, w_num, w_den): every doc of a source
    * appears `w_num div w_den` times, and the fractional remainder is
    * realized EXACTLY per source by giving one extra copy to the
    * deterministic hash-slice of docs with
    * `knuth(doc_id) mod w_den < w_num mod w_den` — no RNG, replayable
    * bit-exactly on any engine. Output one row per (doc, copy) with
    * the copy index (shard writers salt on it so repeated copies
    * spread across shards).
    *
    * SCALE: broadcast weight join + a generator explode — ZERO
    * shuffles; the fan-out is the w-factor itself (the bytes a
    * multi-epoch mix inherently materializes — or feed the (doc,
    * n_copies) frame to a manifest writer instead and never expand).
    */
  def mixtureUpsample(documents: DataFrame, weights: DataFrame): DataFrame = {
    val h = pmod(pmod(col("doc_id"), lit(MixtureHashP)) * lit(427799L),
      lit(MixtureHashP))
    documents.join(broadcast(weights), Seq("source"))
      .withColumn("n_copies",
        expr("w_num div w_den") +
          when(pmod(h, col("w_den")) < pmod(col("w_num"), col("w_den")), 1L)
            .otherwise(0L))
      .filter(col("n_copies") > 0)
      .select(col("doc_id"), col("source"),
        explode(sequence(lit(0L), col("n_copies") - 1)).as("copy"))
      // ready-made shard key: copies of ONE doc must NOT share the
      // shard writer's key (they would land in one shard at one
      // shuffle position — repeated epochs back-to-back in training
      // order); pass key="mix_key" to Sinks.writeTrainingShards
      .withColumn("mix_key", xxhash64(col("doc_id"), col("copy")))
  }

  /** Temperature-scaled mixture weights — the multilingual /
    * multi-source "alpha sampling" knob (mT5, XLM-R: sample source s
    * ∝ (its token share)^α, α<1 flattening head sources toward the
    * tail). Natural weights = per-source token counts; the power is
    * applied via REPEATED FLOOR-SQRT (`halvings` times → α = 1/2^k),
    * because sqrt of an integer-valued double is correctly rounded in
    * every IEEE engine — so the scaled weights replay bit-exactly in
    * the oracle, unlike exp(α·ln w). α ∈ {1/2, 1/4, …}: the dyadic
    * ladder brackets the common 0.3–0.7 settings. Output feeds
    * [[mixtureSample]]'s (source, w) recipe directly.
    */
  def temperatureWeights(documents: DataFrame, halvings: Int): DataFrame = {
    require(halvings >= 1 && halvings <= 4, s"halvings in [1,4], got $halvings")
    val tok = size(split(trim(col("text")), " ")).cast("long")
    val w0 = documents.select(col("source"), tok.as("t"))
      .groupBy(col("source")).agg(sum(col("t")).as("w"))
    (1 to halvings).foldLeft(w0) { (df, _) =>
      df.select(col("source"),
        floor(sqrt(col("w").cast("double"))).cast("long").as("w"))
    }
  }

  private def mixtureBase(documents: DataFrame, weights: DataFrame): DataFrame = {
    val tok = size(split(trim(col("text")), " ")).cast("long")
    val h = pmod(pmod(col("doc_id"), lit(MixtureHashP)) * lit(427799L), lit(MixtureHashP))
    // per-source weight from the user's (source, w) table — sources
    // are few, so the join broadcasts; a doc with no weight row is
    // excluded from the mixture (inner join), the natural "not in the
    // recipe" semantics. The recipe is keyed by source: a malformed
    // table with duplicate rows for one source would fan every doc of
    // that source out N× (corrupting histogram token sums AND both
    // mixture variants identically, so the cross-check would not catch
    // it) — collapse to max(w) per source so the join is provably 1:1.
    documents.select(col("doc_id"), col("source"), tok.as("tok"), h.as("h"),
      (col("h") / lit(MixtureHashP / MixtureBuckets + 1L)).cast("int").as("b"))
      .join(broadcast(weights.select(col("source"), col("w").cast("long").as("w"))
        .groupBy(col("source")).agg(max(col("w")).as("w"))),
        "source")
  }

  def mixtureSample(documents: DataFrame, weights: DataFrame,
      budgetNum: Long, budgetDen: Long): DataFrame =
    mixtureSampleImpl(documents, weights, budgetNum, budgetDen)

  /** Name-derived-weights convenience (the d17 entry's shape). */
  def mixtureSample(documents: DataFrame,
      budgetNum: Long = 1L, budgetDen: Long = 4L): DataFrame =
    mixtureSampleImpl(documents, mixtureWeightsFromNames(documents),
      budgetNum, budgetDen)

  private def mixtureSampleImpl(documents: DataFrame, weights: DataFrame,
      budgetNum: Long, budgetDen: Long): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    val base = mixtureBase(documents, weights)
    // ---- phase A: KB-sized histogram → driver prefix scan
    val hist = base.groupBy(col("source"), col("b"))
      .agg(sum(col("tok")).as("btok"), max(col("w")).as("w"))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    val totalTok = hist.map(_._3).sum
    val wSum = hist.groupBy(_._1).map { case (_, rs) => rs.head._4 }.sum
    val cutoffs: Seq[(String, Int, Long, Long)] = // (source, bucket, offset, budget)
      hist.groupBy(_._1).toSeq.flatMap { case (src, rs) =>
        val budget = rs.head._4 * totalTok * budgetNum / (budgetDen * wSum)
        var off = 0L
        rs.sortBy(_._2).iterator.takeWhile(_ => off <= budget).map { case (_, b, btok, _) =>
          val row = (src, b, off, budget); off += btok; row
        }.toSeq
        // buckets past the first one whose entry offset exceeds the
        // budget can't contribute (cum > budget for every row) — drop
      }
    // ---- phase B: bucket-parallel window, offset joined in (KB table)
    val offs = broadcast(cutoffs.toDF("source", "b", "off", "budget"))
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"), col("b")).orderBy(col("h"), col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    base.join(offs, Seq("source", "b"))
      .withColumn("cum", sum(col("tok")).over(win) + col("off"))
      .filter(col("cum") <= col("budget"))
      .select(col("doc_id"), col("source"), col("tok").as("n_tokens"),
        col("cum").as("cum_tokens"))
      .orderBy("doc_id")
  }

  /** Canonical-document selection — the KEEP decision after near-dup
    * clustering: every doc resolves to a cluster (connected components
    * over the near-dup pair graph; docs with no near-dup are their own
    * singleton cluster) and each cluster elects ONE canonical survivor
    * by (quality desc, doc_id) — here quality = n_chars, the
    * longest-copy rule web-scale curation defaults to. Cost at scale:
    * the pair graph + CC are d05/d07's budgets; election is ONE
    * partial-aggregable groupBy — max(struct(n_chars, −doc_id))
    * combines map-side, so no per-cluster window and no second
    * shuffle. Singletons never even enter the CC join (left join on
    * the label frame, coalesce to self).
    */
  def canonicalPerCluster(embeddings: DataFrame, documents: DataFrame,
      cosMin: Double): DataFrame = {
    val edges = Similarity.nearDupPairs(embeddings, cosMin)
      .select(col("id_a"), col("id_b"))
    // bounded closure — writeLabelStore's r19 rationale
    val labels = connectedComponentsBounded(edges)
    documents.select(col("doc_id"), col("n_chars"))
      .join(labels, col("doc_id") === col("id"), "left")
      .select(col("doc_id"), coalesce(col("lab"), col("doc_id")).as("cluster"),
        col("n_chars"))
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("csize"),
        max(struct(col("n_chars"), (-col("doc_id")).as("nid"))).as("best"))
      .select(col("cluster"), col("csize"),
        (-col("best.nid")).as("canonical_id"),
        col("best.n_chars").as("canonical_chars"))
      .orderBy("cluster")
  }

  /** Textbook single-window version of [[mixtureSample]] — the spec's
    * cross-check that the two-phase plan selects the same rows. */
  def mixtureSampleNaive(documents: DataFrame,
      budgetNum: Long = 1L, budgetDen: Long = 4L): DataFrame =
    mixtureSampleNaive(documents, mixtureWeightsFromNames(documents),
      budgetNum, budgetDen)

  def mixtureSampleNaive(documents: DataFrame, weights: DataFrame,
      budgetNum: Long, budgetDen: Long): DataFrame = {
    val base = mixtureBase(documents, weights)
    val tot = base.agg(sum(col("tok")).as("tok_total"))
    val ws = base.select(col("source"), col("w")).distinct()
      .agg(sum(col("w")).as("w_total"))
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("h"), col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    base.crossJoin(broadcast(tot)).crossJoin(broadcast(ws))
      .withColumn("cum", sum(col("tok")).over(win))
      // integer division (Spark `/` on longs is double division)
      .filter(col("cum") <=
        expr(s"w * tok_total * $budgetNum div ($budgetDen * w_total)"))
      .select(col("doc_id"), col("source"), col("tok").as("n_tokens"),
        col("cum").as("cum_tokens"))
      .orderBy("doc_id")
  }

  /** Systematic weighted sampling: every document's inclusion
    * probability is proportional to its integer weight (here token
    * count), via the classic stride rule — walk the corpus in
    * deterministic hash order (d06's overflow-safe mod-p hash, doc_id
    * tiebreak), lay documents end-to-end on the token axis, and keep
    * each document whose span (cum−w, cum] contains a multiple of
    * `stride = totalTokens div nTicks`. Exactly `nTicks` ticks exist
    * and all arithmetic is integer, so the oracle replays bit-exactly.
    * A huge doc spanning several ticks is kept once (inclusion capped
    * at 1 — the weighted-sampling "certainty" case).
    *
    * SCALE SHAPE: same two-phase prefix sum as [[mixtureSample]] — a
    * KB (bucket → token-sum) histogram prefix-scanned on the driver,
    * then ONE bucket-parallel window with the bucket's global offset
    * joined in. No single-partition window anywhere; parallelism =
    * [[MixtureBuckets]] regardless of corpus size.
    */
  def weightedSystematicSample(documents: DataFrame, nTicks: Long): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    val tok = size(split(trim(col("text")), " ")).cast("long")
    val h = pmod(pmod(col("doc_id"), lit(MixtureHashP)) * lit(427799L), lit(MixtureHashP))
    val base = documents.select(col("doc_id"), col("source"), tok.as("w"), h.as("h"),
      (h / lit(MixtureHashP / MixtureBuckets + 1L)).cast("int").as("b"))
    // phase A: KB histogram → driver prefix offsets
    val hist = base.groupBy(col("b")).agg(sum(col("w")).as("bw"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    val total = hist.map(_._2).sum
    val stride = total / nTicks
    require(stride > 0, s"corpus token weight $total < nTicks=$nTicks")
    var off = 0L
    val offs = broadcast(hist.toSeq.map { case (b, s) =>
      val row = (b, off); off += s; row }.toDF("b", "off"))
    // phase B: bucket-parallel window; global cum = offset + in-bucket
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(col("b")).orderBy(col("h"), col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    base.join(offs, "b")
      .withColumn("cum", sum(col("w")).over(win) + col("off"))
      // integer stride rule: a tick m*stride falls inside (cum-w, cum]
      .filter(expr(s"cum div $stride") > expr(s"(cum - w) div $stride"))
      .select(col("doc_id"), col("source"), col("w").as("n_tokens"),
        col("cum").as("cum_tokens"))
      .orderBy("doc_id")
  }

  /** Greedy quality-ordered selection under a GLOBAL token budget —
    * "fill the training run with the best documents first": walk docs
    * in (quality desc, doc_id) order (quality = n_chars here, the
    * longest-first default; any integer score plugs in) and keep every
    * doc whose running token count stays within
    * `totalTokens * budgetNum / budgetDen`. Integer arithmetic
    * throughout → bit-exact oracle.
    *
    * SCALE SHAPE: the order key is a VALUE (not a hash), so buckets
    * are value ranges — b = n_chars div 64 — whose DESCENDING bucket
    * order equals the global order. Phase A prefix-scans the KB
    * histogram from the top bucket down and keeps only buckets whose
    * entry offset is within budget (later buckets can't contribute);
    * phase B is one bucket-parallel window. Same shape as
    * [[mixtureSample]]; no global sort, no single-partition window.
    */
  def tokenBudgetSelect(documents: DataFrame,
      budgetNum: Long = 1L, budgetDen: Long = 5L): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    val tok = size(split(trim(col("text")), " ")).cast("long")
    val base = documents.select(col("doc_id"), col("n_chars"), tok.as("w"),
      (col("n_chars") / lit(64L)).cast("int").as("b"))
    val hist = base.groupBy(col("b")).agg(sum(col("w")).as("bw"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(-_._1)
    val total = hist.map(_._2).sum
    val budget = total * budgetNum / budgetDen
    var off = 0L
    val offRows = hist.iterator.takeWhile(_ => off <= budget).map { case (b, s) =>
      val row = (b, off); off += s; row }.toSeq
    val offs = broadcast(offRows.toDF("b", "off"))
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(col("b")).orderBy(desc("n_chars"), col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    base.join(offs, "b")
      .withColumn("cum", sum(col("w")).over(win) + col("off"))
      .filter(col("cum") <= budget)
      .select(col("doc_id"), col("n_chars"), col("w").as("n_tokens"),
        col("cum").as("cum_tokens"))
      .orderBy("doc_id")
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    * deduplication that bounds the quadratic similarity pass by
    * CLUSTERING — assign every embedding to one of `ncells` k-means
    * cells and compare pairs only WITHIN a cell, dropping every
    * vector whose cosine to a smaller-id cell-mate reaches `tau`.
    * Cross-cell misses are the method's documented trade (the paper
    * runs 50k clusters over LAION and accepts them); within a cell
    * the drop rule here is deterministic — keep-lowest-id — instead
    * of the paper's random representative, so the result is
    * replayable on any engine. Complements d05/d07/d18 (which find
    * ALL near-dup pairs via multi-table LSH + connected components):
    * SemDeDup is the cheaper curation pass used when a fixed
    * similarity budget matters more than pair completeness.
    *
    * Scale: assignment is a zero-shuffle codegen map
    * ([[graft.functions.pqAssign]] with m=1 — the IVF coarse
    * quantizer) against broadcast ncells x dim centroid literals
    * (driver-side KB, same footprint as s04's coarse quantizer); the
    * only data exchanges are the cell-key hash shuffle for the
    * self-join and the vec_id-key join marking drops. The per-cell
    * candidate pass is (n/ncells)^2 — ncells grows with the corpus so
    * cells stay ~10^3-10^4 docs at 100 TB. Centroids are the first
    * `ncells` data vectors (deterministic sampled init, the s07
    * pqCodebook pattern — s04's trained MLlib KMeans fit drops into
    * the same assignment kernel unchanged, at the cost of the oracle).
    */
  def semDedup(embeddings: DataFrame, ncells: Int = 16, tau: Double = 0.3): DataFrame = {
    val cents = embeddings.filter(col("vec_id") < ncells)
      .select(col("vec_id"), col("embedding")).collect() // ncells x dim — KB
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    require(cents.size == ncells, s"centroid init needs vec_ids 0..${ncells - 1}")
    semDedupWithCentroids(embeddings,
      (0 until ncells).map(j => cents(j.toLong)).toArray, tau)
  }

  /** [[semDedup]] with caller-supplied centroids — the seam a TRAINED
    * coarse quantizer (an MLlib KMeans fit, cf. s04) drops into; the
    * default entry path uses the first-ncells data vectors so the
    * oracle can replay assignment. Centroid row index = cell id. */
  def semDedupWithCentroids(embeddings: DataFrame,
      centroids: Array[Array[Double]], tau: Double): DataFrame = {
    val ncells = centroids.length
    val flat = centroids.flatten
    val assigned = embeddings.select(col("vec_id"), col("embedding"),
      graft.functions.pqAssign(col("embedding"), flat, 1, ncells)
        .getField("codes").getItem(0).cast("int").as("cell"))
    val a = assigned.select(col("cell"), col("vec_id").as("id_a"), col("embedding").as("ea"))
    val b = assigned.select(col("cell"), col("vec_id").as("id_b"), col("embedding").as("eb"))
    val dropped = a.join(b, Seq("cell"))
      .filter(col("id_a") < col("id_b"))
      .filter(round(graft.functions.vectorCosine(col("ea"), col("eb")), 6) >= tau)
      .groupBy(col("id_b").as("vec_id")).agg(lit(true).as("is_dup"))
    assigned.select(col("vec_id"), col("cell"))
      .join(dropped, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        coalesce(col("is_dup"), lit(false)).as("dropped"))
      .orderBy("vec_id")
  }

  /** EXACT set-similarity self-join by PREFIX FILTERING (the
    * PPJoin family's candidate rule): all document pairs whose
    * 3-gram-shingle sets have Jaccard ≥ num/den, with NO false
    * negatives — the exact complement to [[minhashPairs]]'
    * probabilistic LSH (d02). The theorem: order every doc's
    * shingles by global rarity (frequency asc, shingle asc — a TOTAL
    * order, so both engines pick identical prefixes); if J(A,B) ≥ t,
    * the first |A| − ⌈t·|A|⌉ + 1 shingles of A and the corresponding
    * prefix of B must share one. So only prefix shingles generate
    * candidates, and prefixes are the RAREST shingles — the join key
    * frequency is driven down exactly where the quadratic blowup
    * would live. Shingles, not words, deliberately: this corpus has
    * a ~31-word vocabulary, where word-level prefixes degenerate to
    * all-pairs (measured: 12.5M word candidates vs 119k shingle
    * candidates at sf0.1 — word order is the identity here, which is
    * precisely what shingles encode). ⌈t·n⌉ in exact integers
    * ((num·n + den − 1) div den); the verify gate
    * den·|A∩B| ≥ num·(|A|+|B|−|A∩B|) is cross-multiplied BIGINTs —
    * the float jaccard column is one rounded division at the end.
    * Docs under 3 words have no shingles and sit out (documented
    * contract, mirrored by the oracle).
    *
    * SCALE: shingle explode ∝ corpus; the rarity ranking is ONE
    * doc-keyed exchange (tokens regrouped into per-doc sorted
    * arrays); the candidate self-join touches only prefix shingles
    * (≈ (1−t)·|doc| rarest each) and prunes with the PPJoin length
    * and positional filters inside the join; intersection counting
    * is an in-task array_intersect over surviving candidates joined
    * against the doc-count-sized array frame — never all-pairs, and
    * no corpus-scale exchange after the regroup.
    */
  /** Shared tokenization for d25/d26: one row per qualifying doc with
    * its DISTINCT 3-gram-shingle set as an array sorted by global
    * rarity (frequency asc, shingle asc — the PPJoin total order) plus
    * n = |set|. Everything downstream is array-form: the old
    * token-level shape paid a corpus-wide distinct() exchange, a
    * per-doc rank window (another corpus exchange + sort), a separate
    * sz aggregation, and re-joined BOTH full token frames to count
    * intersections (two more corpus-token exchanges + a pair groupBy).
    * Here dedup is in-task (array_distinct), the rarity sort is one
    * doc-keyed groupBy whose array_sort(struct(f, word)) reproduces
    * the window's (f, word) order exactly, and verify is
    * size(array_intersect) over candidate pairs joined against this
    * doc-count-sized frame — no corpus-scale exchange after the
    * regroup. freq stays a real join (NOT a collected map): AQE
    * broadcasts it at runtime when the vocabulary is small (sf0.1:
    * 27k shingles) and degrades to a shuffle join at scale.
    */
  private def rankedShingleDocs(documents: DataFrame): DataFrame = {
    val spark = documents.sparkSession
    // documents.parquet is one file → repartition before the
    // CPU-bound tokenize map; Cut so freq and the regroup share one
    // tokenization pass (doc-count-sized rows, cheap to materialize)
    val docRaw = Cut(documents
      .repartition(spark.sparkContext.defaultParallelism)
      .select(col("doc_id"),
        expr("filter(split(trim(text), ' '), x -> x <> '')").as("ws"))
      .filter(size(col("ws")) >= 3)
      .select(col("doc_id"), expr(
        "array_distinct(transform(sequence(1, size(ws) - 2), " +
          "i -> concat(ws[i-1], ' ', ws[i], ' ', ws[i+1])))").as("toks")))
    val freq = docRaw.select(explode(col("toks")).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("f"))
    docRaw
      .select(col("doc_id"), size(col("toks")).cast("long").as("n"),
        explode(col("toks")).as("word"))
      .join(freq, "word")
      .groupBy(col("doc_id"), col("n"))
      .agg(array_sort(collect_list(struct(col("f"), col("word")))).as("fw"))
      .select(col("doc_id"), col("n"),
        expr("transform(fw, x -> x.word)").as("words"))
  }

  def setSimilarityJoin(documents: DataFrame, num: Long, den: Long)
      : DataFrame = {
    require(num > 0 && den >= num, s"need 0 < num/den <= 1, got $num/$den")
    // prefix length L = n - ceil(t*n) + 1, ceil in exact integers;
    // docs frame read by both self-join sides and both verify joins
    val docs = Cut(rankedShingleDocs(documents).withColumn("pre", expr(
      s"slice(words, 1, cast(n - ((n * ${num}L + ${den}L - 1) div ${den}L) + 1 as int))")))
    val preA = docs.select(col("doc_id").as("id_a"), col("n").as("na"),
      posexplode(col("pre")).as(Seq("pa", "word")))
    val preB = docs.select(col("doc_id").as("id_b"), col("n").as("nb"),
      posexplode(col("pre")).as(Seq("pb", "word")))
    // candidates carry the PPJoin filters: the LENGTH filter (J >= t
    // forces den*min(n) >= num*max(n)) drops pairs in the join itself,
    // and the POSITIONAL filter bounds best-possible overlap from the
    // matched prefix positions (0-based pa/pb): inter <= 1 +
    // min(pa, pb) + min(na-pa-1, nb-pb-1). Both only PRUNE candidates
    // — every pair with true J >= t provably survives, so the verified
    // output is unchanged (oracle keeps certifying it).
    val cand = preA.join(preB, "word")
      .filter(col("id_a") < col("id_b"))
      .filter(least(col("na"), col("nb")) * den >=
        greatest(col("na"), col("nb")) * num)
      .groupBy(col("id_a"), col("id_b"), col("na"), col("nb"))
      .agg(min(lit(1L) + least(col("pa"), col("pb")) +
        least(col("na") - col("pa") - 1, col("nb") - col("pb") - 1)).as("ub"))
      .filter(col("ub") * (den + num) >= (col("na") + col("nb")) * num)
    cand
      .join(docs.select(col("doc_id").as("id_a"), col("words").as("wa")), "id_a")
      .join(docs.select(col("doc_id").as("id_b"), col("words").as("wb")), "id_b")
      .withColumn("inter",
        size(array_intersect(col("wa"), col("wb"))).cast("long"))
      .filter(col("inter") * den >= (col("na") + col("nb") - col("inter")) * num)
      .select(col("id_a"), col("id_b"), col("inter"), col("na"), col("nb"),
        round(col("inter").cast("double") /
          (col("na") + col("nb") - col("inter")).cast("double"), 6)
          .as("jaccard"))
  }

  /** EXACT containment self-join: ordered pairs (A, B) with
    * |A∩B| / |A| ≥ num/den over 3-gram-shingle sets — the ASYMMETRIC
    * complement to [[setSimilarityJoin]]'s Jaccard (d25). Jaccard
    * misses subsumption: a short quote inside a long document scores
    * near 0 Jaccard but containment 1.0, and quote/excerpt detection
    * is exactly what a training-data pipeline needs next to near-dup
    * (a doc 90%-contained in another is redundant even when the
    * lengths differ 10×).
    *
    * Prefix filtering adapts one-sided: if |A∩B| ≥ ⌈t·|A|⌉ then A's
    * |A| − ⌈t·|A|⌉ + 1 rarest shingles must hit B's FULL set (B's
    * prefix can't be bounded — containment puts no lower bound on
    * |B|'s share), so candidates = A-prefix ⋈ all-tokens. Join keys
    * are A's rarest shingles, so B rows with common shingles never
    * match — the candidate count stays prefix-driven. Verify is
    * cross-multiplied BIGINTs (den·inter ≥ num·na); the float
    * containment is one rounded division at the end. Self-pairs
    * excluded; both directions can appear (A⊂B and B⊂A both real).
    *
    * SCALE: same budget as d25 plus one corpus-token-sized shuffle
    * for the B side of the candidate join; everything else is
    * candidate-bounded.
    */
  def containmentJoin(documents: DataFrame, num: Long, den: Long)
      : DataFrame = {
    require(num > 0 && den >= num, s"need 0 < num/den <= 1, got $num/$den")
    val docs = Cut(rankedShingleDocs(documents).withColumn("pre", expr(
      s"slice(words, 1, cast(n - ((n * ${num}L + ${den}L - 1) div ${den}L) + 1 as int))")))
    val preA = docs.select(col("doc_id").as("id_a"), col("n").as("na"),
      posexplode(col("pre")).as(Seq("pa", "word")))
    // B's prefix can't be bounded, so the B side is the FULL ranked
    // token set — posexploded from the array frame, no extra exchange
    // to produce it; its position feeds the positional filter below
    val tokB = docs.select(col("doc_id").as("id_b"), col("n").as("nb"),
      posexplode(col("words")).as(Seq("pb", "word")))
    // length filter: inter <= nb and inter >= ceil(t*na) force
    // den*nb >= num*na; positional filter as in d25 — both prune
    // candidates only, verified output unchanged
    val cand = preA.join(tokB, "word")
      .filter(col("id_a") =!= col("id_b"))
      .filter(col("nb") * den >= col("na") * num)
      .groupBy(col("id_a"), col("id_b"), col("na"), col("nb"))
      .agg(min(lit(1L) + least(col("pa"), col("pb")) +
        least(col("na") - col("pa") - 1, col("nb") - col("pb") - 1)).as("ub"))
      .filter(col("ub") * den >= col("na") * num)
    cand
      .join(docs.select(col("doc_id").as("id_a"), col("words").as("wa")), "id_a")
      .join(docs.select(col("doc_id").as("id_b"), col("words").as("wb")), "id_b")
      .withColumn("inter",
        size(array_intersect(col("wa"), col("wb"))).cast("long"))
      .filter(col("inter") * den >= col("na") * num)
      .select(col("id_a"), col("id_b"), col("inter"), col("na"), col("nb"),
        round(col("inter").cast("double") / col("na").cast("double"), 6)
          .as("containment"))
  }

  val entries: Seq[(String, QFn, Option[String])] = Seq(

    // ---- exact dedup: hash groupBy on content ----
    ("d01_dedup_exact", (s: SparkSession, d: String) => {
      Tables.documents(s, d)
        .groupBy(col("text"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
        .select(col("keep_id"), col("n_copies"))
        .orderBy("keep_id")
    }, Some("""
      SELECT min(doc_id) AS keep_id, count(*) AS n_copies
      FROM documents GROUP BY text ORDER BY keep_id""")),

    // ---- MinHash + LSH near-dup pairs. Full DuckDB oracle: the SQL
    //      recomputes FNV shingle hashes, the 32-perm signatures with
    //      the kernel's own (a,b) constants, band 4-tuples, bucket
    //      candidates, and the exact-jaccard verify — the whole
    //      pipeline is held to bit-exact parity ----
    ("d02_dedup_minhash", (s: SparkSession, d: String) =>
      minhashPairs(Tables.documents(s, d), 0.5), Some(s"""
      WITH w AS (SELECT doc_id,
                   list_filter(string_split(trim(text), ' '), t -> t <> '') AS ws
                 FROM documents),
      tri AS (
        SELECT DISTINCT doc_id,
          CASE WHEN len(ws) >= 3 THEN ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
               ELSE array_to_string(ws, ' ') END AS tg
        FROM (SELECT doc_id, ws,
                unnest(generate_series(1, greatest(len(ws)-2, 1))) AS i
              FROM w WHERE len(ws) > 0)),
      th AS (SELECT tg, ${OracleSql.fnvU64("tg")} AS h
             FROM (SELECT DISTINCT tg FROM tri)),
      dochash AS (SELECT DISTINCT doc_id, h FROM tri JOIN th USING (tg)),
      hpv AS (SELECT doc_id,
                ((${OracleSql.signed("h")} % 2147483647) + 2147483647)
                  % 2147483647 AS hp
              FROM dochash),
      consts(i, a, b) AS ${OracleSql.minhashConstsValues},
      sig AS (SELECT doc_id, c.i, min((c.a * hp + c.b) % 2147483647) AS s
              FROM hpv CROSS JOIN consts c GROUP BY doc_id, c.i),
      bands AS (SELECT doc_id, i // 4 AS band, list(s ORDER BY i) AS bkey
                FROM sig GROUP BY doc_id, i // 4),
      cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
               FROM bands a JOIN bands b
                 ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
      sizes AS (SELECT doc_id, count(*) AS n FROM dochash GROUP BY doc_id),
      inter AS (SELECT c.id_a, c.id_b, count(*) AS ni
                FROM cand c JOIN dochash x ON x.doc_id = c.id_a
                            JOIN dochash y ON y.doc_id = c.id_b AND y.h = x.h
                GROUP BY c.id_a, c.id_b)
      SELECT i.id_a, i.id_b, CAST(ni AS DOUBLE) / (sa.n + sb.n - ni) AS jaccard
      FROM inter i JOIN sizes sa ON sa.doc_id = i.id_a
                   JOIN sizes sb ON sb.doc_id = i.id_b
      WHERE CAST(ni AS DOUBLE) / (sa.n + sb.n - ni) >= 0.5
      ORDER BY id_a, id_b""")),

    // ---- SimHash near-dup pairs. Bit-exact DuckDB oracle: FNV-1a 64
    //      per word via list_reduce in mod-2^64 HUGEINT arithmetic,
    //      per-bit majority vote, brute-force hamming join — the
    //      blocked Spark plan must equal the exhaustive truth ----
    ("d03_dedup_simhash", (s: SparkSession, d: String) =>
      simhashPairs(Tables.documents(s, d), 6), Some(s"""
      WITH wocc AS (
        SELECT doc_id, w FROM (
          SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
        WHERE w <> ''),
      dw AS (SELECT DISTINCT w FROM wocc),
      wh AS (SELECT w, ${OracleSql.fnvU64("w")} AS h FROM dw),
      bits AS (
        SELECT o.doc_id, bb.b,
          sum(CASE WHEN (h >> bb.b) & 1 = 1 THEN 1 ELSE -1 END) AS acc
        FROM wocc o JOIN wh USING (w)
        CROSS JOIN (SELECT unnest(range(0, 64)) AS b) bb
        GROUP BY o.doc_id, bb.b),
      sig AS (
        SELECT doc_id,
          CAST(sum(CASE WHEN acc > 0 THEN CAST(1 AS HUGEINT) << b
                        ELSE CAST(0 AS HUGEINT) END)
               % 18446744073709551616 AS UBIGINT) AS s
        FROM bits GROUP BY doc_id)
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        CAST(bit_count(xor(a.s, b.s)) AS BIGINT) AS hamming
      FROM sig a JOIN sig b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.s, b.s)) <= 6
      ORDER BY id_a, id_b""")),

    // ---- n-gram Jaccard similarity vs a query document. Hashed
    //      shingles (one-pass codegen kernel) + fused merge-join
    //      jaccard — no trigram strings, no hash-set builds ----
    ("d04_ngram_jaccard", (s: SparkSession, d: String) => {
      val base = Tables.documents(s, d)
      // parallelize the shingle map stage (single input file locally)
      val docs = base.select(col("doc_id"), col("text"))
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("doc_id"), graft.functions.shingleHashes(col("text"), 3).as("sh"))
      val q = base.filter(col("doc_id") === 0)
        .select(graft.functions.shingleHashes(col("text"), 3).as("qsh"))
      docs.crossJoin(broadcast(q))
        .select(col("doc_id"),
          graft.functions.jaccardHashes(col("sh"), col("qsh")).as("jaccard"))
        .filter(col("doc_id") =!= 0 && col("jaccard") > 0)
        .orderBy("doc_id")
    }, Some("""
      WITH w AS (SELECT doc_id,
                   list_filter(string_split(trim(text), ' '), t -> t <> '') AS ws
                 FROM documents),
      tri0 AS (
        SELECT doc_id, ws,
          unnest(generate_series(1, greatest(len(ws) - 2, 1))) AS i
        FROM w WHERE len(ws) > 0),
      tri AS (
        SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS tg
        FROM tri0),
      q AS (SELECT tg FROM tri WHERE doc_id = 0),
      inter AS (SELECT t.doc_id, count(*) AS ni FROM tri t JOIN q USING (tg) GROUP BY 1),
      sizes AS (SELECT doc_id, count(*) AS n FROM tri GROUP BY 1),
      qn AS (SELECT count(*) AS nq FROM q)
      SELECT s.doc_id,
        CAST(coalesce(ni, 0) AS DOUBLE) / (n + nq - coalesce(ni, 0)) AS jaccard
      FROM sizes s LEFT JOIN inter i ON s.doc_id = i.doc_id, qn
      WHERE s.doc_id <> 0 AND coalesce(ni, 0) > 0
      ORDER BY s.doc_id""")),

    // ---- deterministic train/val/test split (reproducible sampling:
    //      a Knuth-hash bucket per doc, no RNG — identical assignment
    //      on every engine and every rerun) ----
    ("d06_train_split", (s: SparkSession, d: String) => {
      // (id * 2654435761) % 1000003 == ((id % 1000003) * 427799) % 1000003
      // (427799 = 2654435761 % 1000003): mod-first keeps intermediates
      // < 2^39, so Spark 4 ANSI mode can't overflow at any id scale
      val bucket = pmod(pmod(col("doc_id"), lit(1000003L)) * lit(427799L), lit(1000003L)) % 100
      val split = when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
      Tables.documents(s, d)
        .select(col("doc_id"), split.as("split"))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n"), min(col("doc_id")).as("first_id"))
        .orderBy("split")
    }, Some("""
      WITH b AS (
        SELECT doc_id,
          CASE WHEN (doc_id % 1000003) * 427799 % 1000003 % 100 < 80 THEN 'train'
               WHEN (doc_id % 1000003) * 427799 % 1000003 % 100 < 90 THEN 'val'
               ELSE 'test' END AS split
        FROM documents)
      SELECT split, count(*) AS n, min(doc_id) AS first_id
      FROM b GROUP BY split ORDER BY split""")),

    // ---- embedding-cosine near-dup: banded-LSH candidates + exact
    //      cosine refine (Similarity.nearDupPairs — 48 tables x 4
    //      sign bits, OR-ed). The oracle is the EXHAUSTIVE all-pairs
    //      truth, so a hash match proves the LSH candidate stage hit
    //      recall 1.0 at the 0.35 threshold on the gate corpus
    //      (deterministic hash-derived planes: the result is
    //      replay-identical). The old label-blocked all-pairs join
    //      was O(n^2/L) — a scale-killer; candidate volume here
    //      tracks true-pair structure (graft.Scale embedding probe) ----
    ("d05_dedup_embedding", (s: SparkSession, d: String) =>
      Similarity.nearDupPairs(Tables.embeddings(s, d), 0.35), Some("""
      WITH p AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               unnest(a.embedding) AS x, unnest(b.embedding) AS y
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id),
      sums AS (
        SELECT id_a, id_b,
          sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) AS dot,
          sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) AS na,
          sum(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)) AS nb
        FROM p GROUP BY id_a, id_b)
      SELECT id_a, id_b, round(dot / (sqrt(na) * sqrt(nb)), 6) AS cos
      FROM sums WHERE round(dot / (sqrt(na) * sqrt(nb)), 6) >= 0.35
      ORDER BY id_a, id_b""")),

    // ---- near-dup clusters: connected components over the d05 edge
    //      set (LSH-bucketed pair list → canonical clusters). Oracle:
    //      recursive-CTE transitive closure over the exhaustive truth
    //      edges, component = min reachable id ----
    ("d07_dedup_components", (s: SparkSession, d: String) => {
      val edges = Similarity.nearDupPairs(Tables.embeddings(s, d), 0.35)
        .select(col("id_a"), col("id_b"))
      // bounded closure — writeLabelStore's r19 rationale
      connectedComponentsBounded(edges)
        .groupBy(col("lab").as("component"))
        .agg(count(lit(1)).as("csize"), max(col("id")).as("max_id"))
        .orderBy("component")
    }, Some("""
      WITH RECURSIVE p AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               unnest(a.embedding) AS x, unnest(b.embedding) AS y
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id),
      sums AS (
        SELECT id_a, id_b,
          sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) AS dot,
          sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) AS na,
          sum(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)) AS nb
        FROM p GROUP BY id_a, id_b),
      edges AS (
        SELECT id_a, id_b FROM sums
        WHERE round(dot / (sqrt(na) * sqrt(nb)), 6) >= 0.35),
      sym AS (SELECT id_a AS x, id_b AS y FROM edges
              UNION ALL SELECT id_b, id_a FROM edges),
      reach(id, r) AS (
        SELECT x, x FROM (SELECT DISTINCT x FROM sym)
        UNION
        SELECT reach.id, s.y FROM reach JOIN sym s ON s.x = reach.r),
      comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id)
      SELECT component, count(*) AS csize, max(id) AS max_id
      FROM comp GROUP BY component ORDER BY component""")),

    // ---- deterministic stratified sample: fixed-rate hash sample
    //      WITHIN each label stratum (no RNG — same rows selected on
    //      every engine/run; the per-stratum knob a 100 TB training
    //      mix needs for rebalancing sources) ----
    ("d08_stratified_sample", (s: SparkSession, d: String) => {
      val e = Tables.embeddings(s, d)
      // mod-first (see d06): identical value, ANSI-overflow-safe
      val sampled = e.filter(
        pmod(pmod(col("vec_id"), lit(1000003L)) * lit(427799L), lit(1000003L)) % 100 < 20)
      sampled.groupBy(col("label"))
        .agg(count(lit(1)).as("n_sample"), min(col("vec_id")).as("first_id"))
        .join(e.groupBy(col("label")).agg(count(lit(1)).as("n_total")), "label")
        .select(col("label"), col("n_total"), col("n_sample"), col("first_id"))
        .orderBy("label")
    }, Some("""
      WITH s AS (
        SELECT label, count(*) AS n_sample, min(vec_id) AS first_id
        FROM embeddings
        WHERE (vec_id % 1000003) * 427799 % 1000003 % 100 < 20
        GROUP BY label),
      t AS (SELECT label, count(*) AS n_total FROM embeddings GROUP BY label)
      SELECT label, n_total, n_sample, first_id
      FROM s JOIN t USING (label) ORDER BY label""")),

    // ---- incremental (batch-vs-corpus) dedup: classify each NEW doc
    //      against the existing corpus — exact (content match) or
    //      near (cross-set minhash-LSH) — without recomputing any
    //      corpus-vs-corpus pair. The production ingest shape; full
    //      bit-exact oracle (same CTE chain as d02, candidates
    //      restricted to batch x corpus) ----
    ("d09_incremental_dedup", (s: SparkSession, d: String) => {
      val all = Tables.documents(s, d)
      // deterministic ~20% "new batch" (d06's ANSI-safe Knuth hash)
      val isBatch =
        pmod(pmod(col("doc_id"), lit(1000003L)) * lit(427799L), lit(1000003L)) % 5 === 0
      val batch = all.filter(isBatch)
      val corpus = all.filter(!isBatch)
      val exact = batch.select(col("doc_id").as("e_id"), col("text"))
        .join(corpus.select(col("doc_id").as("corpus_id"), col("text")), "text")
        .groupBy(col("e_id")).agg(min(col("corpus_id")).as("exact_id"))
      val near = minhashPairsAgainst(corpus, batch, 0.5)
        .groupBy(col("batch_id").as("n_id"))
        .agg(min(col("corpus_id")).as("near_id"))
      batch.select(col("doc_id"))
        .join(exact, col("doc_id") === col("e_id"), "left")
        .join(near, col("doc_id") === col("n_id"), "left")
        .select(col("doc_id"),
          when(col("exact_id").isNotNull, "exact")
            .when(col("near_id").isNotNull, "near")
            .otherwise("unique").as("status"),
          coalesce(col("exact_id"), col("near_id"), lit(-1L)).as("match_id"))
        .orderBy("doc_id")
    }, Some(s"""
      WITH w AS (SELECT doc_id,
                   list_filter(string_split(trim(text), ' '), t -> t <> '') AS ws
                 FROM documents),
      tri AS (
        SELECT DISTINCT doc_id,
          CASE WHEN len(ws) >= 3 THEN ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
               ELSE array_to_string(ws, ' ') END AS tg
        FROM (SELECT doc_id, ws,
                unnest(generate_series(1, greatest(len(ws)-2, 1))) AS i
              FROM w WHERE len(ws) > 0)),
      th AS (SELECT tg, ${OracleSql.fnvU64("tg")} AS h
             FROM (SELECT DISTINCT tg FROM tri)),
      dochash AS (SELECT DISTINCT doc_id, h FROM tri JOIN th USING (tg)),
      hpv AS (SELECT doc_id,
                ((${OracleSql.signed("h")} % 2147483647) + 2147483647)
                  % 2147483647 AS hp
              FROM dochash),
      consts(i, a, b) AS ${OracleSql.minhashConstsValues},
      sig AS (SELECT doc_id, c.i, min((c.a * hp + c.b) % 2147483647) AS s
              FROM hpv CROSS JOIN consts c GROUP BY doc_id, c.i),
      bands AS (SELECT doc_id, i // 4 AS band, list(s ORDER BY i) AS bkey
                FROM sig GROUP BY doc_id, i // 4),
      flag AS (SELECT doc_id,
                 (doc_id % 1000003) * 427799 % 1000003 % 5 = 0 AS isb
               FROM documents),
      cand AS (SELECT DISTINCT a.doc_id AS batch_id, b.doc_id AS corpus_id
               FROM bands a JOIN flag fa ON fa.doc_id = a.doc_id AND fa.isb
                    JOIN bands b ON a.band = b.band AND a.bkey = b.bkey
                    JOIN flag fb ON fb.doc_id = b.doc_id AND NOT fb.isb),
      sizes AS (SELECT doc_id, count(*) AS n FROM dochash GROUP BY doc_id),
      inter AS (SELECT c.batch_id, c.corpus_id, count(*) AS ni
                FROM cand c JOIN dochash x ON x.doc_id = c.batch_id
                            JOIN dochash y ON y.doc_id = c.corpus_id AND y.h = x.h
                GROUP BY c.batch_id, c.corpus_id),
      near AS (SELECT batch_id, min(corpus_id) AS near_id
               FROM inter i JOIN sizes sa ON sa.doc_id = i.batch_id
                            JOIN sizes sb ON sb.doc_id = i.corpus_id
               WHERE CAST(ni AS DOUBLE) / (sa.n + sb.n - ni) >= 0.5
               GROUP BY batch_id),
      ex AS (SELECT b.doc_id AS batch_id, min(c.doc_id) AS exact_id
             FROM documents b JOIN flag fb ON fb.doc_id = b.doc_id AND fb.isb
                  JOIN documents c ON c.text = b.text
                  JOIN flag fc ON fc.doc_id = c.doc_id AND NOT fc.isb
             GROUP BY b.doc_id)
      SELECT d.doc_id,
        CASE WHEN e.exact_id IS NOT NULL THEN 'exact'
             WHEN n.near_id IS NOT NULL THEN 'near'
             ELSE 'unique' END AS status,
        coalesce(e.exact_id, n.near_id, -1) AS match_id
      FROM documents d JOIN flag f ON f.doc_id = d.doc_id AND f.isb
      LEFT JOIN ex e ON e.batch_id = d.doc_id
      LEFT JOIN near n ON n.batch_id = d.doc_id
      ORDER BY d.doc_id""")),

    // ---- deterministic per-stratum EXACT-k sample (reservoir-k
    //      without RNG): the k smallest Knuth-hash values per stratum,
    //      via the custom TopKPerKey operator — per-partition bounded
    //      heaps cap the shuffle at k x strata rows (d08 is the
    //      RATE-based knob; this is the exact-count one) ----
    ("d10_topk_sample", (s: SparkSession, d: String) => {
      val hk = pmod(pmod(col("doc_id"), lit(1000003L)) * lit(427799L), lit(1000003L))
      // TopKPerKey keeps the LARGEST ord values; negate for smallest-k
      val df = Tables.documents(s, d)
        .select(col("doc_id"), col("source"), (-hk).as("negk"))
      graft.operators.TopK.topKPerKey(df, Seq("source"), "negk", "doc_id", 5)
        .select(col("source"), col("doc_id"), (-col("negk")).cast("bigint").as("hk"))
        .orderBy("source", "hk", "doc_id")
    }, Some("""
      SELECT source, doc_id,
        CAST((doc_id % 1000003) * 427799 % 1000003 AS BIGINT) AS hk
      FROM (SELECT source, doc_id,
              row_number() OVER (PARTITION BY source
                ORDER BY (doc_id % 1000003) * 427799 % 1000003, doc_id) AS rn
            FROM documents)
      WHERE rn <= 5
      ORDER BY source, hk, doc_id""")),

    // ---- sub-document near-dup dedup: minhash-LSH at the 16-word
    //      WINDOW grain, cross-doc pairs only, rolled up to per-doc
    //      duplicated-unit fraction. Full bit-exact oracle: d02's CTE
    //      chain (FNV shingle hashes, 32-perm signatures, bands,
    //      exact-jaccard verify) over the exploded units ----
    ("d11_subdoc_dedup", (s: SparkSession, d: String) =>
      subdocDupStats(Tables.documents(s, d), 16, 0.5), Some(s"""
      WITH w AS (SELECT doc_id,
                   list_filter(string_split(trim(text), ' '), t -> t <> '') AS ws
                 FROM documents),
      u AS (SELECT doc_id, doc_id * 1048576 + (i // 16) AS uid,
              list_slice(ws, i + 1, least(i + 16, len(ws))) AS uw
            FROM (SELECT doc_id, ws, unnest(generate_series(0, len(ws) - 1, 16)) AS i
                  FROM w WHERE len(ws) > 0)),
      tri AS (SELECT DISTINCT uid,
                CASE WHEN len(uw) >= 3 THEN uw[i] || ' ' || uw[i+1] || ' ' || uw[i+2]
                     ELSE array_to_string(uw, ' ') END AS tg
              FROM (SELECT uid, uw,
                      unnest(generate_series(1, greatest(len(uw) - 2, 1))) AS i
                    FROM u)),
      th AS (SELECT tg, ${OracleSql.fnvU64("tg")} AS h
             FROM (SELECT DISTINCT tg FROM tri)),
      uh AS (SELECT DISTINCT uid, h FROM tri JOIN th USING (tg)),
      hpv AS (SELECT uid,
                ((${OracleSql.signed("h")} % 2147483647) + 2147483647)
                  % 2147483647 AS hp
              FROM uh),
      consts(i, a, b) AS ${OracleSql.minhashConstsValues},
      sig AS (SELECT uid, c.i, min((c.a * hp + c.b) % 2147483647) AS s
              FROM hpv CROSS JOIN consts c GROUP BY uid, c.i),
      bands AS (SELECT uid, i // 4 AS band, list(s ORDER BY i) AS bkey
                FROM sig GROUP BY uid, i // 4),
      cand AS (SELECT DISTINCT a.uid AS id_a, b.uid AS id_b
               FROM bands a JOIN bands b
                 ON a.band = b.band AND a.bkey = b.bkey AND a.uid < b.uid
                    AND a.uid // 1048576 <> b.uid // 1048576),
      sizes AS (SELECT uid, count(*) AS n FROM uh GROUP BY uid),
      inter AS (SELECT c.id_a, c.id_b, count(*) AS ni
                FROM cand c JOIN uh x ON x.uid = c.id_a
                            JOIN uh y ON y.uid = c.id_b AND y.h = x.h
                GROUP BY c.id_a, c.id_b),
      pairs AS (SELECT i.id_a, i.id_b
                FROM inter i JOIN sizes sa ON sa.uid = i.id_a
                             JOIN sizes sb ON sb.uid = i.id_b
                WHERE CAST(ni AS DOUBLE) / (sa.n + sb.n - ni) >= 0.5),
      dup AS (SELECT DISTINCT uid FROM (SELECT id_a AS uid FROM pairs
                                        UNION ALL SELECT id_b AS uid FROM pairs)),
      nu AS (SELECT doc_id, count(*) AS n_units FROM u GROUP BY doc_id),
      nd AS (SELECT uid // 1048576 AS doc_id, count(*) AS n_dup_units
             FROM dup GROUP BY 1)
      SELECT nu.doc_id, nu.n_units,
        CAST(coalesce(nd.n_dup_units, 0) AS BIGINT) AS n_dup_units,
        round(CAST(coalesce(nd.n_dup_units, 0) AS DOUBLE) / nu.n_units, 6)
          AS dup_fraction
      FROM nu LEFT JOIN nd ON nd.doc_id = nu.doc_id
      ORDER BY nu.doc_id""")),

    // ---- eval-set decontamination: distinct 8-gram shingle hashes
    //      shared with a broadcast eval set (~2% hash split), flag at
    //      >= 3 shared. Oracle replays the SAME fnvU64 chain as d02/d11
    //      (intersects 64-bit hashes, not strings) so both sides share
    //      collision behavior at any corpus scale ----
    ("d12_decontaminate", (s: SparkSession, d: String) => {
      val all = Tables.documents(s, d)
      val isEval =
        pmod(pmod(col("doc_id"), lit(1000003L)) * lit(427799L), lit(1000003L)) % 50 === 0
      decontaminate(all.filter(!isEval), all.filter(isEval), 8, 3)
    }, Some(s"""
      WITH w AS (SELECT doc_id,
                   list_filter(string_split(trim(text), ' '), t -> t <> '') AS ws
                 FROM documents),
      f AS (SELECT doc_id,
              (doc_id % 1000003) * 427799 % 1000003 % 50 = 0 AS ev
            FROM documents),
      g AS (SELECT DISTINCT doc_id,
              CASE WHEN len(ws) >= 8
                   THEN ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3]
                     || ' ' || ws[i+4] || ' ' || ws[i+5] || ' ' || ws[i+6] || ' ' || ws[i+7]
                   ELSE array_to_string(ws, ' ') END AS tg
            FROM (SELECT doc_id, ws,
                    unnest(generate_series(1, greatest(len(ws) - 7, 1))) AS i
                  FROM w WHERE len(ws) > 0)),
      th AS (SELECT tg, ${OracleSql.fnvU64("tg")} AS h
             FROM (SELECT DISTINCT tg FROM g)),
      gh AS (SELECT DISTINCT doc_id, h FROM g JOIN th USING (tg)),
      eh AS (SELECT DISTINCT h FROM gh JOIN f USING (doc_id) WHERE ev),
      sh AS (SELECT gh.doc_id, count(*) AS n
             FROM gh JOIN f USING (doc_id) JOIN eh USING (h)
             WHERE NOT ev GROUP BY gh.doc_id)
      SELECT d.doc_id, CAST(coalesce(sh.n, 0) AS BIGINT) AS n_shared_8grams,
        coalesce(sh.n, 0) >= 3 AS contaminated
      FROM documents d JOIN f USING (doc_id) LEFT JOIN sh ON sh.doc_id = d.doc_id
      WHERE NOT f.ev ORDER BY d.doc_id""")),

    // ---- bloom-prefiltered decontamination against a LARGE seen
    //      corpus (~33% hash split — the shape where d12's broadcast
    //      eval set stops fitting): bloom prunes, an exact confirm
    //      join removes false positives, so the result is exactly
    //      d12's semantics on the bigger split. Oracle replays the
    //      same fnvU64 chain; the bloom never appears in it because
    //      it only PRUNES ----
    ("d20_bloom_decontaminate", (s: SparkSession, d: String) => {
      val all = Tables.documents(s, d)
      val isSeen =
        pmod(pmod(col("doc_id"), lit(1000003L)) * lit(427799L), lit(1000003L)) % 3 === 0
      bloomDecontaminate(all.filter(!isSeen), all.filter(isSeen), 8, 3)
    }, Some(s"""
      WITH w AS (SELECT doc_id,
                   list_filter(string_split(trim(text), ' '), t -> t <> '') AS ws
                 FROM documents),
      f AS (SELECT doc_id,
              (doc_id % 1000003) * 427799 % 1000003 % 3 = 0 AS ev
            FROM documents),
      g AS (SELECT DISTINCT doc_id,
              CASE WHEN len(ws) >= 8
                   THEN ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3]
                     || ' ' || ws[i+4] || ' ' || ws[i+5] || ' ' || ws[i+6] || ' ' || ws[i+7]
                   ELSE array_to_string(ws, ' ') END AS tg
            FROM (SELECT doc_id, ws,
                    unnest(generate_series(1, greatest(len(ws) - 7, 1))) AS i
                  FROM w WHERE len(ws) > 0)),
      th AS (SELECT tg, ${OracleSql.fnvU64("tg")} AS h
             FROM (SELECT DISTINCT tg FROM g)),
      gh AS (SELECT DISTINCT doc_id, h FROM g JOIN th USING (tg)),
      eh AS (SELECT DISTINCT h FROM gh JOIN f USING (doc_id) WHERE ev),
      sh AS (SELECT gh.doc_id, count(*) AS n
             FROM gh JOIN f USING (doc_id) JOIN eh USING (h)
             WHERE NOT ev GROUP BY gh.doc_id)
      SELECT d.doc_id, CAST(coalesce(sh.n, 0) AS BIGINT) AS n_shared_8grams,
        coalesce(sh.n, 0) >= 3 AS contaminated
      FROM documents d JOIN f USING (doc_id) LEFT JOIN sh ON sh.doc_id = d.doc_id
      WHERE NOT f.ev ORDER BY d.doc_id""")),

    // ---- exact duplicated-substring spans: maximal word runs whose
    //      every 8-word window recurs verbatim in another doc. Full
    //      bit-exact oracle: positioned fnvU64 8-gram hashes,
    //      cross-doc-shared hash set, gaps-and-islands window SQL ----
    ("d13_substring_dedup", (s: SparkSession, d: String) =>
      substringDupSpans(Tables.documents(s, d), 8, 16), Some(s"""
      WITH w AS (SELECT doc_id,
                   list_filter(string_split(trim(text), ' '), t -> t <> '') AS ws
                 FROM documents),
      p AS (SELECT doc_id, i AS pos,
              array_to_string(list_slice(ws, i, i + 7), ' ') AS tg
            FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 7)) AS i
                  FROM w WHERE len(ws) >= 8)),
      th AS (SELECT tg, ${OracleSql.fnvU64("tg")} AS h
             FROM (SELECT DISTINCT tg FROM p)),
      ph AS (SELECT doc_id, pos, h FROM p JOIN th USING (tg)),
      dup AS (SELECT h FROM ph GROUP BY h HAVING min(doc_id) <> max(doc_id)),
      m AS (SELECT doc_id, pos FROM ph JOIN dup USING (h)),
      runs AS (SELECT doc_id, pos,
                 pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
               FROM m)
      SELECT doc_id, CAST(min(pos) AS BIGINT) AS start_word,
        CAST(count(*) + 7 AS BIGINT) AS n_words
      FROM runs GROUP BY doc_id, grp HAVING count(*) + 7 >= 16
      ORDER BY doc_id, start_word""")),

    // ---- exact substring REMOVAL: the rewrite half of d13 — cut
    //      every flagged span, re-emit the cleaned text, re-count
    //      tokens. Oracle = DuckDB string surgery over the same span
    //      CTE chain (positioned words NOT covered by any span,
    //      string_agg back in position order) ----
    ("d16_substring_removal", (s: SparkSession, d: String) =>
      substringRemove(Tables.documents(s, d), 8, 16), Some(s"""
      WITH w AS (SELECT doc_id,
                   list_filter(string_split(trim(text), ' '), t -> t <> '') AS ws
                 FROM documents),
      p AS (SELECT doc_id, i AS pos,
              array_to_string(list_slice(ws, i, i + 7), ' ') AS tg
            FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 7)) AS i
                  FROM w WHERE len(ws) >= 8)),
      th AS (SELECT tg, ${OracleSql.fnvU64("tg")} AS h
             FROM (SELECT DISTINCT tg FROM p)),
      ph AS (SELECT doc_id, pos, h FROM p JOIN th USING (tg)),
      dup AS (SELECT h FROM ph GROUP BY h HAVING min(doc_id) <> max(doc_id)),
      m AS (SELECT doc_id, pos FROM ph JOIN dup USING (h)),
      runs AS (SELECT doc_id, pos,
                 pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
               FROM m),
      spans AS (SELECT doc_id, min(pos) AS s, min(pos) + count(*) + 6 AS e
                FROM runs GROUP BY doc_id, grp HAVING count(*) + 7 >= 16),
      wp AS (SELECT doc_id, i AS pos, ws[i] AS word
             FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws))) AS i
                   FROM w WHERE len(ws) > 0)),
      kept AS (SELECT wp.doc_id, wp.pos, wp.word FROM wp
               WHERE NOT EXISTS (SELECT 1 FROM spans sp
                 WHERE sp.doc_id = wp.doc_id AND wp.pos BETWEEN sp.s AND sp.e)),
      agg AS (SELECT doc_id, count(*) AS n_kept,
                string_agg(word, ' ' ORDER BY pos) AS clean_text
              FROM kept GROUP BY doc_id)
      SELECT w.doc_id, CAST(len(w.ws) AS BIGINT) AS n_words,
        CAST(len(w.ws) - coalesce(a.n_kept, 0) AS BIGINT) AS n_removed,
        coalesce(a.clean_text, '') AS clean_text
      FROM w LEFT JOIN agg a ON a.doc_id = w.doc_id
      ORDER BY w.doc_id""")),

    // ---- normalization + exact dedup: lowercase, strip non-alnum,
    //      collapse whitespace, THEN hash-group — the standard first
    //      pipeline stage; catches reformatted copies byte-exact
    //      dedup (d01) misses. n_forms counts distinct RAW texts per
    //      normalized group (the evidence normalization earned its
    //      keep). Same single-shuffle budget as d01 ----
    ("d15_normalized_dedup", (s: SparkSession, d: String) => {
      val norm = trim(regexp_replace(
        regexp_replace(lower(col("text")), "[^a-z0-9 ]", " "), " +", " "))
      Tables.documents(s, d)
        .select(col("doc_id"), col("text"), norm.as("ntext"))
        .groupBy(col("ntext"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"),
          countDistinct(col("text")).as("n_forms"))
        .select(col("keep_id"), col("n_copies"), col("n_forms"))
        .orderBy("keep_id")
    }, Some("""
      WITH n AS (
        SELECT doc_id, text,
          trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
               ' +', ' ', 'g')) AS ntext
        FROM documents)
      SELECT min(doc_id) AS keep_id, count(*) AS n_copies,
        count(DISTINCT text) AS n_forms
      FROM n GROUP BY ntext ORDER BY keep_id""")),

    // ---- corpus duplication report: the summary a dedup run
    //      publishes BEFORE anyone deletes anything — how many
    //      normalized-identical groups exist at each multiplicity,
    //      and how many chars a keep-one policy would shed (keeping
    //      each group's shortest copy). Two partial-aggregable
    //      groupBys (content hash groups → size histogram); output
    //      is multiplicity-cardinality rows ----
    ("d27_dup_report", (s: SparkSession, d: String) => {
      val norm = trim(regexp_replace(
        regexp_replace(lower(col("text")), "[^a-z0-9 ]", " "), " +", " "))
      // the sf corpus is exact-dup-free, so the report's multiplicity
      // histogram would be one degenerate row; re-ingest every 7th
      // doc (the double-ingest accident the report exists to catch)
      val base = Tables.documents(s, d).select(col("doc_id"),
        col("n_chars"), col("text"))
      base.unionAll(base.filter(col("doc_id") % 7 === 0)
          .select(col("doc_id") + 1000000L, col("n_chars"), col("text")))
        .select(col("n_chars"), norm.as("ntext"))
        .groupBy(col("ntext"))
        .agg(count(lit(1)).as("sz"), sum(col("n_chars")).as("chars"),
          min(col("n_chars")).as("keep_chars"))
        .groupBy(col("sz").as("group_size"))
        .agg(count(lit(1)).as("n_groups"),
          (sum(col("chars")) - sum(col("keep_chars"))).cast("long")
            .as("chars_redundant"))
        .select(col("group_size"), col("n_groups"),
          (col("group_size") * col("n_groups")).as("n_docs"),
          col("chars_redundant"))
        .orderBy("group_size")
    }, Some("""
      WITH c AS (
        SELECT doc_id, n_chars, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000, n_chars, text FROM documents
        WHERE doc_id % 7 = 0),
      n AS (
        SELECT doc_id, n_chars,
          trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
               ' +', ' ', 'g')) AS ntext
        FROM c),
      g AS (SELECT ntext, count(*) AS sz,
              CAST(sum(n_chars) AS BIGINT) AS chars,
              min(n_chars) AS keep_chars
            FROM n GROUP BY 1)
      SELECT sz AS group_size, count(*) AS n_groups,
        CAST(sz * count(*) AS BIGINT) AS n_docs,
        CAST(sum(chars) - sum(keep_chars) AS BIGINT) AS chars_redundant
      FROM g GROUP BY sz ORDER BY group_size""")),

    // ---- marginal novelty per document: how many of a doc's
    //      trigram shingles appear in NO earlier doc (doc_id order =
    //      ingest order) — the diminishing-returns curve behind "is
    //      more of this source still adding content". First-occurrence
    //      attribution is one partial-aggregable min per shingle;
    //      everything is shingle- or doc-sized, no window at all ----
    ("d28_novelty", (s: SparkSession, d: String) => {
      val toks = Tables.documents(s, d)
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("doc_id"),
          expr("filter(split(trim(text), ' '), x -> x <> '')").as("ws"))
        .filter(size(col("ws")) >= 3)
        .select(col("doc_id"), explode(expr(
          "transform(sequence(1, size(ws) - 2), " +
            "i -> concat(ws[i-1], ' ', ws[i], ' ', ws[i+1]))")).as("word"))
        .distinct()
      val per = toks.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_shingles"))
      val nov = toks.groupBy(col("word"))
        .agg(min(col("doc_id")).as("doc_id"))
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_novel"))
      per.join(nov, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_shingles"),
          coalesce(col("n_novel"), lit(0L)).as("n_novel"),
          round(coalesce(col("n_novel"), lit(0L)).cast("double") /
            col("n_shingles").cast("double"), 6).as("novelty"))
        .orderBy("doc_id")
    }, Some("""
      WITH w AS (SELECT doc_id,
          list_filter(string_split(trim(text), ' '), t -> t <> '') AS ws
        FROM documents),
      tri0 AS (SELECT doc_id, ws,
          unnest(generate_series(1, len(ws) - 2)) AS i
        FROM w WHERE len(ws) >= 3),
      toks AS (SELECT DISTINCT doc_id,
          ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS word
        FROM tri0),
      per AS (SELECT doc_id, count(*) AS n_shingles FROM toks GROUP BY 1),
      nov AS (SELECT doc_id, count(*) AS n_novel FROM (
                SELECT word, min(doc_id) AS doc_id FROM toks GROUP BY 1)
              GROUP BY 1)
      SELECT p.doc_id, p.n_shingles,
        coalesce(n.n_novel, 0) AS n_novel,
        round(CAST(coalesce(n.n_novel, 0) AS DOUBLE)
          / CAST(p.n_shingles AS DOUBLE), 6) AS novelty
      FROM per p LEFT JOIN nov n USING (doc_id)
      ORDER BY doc_id""")),

    // ---- source-mix rebalancing: per-source keep rates toward a
    //      UNIFORM target share, applied with the deterministic Knuth
    //      hash (no RNG — the same docs are kept on every engine and
    //      every rerun). The training-mix knob d08's docstring
    //      promises: downsample over-represented sources, keep
    //      under-represented ones whole. Scale shape: rates come from
    //      one tiny per-source count (broadcast back); the sample
    //      filter is a codegen map over the scan — no extra shuffle ----
    ("d14_mix_rebalance", (s: SparkSession, d: String) => {
      val docs = Tables.documents(s, d)
      val h = pmod(pmod(col("doc_id"), lit(1000003L)) * lit(427799L), lit(1000003L))
      val per = docs.groupBy(col("source")).agg(count(lit(1)).as("n_total"))
      val tot = per.agg(sum(col("n_total")).as("n"), count(lit(1)).as("k"))
      val rates = per.crossJoin(broadcast(tot))
        .select(col("source"), col("n_total"),
          least(lit(1.0),
            col("n").cast("double") / col("k") / col("n_total")).as("rate"))
      val sampled = docs.select(col("source"), h.as("h"))
        .join(broadcast(rates), "source")
        .filter(col("h") < floor(col("rate") * lit(1000003L)).cast("bigint"))
        .groupBy(col("source")).agg(count(lit(1)).as("n_sampled"))
      rates.join(sampled, Seq("source"), "left")
        .select(col("source"), col("n_total"), round(col("rate"), 6).as("rate"),
          coalesce(col("n_sampled"), lit(0L)).as("n_sampled"))
        .orderBy("source")
    }, Some("""
      WITH per AS (SELECT source, count(*) AS n_total FROM documents GROUP BY source),
      tot AS (SELECT CAST(sum(n_total) AS BIGINT) AS n, count(*) AS k FROM per),
      rates AS (SELECT source, n_total,
                  least(1.0, CAST(n AS DOUBLE) / k / n_total) AS rate
                FROM per, tot),
      samp AS (SELECT d.source, count(*) AS n_sampled
               FROM documents d JOIN rates r USING (source)
               WHERE (d.doc_id % 1000003) * 427799 % 1000003
                     < floor(r.rate * 1000003)
               GROUP BY d.source)
      SELECT source, CAST(n_total AS BIGINT) AS n_total,
        round(rate, 6) AS rate,
        CAST(coalesce(n_sampled, 0) AS BIGINT) AS n_sampled
      FROM rates LEFT JOIN samp USING (source) ORDER BY source""")),

    // ---- token-budget mixture sampling (d14 balances DOC counts;
    //      this allocates a TOKEN budget across sources ∝ weight —
    //      the knob an actual training-mix spec turns). Oracle is the
    //      textbook per-source window cum-sum; the Spark side is the
    //      two-phase histogram plan (see mixtureSample) whose
    //      selection rule is provably identical — a hash match here
    //      certifies the scale-shaped plan, and DedupSpec additionally
    //      cross-checks it against mixtureSampleNaive ----
    ("d17_mixture_sample", (s: SparkSession, d: String) =>
      mixtureSample(Tables.documents(s, d)), Some("""
      WITH t AS (SELECT doc_id, source,
                   CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS tok,
                   (doc_id % 1000003) * 427799 % 1000003 AS h,
                   CAST(regexp_extract(source, '([0-9]+)$', 1) AS BIGINT) % 4 + 1 AS w
                 FROM documents),
      tot AS (SELECT CAST(sum(tok) AS BIGINT) AS tok_total FROM t),
      wsum AS (SELECT CAST(sum(w) AS BIGINT) AS w_total
               FROM (SELECT DISTINCT source, w FROM t)),
      c AS (SELECT t.*, CAST(sum(tok) OVER (PARTITION BY source ORDER BY h, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
            FROM t)
      SELECT doc_id, source, tok AS n_tokens, cum AS cum_tokens
      FROM c, tot, wsum
      WHERE cum <= w * tok_total // (4 * w_total)
      ORDER BY doc_id""")),

    // ---- epoch upsampling: rational per-source weights (1.5x–4.5x),
    //      whole epochs + an exact hash-sliced remainder — the >1-epoch
    //      half of the mixing dial next to d17's ≤1-epoch budgets. The
    //      checksum sums doc_id x (copy+1) over the exploded rows, so
    //      the oracle verifies the per-doc copy ASSIGNMENT, not just
    //      totals ----
    ("d24_epoch_upsample", (s: SparkSession, d: String) => {
      val docs = Tables.documents(s, d)
      val w = docs.select(col("source")).distinct()
        .select(col("source"),
          (pmod(regexp_extract(col("source"), "([0-9]+)$", 1).cast("long"),
            lit(7L)) + lit(3L)).as("w_num"),
          lit(2L).as("w_den"))
      mixtureUpsample(docs, w)
        .groupBy(col("source"))
        .agg(countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_copies"),
          sum(col("doc_id") * (col("copy") + 1)).cast("long").as("checksum"))
        .orderBy("source")
    }, Some("""
      WITH w AS (SELECT source,
          (CAST(regexp_extract(source, '([0-9]+)$', 1) AS BIGINT) % 7) + 3 AS w_num,
          CAST(2 AS BIGINT) AS w_den
        FROM (SELECT DISTINCT source FROM documents)),
      d AS (SELECT doc_id, source,
          (doc_id % 1000003) * 427799 % 1000003 AS h FROM documents),
      c AS (SELECT d.source, d.doc_id,
          w_num // w_den + CASE WHEN d.h % w_den < w_num % w_den
                                THEN 1 ELSE 0 END AS n
        FROM d JOIN w USING (source)),
      e AS (SELECT source, doc_id,
          unnest(generate_series(0, n - 1)) AS cp FROM c WHERE n > 0)
      SELECT source, count(DISTINCT doc_id) AS n_docs,
        count(*) AS n_copies,
        CAST(sum(doc_id * (cp + 1)) AS BIGINT) AS checksum
      FROM e GROUP BY source ORDER BY source""")),

    // ---- temperature-scaled mixture: α=1/2 flattening of the
    //      per-source token shares (isqrt weights — bit-exact
    //      cross-engine), then d17's two-phase budget selection.
    //      Oracle recomputes the isqrt recipe and replays the
    //      naive window rule ----
    ("d23_temperature_mix", (s: SparkSession, d: String) => {
      val docs = Tables.documents(s, d)
      mixtureSample(docs, temperatureWeights(docs, halvings = 1), 1L, 4L)
    }, Some("""
      WITH t AS (SELECT doc_id, source,
                   CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS tok,
                   (doc_id % 1000003) * 427799 % 1000003 AS h
                 FROM documents),
      wt AS (SELECT source,
               CAST(floor(sqrt(CAST(sum(tok) AS DOUBLE))) AS BIGINT) AS w
             FROM t GROUP BY source),
      tot AS (SELECT CAST(sum(tok) AS BIGINT) AS tok_total FROM t),
      wsum AS (SELECT CAST(sum(w) AS BIGINT) AS w_total FROM wt),
      c AS (SELECT t.doc_id, t.source, t.tok, wt.w,
              CAST(sum(t.tok) OVER (PARTITION BY t.source ORDER BY t.h, t.doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
            FROM t JOIN wt USING (source))
      SELECT doc_id, source, tok AS n_tokens, cum AS cum_tokens
      FROM c, tot, wsum
      WHERE cum <= w * tok_total // (4 * w_total)
      ORDER BY doc_id""")),

    // ---- EXACT set-similarity self-join via prefix filtering: every
    //      pair with 3-gram-shingle Jaccard >= 0.6, NO false
    //      negatives (the exact complement to d02's probabilistic
    //      MinHash-LSH). Candidates only where the docs'
    //      rarest-shingle prefixes collide; verify gate
    //      cross-multiplied BIGINTs. Oracle replays the identical
    //      prefix rule — same total shingle order, same integer
    //      ceil ----
    ("d25_setsim_join", (s: SparkSession, d: String) => {
      setSimilarityJoin(Tables.documents(s, d), num = 3L, den = 5L)
        .orderBy("id_a", "id_b")
    }, Some("""
      WITH w AS (SELECT doc_id,
          list_filter(string_split(trim(text), ' '), t -> t <> '') AS ws
        FROM documents),
      tri0 AS (SELECT doc_id, ws,
          unnest(generate_series(1, len(ws) - 2)) AS i
        FROM w WHERE len(ws) >= 3),
      toks AS (SELECT DISTINCT doc_id,
          ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS word
        FROM tri0),
      freq AS (SELECT word, count(*) AS f FROM toks GROUP BY 1),
      sz AS (SELECT doc_id, count(*) AS n FROM toks GROUP BY 1),
      r AS (SELECT t.doc_id, t.word, s.n,
              row_number() OVER (PARTITION BY t.doc_id
                ORDER BY f.f, t.word) AS rn
            FROM toks t JOIN freq f USING (word) JOIN sz s USING (doc_id)),
      pre AS (SELECT doc_id, word FROM r
              WHERE rn <= n - ((n * 3 + 4) // 5) + 1),
      cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
               FROM pre a JOIN pre b
                 ON a.word = b.word AND a.doc_id < b.doc_id),
      i AS (SELECT c.id_a, c.id_b, count(*) AS inter
            FROM cand c
            JOIN toks ta ON ta.doc_id = c.id_a
            JOIN toks tb ON tb.doc_id = c.id_b AND tb.word = ta.word
            GROUP BY 1, 2)
      SELECT i.id_a, i.id_b, i.inter, sa.n AS na, sb.n AS nb,
        round(CAST(i.inter AS DOUBLE)
              / CAST(sa.n + sb.n - i.inter AS DOUBLE), 6) AS jaccard
      FROM i JOIN sz sa ON sa.doc_id = i.id_a
             JOIN sz sb ON sb.doc_id = i.id_b
      WHERE i.inter * 5 >= (sa.n + sb.n - i.inter) * 3
      ORDER BY id_a, id_b""")),

    // ---- asymmetric containment join: ordered pairs where ≥ 4/5 of
    //      A's shingles appear in B (quote/excerpt detection — the
    //      subsumption case Jaccard scores near 0). One-sided prefix
    //      filter: A's rarest shingles probe B's full set ----
    ("d26_containment_join", (s: SparkSession, d: String) => {
      containmentJoin(Tables.documents(s, d), num = 4L, den = 5L)
        .orderBy("id_a", "id_b")
    }, Some("""
      WITH w AS (SELECT doc_id,
          list_filter(string_split(trim(text), ' '), t -> t <> '') AS ws
        FROM documents),
      tri0 AS (SELECT doc_id, ws,
          unnest(generate_series(1, len(ws) - 2)) AS i
        FROM w WHERE len(ws) >= 3),
      toks AS (SELECT DISTINCT doc_id,
          ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS word
        FROM tri0),
      freq AS (SELECT word, count(*) AS f FROM toks GROUP BY 1),
      sz AS (SELECT doc_id, count(*) AS n FROM toks GROUP BY 1),
      r AS (SELECT t.doc_id, t.word, s.n,
              row_number() OVER (PARTITION BY t.doc_id
                ORDER BY f.f, t.word) AS rn
            FROM toks t JOIN freq f USING (word) JOIN sz s USING (doc_id)),
      pre AS (SELECT doc_id, word FROM r
              WHERE rn <= n - ((n * 4 + 4) // 5) + 1),
      cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
               FROM pre a JOIN toks b
                 ON a.word = b.word AND a.doc_id <> b.doc_id),
      i AS (SELECT c.id_a, c.id_b, count(*) AS inter
            FROM cand c
            JOIN toks ta ON ta.doc_id = c.id_a
            JOIN toks tb ON tb.doc_id = c.id_b AND tb.word = ta.word
            GROUP BY 1, 2)
      SELECT i.id_a, i.id_b, i.inter, sa.n AS na, sb.n AS nb,
        round(CAST(i.inter AS DOUBLE) / CAST(sa.n AS DOUBLE), 6)
          AS containment
      FROM i JOIN sz sa ON sa.doc_id = i.id_a
             JOIN sz sb ON sb.doc_id = i.id_b
      WHERE i.inter * 5 >= sa.n * 4
      ORDER BY id_a, id_b""")),

    // ---- canonical selection: the KEEP decision after clustering —
    //      d05's near-dup graph → d07's components → one
    //      partial-aggregable election per cluster (longest copy,
    //      doc_id tiebreak); singleton docs are their own cluster.
    //      Oracle replays the full chain: exact pair truth, recursive
    //      reachability, then a window election ----
    ("d18_canonical_dedup", (s: SparkSession, d: String) =>
      canonicalPerCluster(Tables.embeddings(s, d), Tables.documents(s, d), 0.35),
      Some("""
      WITH RECURSIVE p AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               unnest(a.embedding) AS x, unnest(b.embedding) AS y
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id),
      sums AS (
        SELECT id_a, id_b,
          sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) AS dot,
          sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) AS na,
          sum(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)) AS nb
        FROM p GROUP BY id_a, id_b),
      edges AS (
        SELECT id_a, id_b FROM sums
        WHERE round(dot / (sqrt(na) * sqrt(nb)), 6) >= 0.35),
      sym AS (SELECT id_a AS x, id_b AS y FROM edges
              UNION ALL SELECT id_b, id_a FROM edges),
      reach(id, r) AS (
        SELECT x, x FROM (SELECT DISTINCT x FROM sym)
        UNION
        SELECT reach.id, s.y FROM reach JOIN sym s ON s.x = reach.r),
      comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
      mem AS (SELECT d.doc_id, coalesce(c.component, d.doc_id) AS cluster,
                d.n_chars
              FROM documents d LEFT JOIN comp c ON c.id = d.doc_id),
      r AS (SELECT cluster, doc_id, n_chars,
              row_number() OVER (PARTITION BY cluster
                ORDER BY n_chars DESC, doc_id) AS rn,
              count(*) OVER (PARTITION BY cluster) AS csize
            FROM mem)
      SELECT cluster, CAST(csize AS BIGINT) AS csize, doc_id AS canonical_id,
        n_chars AS canonical_chars
      FROM r WHERE rn = 1 ORDER BY cluster""")),

    // ---- SemDeDup: cluster-bounded semantic dedup (Abbas et al.
    //      2023). The oracle replays the whole chain — the m=1
    //      pqAssign coarse quantizer (argmin in-order L2^2 over the
    //      first-16 centroid vectors, ties to the smallest cell id)
    //      and the within-cell cosine drop rule — so a hash match
    //      proves cell assignment AND the keep set are bit-identical ----
    ("d19_semantic_dedup", (s: SparkSession, d: String) =>
      semDedup(Tables.embeddings(s, d), 16, 0.3), Some("""
      WITH cents AS (SELECT vec_id AS cid, embedding AS ce
                     FROM embeddings WHERE vec_id < 16),
      za AS (SELECT e.vec_id, c.cid, unnest(e.embedding) AS a, unnest(c.ce) AS b
             FROM embeddings e, cents c),
      d2 AS (SELECT vec_id, cid,
               sum((CAST(a AS DOUBLE) - CAST(b AS DOUBLE)) * (CAST(a AS DOUBLE) - CAST(b AS DOUBLE))) AS d
             FROM za GROUP BY 1, 2),
      asg AS (SELECT vec_id, cid FROM (
                SELECT vec_id, cid,
                  row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
                FROM d2) WHERE rn = 1),
      pr AS (SELECT x.vec_id AS ia, y.vec_id AS ib
             FROM asg x JOIN asg y ON x.cid = y.cid AND x.vec_id < y.vec_id),
      z2 AS (SELECT pr.ia, pr.ib, unnest(ea.embedding) AS a, unnest(eb.embedding) AS b
             FROM pr JOIN embeddings ea ON ea.vec_id = pr.ia
                     JOIN embeddings eb ON eb.vec_id = pr.ib),
      sums AS (SELECT ia, ib,
                 sum(CAST(a AS DOUBLE) * CAST(b AS DOUBLE)) AS dot,
                 sum(CAST(a AS DOUBLE) * CAST(a AS DOUBLE)) AS na,
                 sum(CAST(b AS DOUBLE) * CAST(b AS DOUBLE)) AS nb
               FROM z2 GROUP BY 1, 2),
      dup AS (SELECT DISTINCT ib FROM sums
              WHERE round(dot / (sqrt(na) * sqrt(nb)), 6) >= 0.3)
      SELECT a.vec_id, CAST(a.cid AS INT) AS cell,
        (dup.ib IS NOT NULL) AS dropped
      FROM asg a LEFT JOIN dup ON dup.ib = a.vec_id
      ORDER BY a.vec_id""")),

    // ---- systematic weighted sampling: inclusion ∝ token count via
    //      the integer stride rule over the deterministic-hash corpus
    //      order; two-phase bucket-parallel prefix sum (d17 shape) ----
    ("d21_weighted_sample", (s: SparkSession, d: String) =>
      weightedSystematicSample(Tables.documents(s, d), 64), Some("""
      WITH t AS (SELECT doc_id, source,
          CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS w,
          (doc_id % 1000003) * 427799 % 1000003 AS h
        FROM documents),
      c AS (SELECT doc_id, source, w,
          CAST(sum(w) OVER (ORDER BY h, doc_id
                            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        FROM t),
      tot AS (SELECT CAST(sum(w) AS BIGINT) // 64 AS stride FROM t)
      SELECT doc_id, source, w AS n_tokens, cum AS cum_tokens
      FROM c, tot
      WHERE cum // stride > (cum - w) // stride
      ORDER BY doc_id""")),

    // ---- greedy quality-first selection to a global 20% token
    //      budget (quality = n_chars, longest-first); value-range
    //      buckets make the prefix sum bucket-parallel ----
    ("d22_token_budget", (s: SparkSession, d: String) =>
      tokenBudgetSelect(Tables.documents(s, d), 1L, 5L), Some("""
      WITH t AS (SELECT doc_id, n_chars,
          CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS w
        FROM documents),
      c AS (SELECT doc_id, n_chars, w,
          CAST(sum(w) OVER (ORDER BY n_chars DESC, doc_id
                            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        FROM t),
      tot AS (SELECT CAST(sum(w) AS BIGINT) * 1 // 5 AS budget FROM t)
      SELECT doc_id, n_chars, w AS n_tokens, cum AS cum_tokens
      FROM c, tot WHERE cum <= budget
      ORDER BY doc_id"""))
  )
}
