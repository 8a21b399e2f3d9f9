package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.sources.Tables
import graft.functions.polyFingerprint

/** Text-analysis operators for training-data pipelines: language ID,
  * quality scoring, token counting, document fingerprinting. All are
  * pure column expressions (codegen'd, no UDFs) so they pipeline into
  * a single scan at 100 TB; the fingerprint is a native Catalyst
  * expression with a bit-exact SQL oracle.
  */
object TextOps {
  type QFn = (SparkSession, String) => DataFrame

  private val stopwords = Seq("the", "a", "of", "in", "is")
  private def words: Column = split(trim(col("text")), " ")

  /** Injection seam for a real tokenizer (BPE/SentencePiece/...):
    * `open()` runs ONCE PER PARTITION on the executor — load merges/
    * vocab there and return the per-doc token counter. Must be
    * Serializable (ships in the task closure).
    */
  trait Tokenizer extends Serializable {
    def open(): String => Long
  }

  /** Default stand-in: the BPE-ish regex t03 uses (letter runs, digit
    * runs, single punctuation — the shape of a byte-pair vocabulary,
    * not a trained one). */
  object RegexTokenizer extends Tokenizer {
    val pattern = "[a-z]+|[0-9]+|[^a-z0-9 ]"
    def open(): String => Long = {
      val p = java.util.regex.Pattern.compile(pattern)
      s => { val m = p.matcher(s); var n = 0L; while (m.find()) n += 1; n }
    }
  }

  /** Real byte-pair-encoding tokenizer behind the [[Tokenizer]] seam.
    *
    * Training ([[graft.tools.TrainBpe]]): standard BPE over the corpus
    * word-frequency table — repeatedly merge the most frequent
    * adjacent symbol pair, ties broken lexicographically so the run is
    * deterministic. The committed merge table
    * (resources/graft/bpe_merges.txt) was trained once on the sf0.01
    * corpus and is data-independent at APPLY time, which is what lets
    * the DuckDB oracle replay the identical merge chain as static SQL.
    *
    * Encoding: each merge, in rank order, is applied exhaustively
    * left-to-right (non-overlapping) — exactly the semantics of the
    * oracle's nested replace() chain, so token counts are bit-equal.
    *
    * DELIBERATE DEVIATION from canonical BPE apply: canonical apply
    * iteratively re-scans for the lowest-rank pair present, so a later
    * merge that creates an earlier merge's pair re-triggers it; this
    * single rank-order pass does not (pinned by PipelineSeamsSpec:
    * encodeTokens("aab", [(a,b),(a,ab)]) = [aab] where canonical BPE
    * yields one more merge). The single pass is what makes the merge
    * chain replayable as a static SQL replace() cascade — token counts
    * from this tokenizer are internally consistent but not guaranteed
    * equal to an HF/SentencePiece apply of the same merge table.
    *
    * Per-partition open() loads the merges once and memoizes
    * distinct-word encodings (Zipf makes the cache hit rate ~1).
    */
  object Bpe {
    def loadMerges(): Vector[(String, String)] = {
      val in = getClass.getResourceAsStream("/graft/bpe_merges.txt")
      require(in != null, "resource graft/bpe_merges.txt missing — run graft.tools.TrainBpe")
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .filter(_.nonEmpty)
        .map { l => val Array(a, b) = l.split(" ", 2); (a, b) }.toVector
      finally in.close()
    }

    /** Split into codepoint symbols (matches the oracle's
      * regexp_split_to_array(w,''), which splits codepoints, not
      * UTF-16 units). */
    def symbols(w: String): Vector[String] = {
      val out = Vector.newBuilder[String]
      var i = 0
      while (i < w.length) {
        val cp = w.codePointAt(i)
        out += new String(Character.toChars(cp))
        i += Character.charCount(cp)
      }
      out.result()
    }

    /** One left-to-right non-overlapping pass merging (a,b) → ab. */
    private def applyMerge(toks: Vector[String], a: String, b: String): Vector[String] =
      if (toks.length < 2) toks
      else {
        val out = Vector.newBuilder[String]
        var i = 0
        while (i < toks.length) {
          if (i + 1 < toks.length && toks(i) == a && toks(i + 1) == b) {
            out += (a + b); i += 2
          } else { out += toks(i); i += 1 }
        }
        out.result()
      }

    /** Apply the merge table in rank order to one word. */
    def encodeTokens(word: String, merges: Seq[(String, String)]): Vector[String] = {
      var toks = symbols(word)
      merges.foreach { case (a, b) => toks = applyMerge(toks, a, b) }
      toks
    }

    /** Train `nMerges` BPE merges from (word, count) pairs. Stops early
      * when no pair occurs twice. Deterministic: ties break on the
      * pair's lexicographic order. */
    def train(wordCounts: Seq[(String, Long)], nMerges: Int): Vector[(String, String)] = {
      var vocab: Vector[(Vector[String], Long)] =
        wordCounts.map { case (w, c) => (symbols(w), c) }.toVector
      val merges = Vector.newBuilder[(String, String)]
      var k = 0
      var done = false
      while (k < nMerges && !done) {
        val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
        vocab.foreach { case (toks, c) =>
          var i = 0
          while (i + 1 < toks.length) {
            val p = (toks(i), toks(i + 1))
            counts(p) = counts.getOrElse(p, 0L) + c
            i += 1
          }
        }
        val best = counts.minByOption { case ((a, b), c) => (-c, a, b) }
        best match {
          case Some(((a, b), n)) if n >= 2 =>
            merges += ((a, b))
            vocab = vocab.map { case (toks, c) => (applyMerge(toks, a, b), c) }
            k += 1
          case _ => done = true
        }
      }
      merges.result()
    }

    /** The committed merge table as a [[Tokenizer]]: counts BPE tokens
      * over whitespace words. */
    object Tok extends Tokenizer {
      def open(): String => Long = {
        val merges = loadMerges()
        val cache = scala.collection.mutable.HashMap.empty[String, Long]
        text => {
          // split on single space, drop empties — EXACTLY the oracle's
          // list_filter(string_split(text,' '), w -> w <> '') (no trim:
          // trim semantics differ between JVM and DuckDB)
          var n = 0L
          text.split(" ").foreach { w =>
            if (w.nonEmpty)
              n += cache.getOrElseUpdate(w, encodeTokens(w, merges).length.toLong)
          }
          n
        }
      }
    }
  }

  /** Token counts through the [[Tokenizer]] seam. The default regex
    * tokenizer takes the codegen fast path (regexp_count column, no
    * JVM lambda per row); any injected tokenizer runs via
    * mapPartitions with one open() per partition.
    */
  def tokenCounts(docs: DataFrame, tok: Tokenizer = RegexTokenizer): DataFrame =
    if (tok eq RegexTokenizer)
      docs.select(col("doc_id"),
        regexp_count(col("text"), lit(RegexTokenizer.pattern)).cast("bigint").as("n_tokens"))
    else {
      import docs.sparkSession.implicits._
      docs.select(col("doc_id"), col("text")).as[(Long, String)]
        .mapPartitions { it =>
          val count = tok.open() // vocab/merges load, once per partition
          it.map { case (id, text) => (id, count(text)) }
        }
        .toDF("doc_id", "n_tokens")
    }

  /** Injection seam for a real embedding model — the third leg of the
    * per-partition inference-seam pattern, after [[Tokenizer]] and
    * [[graft.operators.MediaCodec]]: `open()` runs ONCE PER PARTITION
    * on the executor — load weights / an inference session there and
    * return the per-doc encoder. Must be Serializable (ships in the
    * task closure).
    */
  trait Embedder extends Serializable {
    def dim: Int
    def open(): String => Array[Float]
  }

  /** Deterministic reference kernel behind the seam: hashed
    * bag-of-words projection (feature hashing, Weinberger et al.
    * ICML'09). Each word FNV-1a-64 hashes to a dimension (unsigned
    * h mod dim) and a sign (the next bit up: unsigned h div dim, mod
    * 2), the signed counts L2-normalize, the doubles narrow to float.
    * Every step is integer or one correctly-rounded IEEE op, so the
    * DuckDB oracle replays the whole kernel bit-exactly through
    * [[OracleSql.fnvU64]] — the same contract-oracle pattern
    * JdkMediaCodec uses for decode. */
  final case class HashedBowEmbedder(dim: Int = 64) extends Embedder {
    def open(): String => Array[Float] = { text =>
      val acc = new Array[Long](dim)
      text.trim.split(" ").foreach { w =>
        if (w.nonEmpty) {
          val bytes = w.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          var h = -3750763034362895579L // FNV-1a 64 offset basis (unsigned 14695981039346656037)
          var i = 0
          while (i < bytes.length) { h = (h ^ (bytes(i) & 0xffL)) * 1099511628211L; i += 1 }
          val idx = java.lang.Long.remainderUnsigned(h, dim.toLong).toInt
          acc(idx) +=
            (if ((java.lang.Long.divideUnsigned(h, dim.toLong) & 1L) == 0L) 1L else -1L)
        }
      }
      var ss = 0L
      var j = 0
      while (j < dim) { ss += acc(j) * acc(j); j += 1 }
      val norm = math.sqrt(ss.toDouble)
      val out = new Array[Float](dim)
      if (norm > 0) { j = 0; while (j < dim) { out(j) = (acc(j) / norm).toFloat; j += 1 } }
      out
    }
  }

  /** Injection seam for a cross-encoder reranker — the FOURTH leg of
    * the per-partition inference-seam pattern ([[Tokenizer]],
    * [[graft.operators.MediaCodec]], [[Embedder]]): `open()` runs
    * once per partition on the executor (load the cross-encoder
    * there) and returns the pairwise (query_text, doc_text) => score
    * function applied to each shortlist row. */
  trait Reranker extends Serializable {
    def open(): (String, String) => Double
  }

  /** Deterministic reference kernel behind the seam: word-set-overlap
    * F1 = 2|q∩d| / (|d|+|q|) over DISTINCT whitespace words — one
    * exact integer ratio and one IEEE division, so the DuckDB oracle
    * replays it bit-exactly (the JdkMediaCodec / HashedBowEmbedder
    * contract-oracle pattern). */
  case object WordF1Reranker extends Reranker {
    def open(): (String, String) => Double = { (q, d) =>
      val qs = q.trim.split(" ").iterator.filter(_.nonEmpty).toSet
      val ds = d.trim.split(" ").iterator.filter(_.nonEmpty).toSet
      val ni = qs.count(ds)
      if (ni == 0) 0.0 else 2.0 * ni / (ds.size + qs.size)
    }
  }

  /** (query_id, doc_id, rerank) through the [[Reranker]] seam — one
    * mapPartitions pass over a (query_id, qtext, doc_id, dtext)
    * shortlist, `open()` once per partition, zero shuffles. The
    * shortlist is already bounded (shortlistN x Q rows from a
    * TopKPerKey stage), which is what makes a per-pair cross-encoder
    * affordable at scale — it never sees the corpus. */
  def rerankBatch(shortlist: DataFrame, rr: Reranker = WordF1Reranker): DataFrame = {
    import shortlist.sparkSession.implicits._
    shortlist.select(col("query_id").cast("long"), col("qtext"),
        col("doc_id").cast("long"), col("dtext"))
      .as[(Long, String, Long, String)]
      .mapPartitions { it =>
        val score = rr.open() // cross-encoder load, once per partition
        it.map { case (qid, qt, did, dt) => (qid, did, score(qt, dt)) }
      }
      .toDF("query_id", "doc_id", "rerank")
  }

  /** (doc_id, embedding float[dim]) through the [[Embedder]] seam —
    * one mapPartitions pass, `open()` once per partition, zero
    * shuffles. The output schema matches the embeddings table
    * (vec_id-renamable), so the whole ANN stack — s06 int8, s07 PQ,
    * the stored indexes, d05 near-dup — consumes it directly: text →
    * embed → quantize → index → search is one graft-native chain
    * (PipelineSeamsSpec chains it into pqQuantize and cosineTopK).
    */
  def embedDocuments(docs: DataFrame,
      emb: Embedder = HashedBowEmbedder()): DataFrame = {
    import docs.sparkSession.implicits._
    docs.select(col("doc_id").cast("long"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        val encode = emb.open() // weights load, once per partition
        it.map { case (id, text) => (id, encode(text)) }
      }
      .toDF("doc_id", "embedding")
  }

  /** Deterministic linear-classifier head for [[qualityScore]] — a
    * fixed golden-ratio hash ramp of exact dyadic rationals
    * (k/1024 - 1/2), so the dot product below is bit-exact on any
    * IEEE engine. A trained fastText/logistic head drops into the
    * same literal slot. */
  def classifierWeights(dim: Int): Array[Double] =
    Array.tabulate(dim)(i => ((i * 2654435761L) % 1024).toDouble / 1024.0 - 0.5)

  /** fastText-style quality-classifier stage (CCNet / DCLM curation):
    * score = sigmoid(w . v) over the [[Embedder]] output, keep =
    * non-negative logit. The dot is a codegen higher-order fold
    * (zip_with + aggregate) in index order — zero shuffles, one
    * column map over the embedded corpus; the weight vector is a
    * broadcast literal (dim doubles). With [[classifierWeights]]'s
    * dyadic weights the logit is BIT-exact cross-engine (float
    * embedding values x exact weights, in-order double sums), so the
    * keep decision replays exactly; only the sigmoid's exp rounds.
    */
  def qualityScore(embedded: DataFrame, w: Array[Double]): DataFrame = {
    val wcol = array(w.map(lit): _*)
    val dot = aggregate(
      zip_with(col("embedding"), wcol, (a, b) => a * b),
      lit(0.0), (acc, x) => acc + x)
    embedded.select(col("doc_id"),
      round(lit(1.0) / (lit(1.0) + exp(-dot)), 6).as("score"),
      (dot >= 0).as("keep"))
  }

  /** DSIR-style hashed-unigram importance weight (Xie et al. 2023,
    * "Data Selection for Language Models via Importance Resampling",
    * arXiv:2302.03169): score every document by the average
    * log-likelihood ratio of its tokens under bag-of-hashed-unigram
    * models of a TARGET distribution (rows matching `targetPred` —
    * e.g. a trusted high-quality slice) vs the RAW corpus, with
    * add-one smoothing over `buckets` FNV hash buckets. High score =
    * "looks like the target"; compose with [[percentileGate]] for the
    * resampling gate.
    *
    * SCALE SHAPE: one corpus-token pass feeds a single `buckets`-key
    * count shuffle (map-side partials collapse each task to <=buckets
    * rows, raw+target counted in the same pass); the bucket model is
    * a `buckets`-row broadcast; scoring is a broadcast join + one
    * doc-keyed rollup. The ONLY float op is one log2 per bucket
    * (<=buckets of them), rounded to 9 dp and decimal-summed (§4
    * rule) — so the score is replay-exact cross-engine.
    */
  def dsirLogRatio(documents: DataFrame, targetPred: Column,
      buckets: Int = 4096): DataFrame = {
    val ws = filter(split(trim(col("text")), " "), w => w =!= "")
    val occ = documents
      .select(col("doc_id"), targetPred.as("is_t"), explode(ws).as("w"))
      .select(col("doc_id"), col("is_t"),
        pmod(graft.functions.fnv64(col("w")), lit(buckets.toLong)).as("bkt"))
    val cnt = occ.groupBy(col("bkt"))
      .agg(count(lit(1)).as("cr"),
        sum(when(col("is_t"), 1L).otherwise(0L)).as("ct"))
    val tot = cnt.agg(sum(col("cr")).as("nr"), sum(col("ct")).as("nt"))
    val lr = cnt.crossJoin(broadcast(tot))
      .select(col("bkt"),
        round(log2(((col("ct") + lit(1L)).cast("double") *
            (col("nr") + lit(buckets.toLong)).cast("double")) /
          ((col("cr") + lit(1L)).cast("double") *
            (col("nt") + lit(buckets.toLong)).cast("double"))), 9)
          .cast("decimal(28,9)").as("lr"))
    occ.join(broadcast(lr), "bkt")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("lr")).as("slr"))
      .select(col("doc_id"), col("n_tokens"),
        round(col("slr").cast("double") / col("n_tokens"), 6)
          .as("dsir_logratio"))
  }

  /** count of words of `ws` that fall in `set` (codegen higher-order fn). */
  private def nIn(ws: Column, set: Seq[String]): Column =
    size(filter(ws, w => w.isin(set: _*)))

  /** Gopher/Dolma-style hard rule gate over (doc_id, text): keep/drop
    * with the FIRST failing rule named (rule order: word_count,
    * mean_word_len, stopwords, alpha_words, symbol_ratio). All rules
    * are integer comparisons — sums and cross-multiplied rationals,
    * no float thresholds — so oracle parity is exact at any scale.
    */
  /** The gate as a reusable Column over a `text` attribute: NULL =
    * keep, else the FIRST failing rule's name. [[Pipeline]] applies it
    * inline so its composed plan gates in the same scan pass.
    */
  def gopherReason: org.apache.spark.sql.Column = {
    val ws = filter(split(trim(col("text")), " "), w => w =!= "")
    val n = size(ws).cast("bigint")
    val sumLen = aggregate(ws, lit(0L), (acc, w) => acc + length(w))
    val stopC = nIn(ws, stopwords).cast("bigint")
    val alphaC = size(filter(ws, w => w.rlike("[a-z]"))).cast("bigint")
    val nonspace = length(regexp_replace(col("text"), " ", "")).cast("bigint")
    val sym = length(regexp_replace(col("text"), "[a-zA-Z0-9 ]", "")).cast("bigint")
    when(!n.between(10L, 100000L), "word_count")
      .when(sumLen < n * 3 || sumLen > n * 10, "mean_word_len")
      .when(stopC < 2, "stopwords")
      .when(alphaC * 5 < n * 4, "alpha_words")
      .when(sym * 10 > nonspace, "symbol_ratio")
  }

  def gopherRules(documents: DataFrame): DataFrame = {
    val ws = filter(split(trim(col("text")), " "), w => w =!= "")
    val reason = gopherReason
    documents.select(
      col("doc_id"), size(ws).cast("bigint").as("n_words"),
      reason.isNull.as("keep"), reason.as("reject_reason"))
      .orderBy("doc_id")
  }

  /** The threshold election of [[percentileGate]] over a
    * PRE-AGGREGATED (group, score, n) histogram — shared with the
    * streaming twin ([[graft.streaming.ThresholdStream]]), whose
    * state store already holds merged counts. `hist` must be unique
    * per (group, score); output one (group, thr) row per group.
    */
  def percentileThresholds(hist: DataFrame, group: String,
      score: String, p: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(p > 0 && p < 1, s"need 0 < p < 1, got $p")
    val cum = hist
      .withColumn("cum", sum(col("n")).over(
        Window.partitionBy(group).orderBy(score)))
      .withColumn("ntot", sum(col("n")).over(Window.partitionBy(group)))
    // rank boundary in EXACT decimal arithmetic: BigDecimal.valueOf
    // takes the double's shortest decimal form (0.2 → decimal 0.2, not
    // 0.2000…011), so ceil(p·n) matches a decimal-literal consumer
    // (the DuckDB oracle) for ANY caller-supplied p — IEEE-double
    // ceil could elect a one-score-step-different threshold where p·n
    // lands near an integer
    cum.filter(col("cum") >=
        ceil(lit(java.math.BigDecimal.valueOf(p)) * col("ntot")))
      .groupBy(col(group)).agg(min(col(score)).as("thr"))
  }

  /** Per-group percentile gate (the CCNet-style adaptive threshold:
    * every language/source has its own score distribution, so a global
    * cutoff over- or under-filters — drop each group's bottom `p`
    * instead). Score-agnostic: plug word counts, [[qualityScore]],
    * a perplexity — any numeric column.
    *
    * NOT a per-group sort window: `Window.partitionBy(group)
    * .orderBy(score)` over the corpus serializes each group into one
    * task — the d17 skew trap. Instead the d17 two-phase histogram
    * shape: (1) groupBy(group, score) count — partial-aggregable, one
    * corpus exchange of histogram-sized output; (2) cumulative counts
    * + threshold over the HISTOGRAM (distinct scores per group, tiny);
    * (3) thresholds (one row per group) broadcast back, map-only
    * filter. Threshold = min score whose cumulative count reaches
    * ceil(p*n): a real data value, ties all kept, no interpolation —
    * integer comparisons end-to-end, so oracle parity is exact.
    */
  def percentileGate(scored: DataFrame, group: String, score: String,
      p: Double): DataFrame = {
    val hist = scored.groupBy(col(group), col(score))
      .agg(count(lit(1)).as("n"))
    val thr = percentileThresholds(hist, group, score, p)
    scored.join(broadcast(thr), Seq(group))
      .filter(col(score) >= col("thr"))
  }

  /** Per-group rank-based quantile bins (feature discretization /
    * sampling strata: "which length-decile of its language is this
    * doc?"). bin(r) = ((r−1)·n) div c + 1 for rank r of c group rows
    * — ranks are total via the (score, id) order, so bins are
    * replay-exact and integer end-to-end.
    *
    * NOT `ntile` over `Window.partitionBy(group).orderBy(score)` —
    * that serializes each group into one task (the d17/t20 skew
    * trap). Instead ranks come from the histogram: (1) one partial-
    * aggregable (group, score) count; (2) cumulative-before counts
    * over the HISTOGRAM; (3) join back on (group, score) + a
    * row_number window keyed by (group, score) — partitions are
    * histogram-BUCKET-sized, so no task sorts more than one score's
    * ties (a pathologically tie-heavy score column is the caller's
    * signal to bin on a finer score). rank = cum_before + tie_idx.
    */
  def quantileBins(scored: DataFrame, group: String, score: String,
      idCol: String, n: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(n >= 1, s"need n >= 1, got $n")
    val hist = scored.groupBy(col(group), col(score))
      .agg(count(lit(1)).as("_cnt"))
    val cum = hist
      .withColumn("_cum_before", sum(col("_cnt")).over(
        Window.partitionBy(group).orderBy(score)) - col("_cnt"))
      .withColumn("_n_grp", sum(col("_cnt")).over(Window.partitionBy(group)))
      .drop("_cnt")
    val idx = row_number().over(
      Window.partitionBy(col(group), col(score)).orderBy(col(idCol)))
    scored.join(cum, Seq(group, score))
      .withColumn("_rank", col("_cum_before") + idx)
      // integer floor division: (r-1)*n and _n_grp are BIGINTs, so
      // `div` stays in the exact domain (never float `/`)
      .withColumn("bin",
        expr(s"((_rank - 1) * ${n}L) div _n_grp") + lit(1L))
      .drop("_cum_before", "_n_grp", "_rank")
  }

  /** [[percentileGate]] for CONTINUOUS scores (a classifier sigmoid, a
    * perplexity): there the exact histogram degenerates — distinct
    * scores ≈ corpus rows — so the threshold comes from Spark's
    * `approx_percentile` t-digest-style sketch instead: mergeable,
    * partial-aggregable, #groups output rows, `accuracy` bounds the
    * rank error (1/accuracy of the group size). Same broadcast-back +
    * map-only filter tail as the exact form; same skew immunity (no
    * per-group sort window). Not oracle-matchable by construction —
    * the sketch is an approximation — so the contract is spec-gated:
    * the approximate threshold must sit within the rank-error bound
    * of the exact one.
    */
  def percentileGateApprox(scored: DataFrame, group: String, score: String,
      p: Double, accuracy: Int = 10000): DataFrame = {
    require(p > 0 && p < 1, s"need 0 < p < 1, got $p")
    val thr = scored.groupBy(col(group))
      .agg(percentile_approx(col(score), lit(p), lit(accuracy)).as("thr"))
    scored.join(broadcast(thr), Seq(group))
      .filter(col(score) >= col("thr"))
  }

  /** Sliding-window chunking with overlap (RAG / context-window prep):
    * fixed `chunk`-word windows every `stride` words, so consecutive
    * chunks share `chunk - stride` boundary words. One generator over
    * codegen'd sequence/slice/array_join — rows widen by
    * ~n_words/stride but stay (doc_id, chunk) shaped, zero shuffles:
    * at 100 TB this pipelines into the scan like every other t-op.
    * chunk_id restarts per doc, so (doc_id, chunk_id) is the stable
    * chunk key downstream ops join on.
    */
  def chunkOverlap(documents: DataFrame,
      chunk: Int = 32, stride: Int = 24): DataFrame = {
    require(stride > 0 && chunk >= stride,
      s"need 0 < stride <= chunk (got chunk=$chunk stride=$stride)")
    documents
      .select(col("doc_id"), split(trim(col("text")), " ").as("ws"))
      .select(col("doc_id"), col("ws"),
        posexplode(sequence(lit(0), greatest(size(col("ws")) - 1, lit(0)),
          lit(stride))).as(Seq("chunk_id", "start")))
      .select(col("doc_id"), col("chunk_id").cast("bigint").as("chunk_id"),
        array_join(slice(col("ws"), col("start") + 1, lit(chunk)), " ").as("chunk_text"),
        least(size(col("ws")) - col("start"), lit(chunk)).cast("bigint").as("n_chunk_words"))
  }

  /** TOKEN-budget chunking — t16's chunker composed with t09's real
    * BPE tokenizer: split each doc into runs of whole words whose
    * BPE-token total fits `maxTokens`, consecutive chunks sharing at
    * most `overlapTokens` tokens of trailing context. The budget a
    * RAG / context-prep pipeline actually has is tokens of the
    * consumer model, not words.
    *
    * Semantics (deterministic, oracle-replayable): greedy maximal —
    * a chunk starting at word b ends at the LARGEST e with
    * tokens(b..e) <= maxTokens (a single word over budget forms its
    * own oversize chunk, the standard escape so progress is
    * guaranteed); the next chunk starts at the SMALLEST b' > b with
    * tokens(b'..e) <= overlapTokens (back up at most the overlap
    * budget from the break).
    *
    * Scale: one mapPartitions pass — the tokenizer loads once per
    * partition, per-word token costs are memoized (Zipf), the greedy
    * fold is O(words) per doc, and docs chunk independently so the
    * stage pipelines into the scan with ZERO shuffles at any corpus
    * size (same budget as t16; only the budget arithmetic changed
    * from word-count to token-count).
    */
  def chunkByTokens(documents: DataFrame, maxTokens: Int,
      overlapTokens: Int, tok: Tokenizer = Bpe.Tok): DataFrame = {
    require(maxTokens > 0 && overlapTokens >= 0 && overlapTokens < maxTokens,
      s"need 0 <= overlapTokens < maxTokens (got max=$maxTokens overlap=$overlapTokens)")
    import documents.sparkSession.implicits._
    documents.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        val count = tok.open() // merges load + word memo, once per partition
        it.flatMap { case (id, text) =>
          val ws = text.split(" ").filter(_.nonEmpty)
          val n = ws.length
          if (n == 0) Iterator.empty
          else {
            // S(i) = tokens of words [0, i): tokens(b..e) = S(e+1) - S(b)
            val s = new Array[Long](n + 1)
            var i = 0
            while (i < n) { s(i + 1) = s(i) + count(ws(i)); i += 1 }
            val out = scala.collection.mutable.ArrayBuffer
              .empty[(Long, Long, Long, String, Long, Long)]
            var b = 0; var chunkId = 0L; var done = false
            while (!done) {
              var e = b
              while (e + 1 < n && s(e + 2) - s(b) <= maxTokens) e += 1
              if (s(b + 1) - s(b) > maxTokens) e = b // oversize single word
              out += ((id, chunkId, (b + 1).toLong,
                ws.slice(b, e + 1).mkString(" "),
                (e - b + 1).toLong, s(e + 1) - s(b)))
              if (e == n - 1) done = true
              else {
                var b2 = e + 1
                while (b2 - 1 > b && s(e + 1) - s(b2 - 1) <= overlapTokens) b2 -= 1
                b = b2; chunkId += 1
              }
            }
            out.iterator
          }
        }
      }
      .toDF("doc_id", "chunk_id", "start_word", "chunk_text",
        "n_chunk_words", "n_chunk_tokens")
  }

  /** Systematic (stochastic-universal) weighted sampling of k docs:
    * lay each doc's weight end-to-end along a cumulative axis in
    * deterministic hash order, then select every doc whose interval
    * ((cum−w)·k, cum·k] crosses a multiple of the total weight W —
    * i.e. copies = (cum·k) div W − ((cum−w)·k) div W ≥ 1. Inclusion
    * probability is EXACTLY ∝ weight, Σ copies = k exactly, and the
    * whole decision is integer arithmetic — the reason this is the
    * engine's weighted sampler instead of A-ES (u^(1/w) priorities):
    * a transcendental key's last ulp can flip a rank between engines,
    * an integer floor-div cannot. Input: (doc_id, w) with w ≥ 0
    * (zero-weight docs have an empty interval and are never picked).
    *
    * SCALE SHAPE: the textbook form is ONE global hash-ordered
    * cum-sum window = one serial task at 100 TB. Same remedy as
    * [[Dedup.mixtureSample]]: (A) per-hash-bucket weight histogram
    * (KB-sized, collected like sidecar metadata), driver prefix-scan
    * → per-bucket offsets; (B) bucket-parallel windows add the
    * offset, so the global cumulative axis is computed with
    * parallelism = buckets and no serial stage.
    */
  def systematicWeightedSample(weighted: DataFrame, k: Long): DataFrame = {
    val spark = weighted.sparkSession
    import spark.implicits._
    val hx = pmod(pmod(col("doc_id"), lit(1000003L)) * lit(427799L),
      lit(1000003L))
    // RANGE buckets (not mod): bucket i must hold a contiguous h
    // slice so "all of bucket i precedes bucket i+1" makes the
    // offset+in-bucket-cum sum equal the global hash-order cum-sum
    val base = weighted.select(col("doc_id"), col("w"), hx.as("h"))
      .withColumn("b", expr("(h * 128L) div 1000003L").cast("int"))
    val hist = base.groupBy(col("b")).agg(sum(col("w")).as("bw"))
      .collect().map(r => (r.getInt(0), r.getLong(1)))
    val totalW = hist.map(_._2).sum
    require(totalW > 0, "corpus has zero total weight")
    require(k >= 1 && k <= Long.MaxValue / totalW,
      s"k*W must fit a long: k=$k, W=$totalW")
    var off = 0L
    val offs = hist.sortBy(_._1).map { case (b, bw) =>
      val row = (b, off); off += bw; row
    }
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(col("b")).orderBy(col("h"), col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    base.join(broadcast(offs.toSeq.toDF("b", "off")), Seq("b"))
      .withColumn("cum", sum(col("w")).over(win) + col("off"))
      .withColumn("copies",
        expr(s"(cum * ${k}L) div ${totalW}L - ((cum - w) * ${k}L) div ${totalW}L"))
      .filter(col("copies") >= 1L)
      .select(col("doc_id"), col("w").as("n_tokens"), col("copies"), col("cum"))
  }

  /** Stratified sample with EXACT largest-remainder (Hamilton)
    * allocation: k rows split across strata exactly proportionally —
    * stratum s gets ⌊k·n_s/N⌋, and the k − Σ⌊⌋ leftover seats go to
    * the largest fractional remainders (k·n_s mod N, ties to the
    * smaller stratum name). Σ alloc = k EXACTLY, every decision is
    * integer arithmetic, and ⌊k·n_s/N⌋+1 ≤ n_s whenever k ≤ N (a
    * bumped stratum has a nonzero remainder), so allocation never
    * exceeds a stratum. The per-lang quota beats global weighted
    * sampling when the mixture itself is the contract (eval sets,
    * per-language training quotas).
    *
    * Members are picked by deterministic hash order (t23's mod-p
    * walk — no RNG, both engines replay it bit-exactly). SCALE: the
    * (stratum, bucket) histogram is a KB sidecar collect; the
    * allocation is driver arithmetic over stratum count rows; the
    * per-stratum rank runs bucket-parallel (in-bucket row_number +
    * broadcast offset over 128 contiguous hash ranges — t23's trick),
    * so a 90%-English corpus never serializes into one window task.
    */
  def stratifiedSample(docs: DataFrame, k: Long,
      keyCol: String = "lang"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val hx = pmod(pmod(col("doc_id"), lit(1000003L)) * lit(427799L),
      lit(1000003L))
    val base = docs.select(col("doc_id"), col(keyCol).as("stratum"),
        hx.as("h"))
      .withColumn("b", expr("(h * 128L) div 1000003L").cast("int"))
    val hist = base.groupBy(col("stratum"), col("b"))
      .agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
    val nByS = hist.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    val total = nByS.values.sum
    require(total > 0, "empty corpus")
    require(k <= total, s"k=$k exceeds corpus size $total")
    val floors = nByS.view.mapValues(n => k * n / total).toMap
    val leftover = (k - floors.values.sum).toInt
    val bumped = nByS.toSeq
      .map { case (s0, n) => (s0, k * n % total) }
      .sortBy { case (s0, r) => (-r, s0) }
      .take(leftover).map(_._1).toSet
    val alloc = floors.map { case (s0, f) =>
      (s0, f + (if (bumped(s0)) 1L else 0L))
    }.toSeq
    val offs = hist.groupBy(_._1).toSeq.flatMap { case (s0, rows) =>
      var off = 0L
      rows.sortBy(_._2).map { case (_, b, c) =>
        val row = (s0, b, off); off += c; row
      }
    }
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(col("stratum"), col("b"))
      .orderBy(col("h"), col("doc_id"))
    base.join(broadcast(offs.toDF("stratum", "b", "off")),
        Seq("stratum", "b"))
      .join(broadcast(alloc.toDF("stratum", "alloc")), Seq("stratum"))
      .withColumn("rn", row_number().over(win).cast("long") + col("off"))
      .filter(col("rn") <= col("alloc"))
      .select(col("doc_id"), col("stratum"), col("rn"))
  }

  /** TF-IDF keyword extraction: the top-k characteristic words of
    * every document — tf·ln(N/df) over the corpus's own statistics
    * (t07's BM25 ranks DOCS for a query; this ranks WORDS for a doc —
    * the tagging/labeling complement). Exact integer tf/df/N; the
    * score is one fixed-order double rounded at 6, rank deterministic
    * by (score desc, word) — a stopword appearing in every doc gets
    * idf ln(1)=0 and drops out naturally.
    *
    * SCALE: one token pass → partial-aggregable (doc, word) tf
    * groupBy; df another partial-aggregable groupBy over the
    * DISTINCT-(doc,word) frame tf already is; N a 1-row broadcast.
    * The rank window partitions per doc (distinct-words-sized groups,
    * doc-cardinality parallelism — no hot key possible beyond one
    * doc's vocabulary).
    */
  def tfidfKeywords(docs: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"need k >= 1, got $k")
    val words = docs.select(col("doc_id"),
      explode(split(trim(col("text")), " ")).as("w"))
      .filter(col("w") =!= "")
    val tf = words.groupBy(col("doc_id"), col("w"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
    val n = tf.select(col("doc_id")).distinct()
      .agg(count(lit(1)).as("n_docs"))
    val score = round(col("tf").cast("double") *
      log(col("n_docs").cast("double") / col("df").cast("double")), 6)
    val byScore = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("w"))
    tf.join(dfreq, "w").crossJoin(broadcast(n))
      .withColumn("score", score)
      .withColumn("rank", row_number().over(byScore).cast("bigint"))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("rank"), col("w").as("word"),
        col("tf"), col("df"), col("score"))
  }

  /** Parallel rank reconstruction for Zipf-style rank/frequency fits:
    * given one row per VOCABULARY WORD carrying its corpus frequency
    * `f`, returns one (f, r) row per word where r is the word's
    * row_number rank under (f DESC, word) — with NO vocabulary-sized
    * sort and NO unpartitioned window. Downstream consumers sum
    * symmetric functions of (r, f); within a frequency tie-class those
    * are invariant to which word received which rank, so ranks are
    * rebuilt from the frequency HISTOGRAM (t20/t22's election shape):
    *   - hist: one row per distinct f with its word count c —
    *     O(sqrt(tokens)) rows under Zipf, never vocab-sized;
    *   - cross-bucket offsets: log2(f) buckets (≤64 by construction,
    *     `length(bin(f))` is integer-exact and monotone), suffix-summed
    *     with a ≤64×64 triangular self-join — no window, no collect;
    *   - within-bucket prefix: cumulative count window PARTITIONED BY
    *     bucket over histogram rows only;
    *   - the rank block H_f+1 .. H_f+c_f is regenerated by exploding
    *     64k-wide chunk sequences, repartitioned first so one giant
    *     tie class (the hapax f=1 class is typically half the
    *     vocabulary) fans out across executors instead of serializing
    *     in a single task.
    */
  def zipfRankTerms(wordFreqs: DataFrame, chunk: Long = 65536L): DataFrame = {
    require(chunk >= 1L, s"need chunk >= 1, got $chunk")
    val sess = wordFreqs.sparkSession
    val W = org.apache.spark.sql.expressions.Window
    val hist = wordFreqs.groupBy(col("f")).agg(count(lit(1)).as("c"))
      .withColumn("bkt", length(bin(col("f"))).cast("long"))
    val totals = hist.groupBy(col("bkt")).agg(sum(col("c")).as("bc"))
    val off = totals.as("x")
      .join(totals.as("y"), col("y.bkt") > col("x.bkt"), "left")
      .groupBy(col("x.bkt").as("bkt"))
      .agg(coalesce(sum(col("y.bc")), lit(0L)).as("off"))
    val inBkt = W.partitionBy("bkt").orderBy(desc("f"))
      .rowsBetween(W.unboundedPreceding, -1)
    val ranked = hist
      .withColumn("prior", coalesce(sum(col("c")).over(inBkt), lit(0L)))
      .join(broadcast(off), "bkt")
      .select(col("f"), (col("prior") + col("off")).as("h"), col("c"))
    val ch = chunk
    ranked
      .select(col("f"), col("h"), col("c"),
        explode(sequence(lit(0L), expr(s"(c - 1L) div ${ch}L"))).as("ci"))
      .repartition(sess.sparkContext.defaultParallelism)
      .select(col("f"),
        explode(sequence(col("h") + col("ci") * ch + lit(1L),
          col("h") + least((col("ci") + lit(1L)) * ch, col("c")))).as("r"))
  }

  val entries: Seq[(String, QFn, Option[String])] = Seq(

    // ---- language ID: per-language marker-word counts, argmax ----
    ("t01_langid", (s: SparkSession, d: String) => {
      val ws = words
      val en = nIn(ws, Seq("the", "a", "of", "in", "is"))
      val de = nIn(ws, Seq("der", "die", "das", "und", "ist"))
      val fr = nIn(ws, Seq("le", "la", "les", "et", "est"))
      val es = nIn(ws, Seq("el", "los", "las", "y", "es"))
      val zh = nIn(ws, Seq("de", "shi", "bu", "wo", "zai"))
      val top = greatest(en, de, fr, es, zh)
      val pred = when(en === top, "en").when(de === top, "de")
        .when(fr === top, "fr").when(es === top, "es").otherwise("zh")
      Tables.documents(s, d).select(
        col("doc_id"), pred.as("pred_lang"), (pred === col("lang")).as("hit"))
        .orderBy("doc_id")
    }, Some("""
      WITH sc AS (
        SELECT doc_id, lang,
          len(list_filter(string_split(trim(text), ' '), w -> w IN ('the','a','of','in','is'))) AS en,
          len(list_filter(string_split(trim(text), ' '), w -> w IN ('der','die','das','und','ist'))) AS de,
          len(list_filter(string_split(trim(text), ' '), w -> w IN ('le','la','les','et','est'))) AS fr,
          len(list_filter(string_split(trim(text), ' '), w -> w IN ('el','los','las','y','es'))) AS es,
          len(list_filter(string_split(trim(text), ' '), w -> w IN ('de','shi','bu','wo','zai'))) AS zh
        FROM documents),
      p AS (
        SELECT doc_id, lang,
          CASE WHEN en >= greatest(en,de,fr,es,zh) THEN 'en'
               WHEN de >= greatest(en,de,fr,es,zh) THEN 'de'
               WHEN fr >= greatest(en,de,fr,es,zh) THEN 'fr'
               WHEN es >= greatest(en,de,fr,es,zh) THEN 'es'
               ELSE 'zh' END AS pred_lang
        FROM sc)
      SELECT doc_id, pred_lang, pred_lang = lang AS hit FROM p ORDER BY doc_id""")),

    // ---- classifier evaluation: t01's lang-ID against the labeled
    //      lang column — per-class precision/recall/F1, the metric
    //      table every gate model ships with. Exact confusion counts
    //      (one groupBy over predictions); each metric ONE rounded
    //      division off integers (F1 from the rounded p/r, fixed
    //      order); a class never predicted gets null precision,
    //      never F1 NaN ----
    ("t25_langid_eval", (s: SparkSession, d: String) => {
      val ws = words
      val en = nIn(ws, Seq("the", "a", "of", "in", "is"))
      val de = nIn(ws, Seq("der", "die", "das", "und", "ist"))
      val fr = nIn(ws, Seq("le", "la", "les", "et", "est"))
      val es = nIn(ws, Seq("el", "los", "las", "y", "es"))
      val zh = nIn(ws, Seq("de", "shi", "bu", "wo", "zai"))
      val top = greatest(en, de, fr, es, zh)
      val pred = when(en === top, "en").when(de === top, "de")
        .when(fr === top, "fr").when(es === top, "es").otherwise("zh")
      val scored = Tables.documents(s, d)
        .select(col("lang"), pred.as("pred"))
      val byTrue = scored.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_true"),
          sum(when(col("pred") === col("lang"), 1L).otherwise(0L)).as("n_hit"))
      val byPred = scored.groupBy(col("pred").as("lang"))
        .agg(count(lit(1)).as("n_pred"))
      val p = when(col("n_pred") > 0L,
        round(col("n_hit").cast("double") / col("n_pred").cast("double"), 6))
      val r = when(col("n_true") > 0L,
        round(col("n_hit").cast("double") / col("n_true").cast("double"), 6))
      byTrue.join(byPred, Seq("lang"), "full")
        .select(col("lang"),
          coalesce(col("n_true"), lit(0L)).as("n_true"),
          coalesce(col("n_pred"), lit(0L)).as("n_pred"),
          coalesce(col("n_hit"), lit(0L)).as("n_hit"))
        .withColumn("precision", p)
        .withColumn("recall", r)
        .withColumn("f1", when(p.isNotNull && r.isNotNull && (p + r) > 0.0,
          round(lit(2.0) * p * r / (p + r), 6)))
        .orderBy("lang")
    }, Some("""
      WITH sc AS (
        SELECT doc_id, lang,
          len(list_filter(string_split(trim(text), ' '), w -> w IN ('the','a','of','in','is'))) AS en,
          len(list_filter(string_split(trim(text), ' '), w -> w IN ('der','die','das','und','ist'))) AS de,
          len(list_filter(string_split(trim(text), ' '), w -> w IN ('le','la','les','et','est'))) AS fr,
          len(list_filter(string_split(trim(text), ' '), w -> w IN ('el','los','las','y','es'))) AS es,
          len(list_filter(string_split(trim(text), ' '), w -> w IN ('de','shi','bu','wo','zai'))) AS zh
        FROM documents),
      pr AS (
        SELECT lang,
          CASE WHEN en >= greatest(en,de,fr,es,zh) THEN 'en'
               WHEN de >= greatest(en,de,fr,es,zh) THEN 'de'
               WHEN fr >= greatest(en,de,fr,es,zh) THEN 'fr'
               WHEN es >= greatest(en,de,fr,es,zh) THEN 'es'
               ELSE 'zh' END AS pred
        FROM sc),
      bt AS (SELECT lang, count(*) AS n_true,
               CAST(sum(CASE WHEN pred = lang THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_hit
             FROM pr GROUP BY 1),
      bp AS (SELECT pred AS lang, count(*) AS n_pred FROM pr GROUP BY 1),
      j AS (SELECT coalesce(bt.lang, bp.lang) AS lang,
              coalesce(n_true, 0) AS n_true, coalesce(n_pred, 0) AS n_pred,
              coalesce(n_hit, 0) AS n_hit
            FROM bt FULL JOIN bp ON bt.lang = bp.lang),
      m AS (SELECT lang, n_true, n_pred, n_hit,
              CASE WHEN n_pred > 0
                THEN round(CAST(n_hit AS DOUBLE) / CAST(n_pred AS DOUBLE), 6)
              END AS precision,
              CASE WHEN n_true > 0
                THEN round(CAST(n_hit AS DOUBLE) / CAST(n_true AS DOUBLE), 6)
              END AS recall
            FROM j)
      SELECT lang, n_true, n_pred, n_hit, precision, recall,
        CASE WHEN precision IS NOT NULL AND recall IS NOT NULL
              AND precision + recall > 0
          THEN round(2.0 * precision * recall / (precision + recall), 6)
        END AS f1
      FROM m ORDER BY lang""")),

    // ---- quality scoring: length/stopword/word-shape ratios ----
    ("t02_quality", (s: SparkSession, d: String) => {
      val ws = words
      val nWords = size(ws)
      val awl = length(regexp_replace(col("text"), " ", "")).cast("double") / nWords
      val stopR = nIn(ws, stopwords).cast("double") / nWords
      val longR = size(filter(ws, w => length(w) > 6)).cast("double") / nWords
      val score =
        when(nWords.between(20, 80), 0.4).otherwise(0.0) +
          when(stopR.between(0.05, 0.5), 0.3).otherwise(0.0) +
          when(awl.between(3.0, 8.0), 0.3).otherwise(0.0)
      Tables.documents(s, d).select(
        col("doc_id"), length(col("text")).cast("bigint").as("chars"),
        nWords.cast("bigint").as("n_words"),
        awl.as("avg_word_len"), stopR.as("stop_ratio"), longR.as("long_ratio"),
        score.as("quality"))
        .orderBy("doc_id")
    }, Some("""
      WITH f AS (
        SELECT doc_id, text, string_split(trim(text), ' ') AS ws FROM documents),
      m AS (
        SELECT doc_id,
          CAST(length(text) AS BIGINT) AS chars,
          CAST(len(ws) AS BIGINT) AS n_words,
          CAST(length(replace(text, ' ', '')) AS DOUBLE) / len(ws) AS avg_word_len,
          CAST(len(list_filter(ws, w -> w IN ('the','a','of','in','is'))) AS DOUBLE) / len(ws) AS stop_ratio,
          CAST(len(list_filter(ws, w -> length(w) > 6)) AS DOUBLE) / len(ws) AS long_ratio
        FROM f)
      SELECT doc_id, chars, n_words, avg_word_len, stop_ratio, long_ratio,
        (CASE WHEN n_words BETWEEN 20 AND 80 THEN 0.4 ELSE 0.0 END +
         CASE WHEN stop_ratio BETWEEN 0.05 AND 0.5 THEN 0.3 ELSE 0.0 END +
         CASE WHEN avg_word_len BETWEEN 3.0 AND 8.0 THEN 0.3 ELSE 0.0 END) AS quality
      FROM m ORDER BY doc_id""")),

    // ---- token counting: whitespace + BPE-ish regex ----
    ("t03_tokens", (s: SparkSession, d: String) => {
      val bpe = RegexTokenizer.pattern // the Tokenizer seam's default
      val nWs = size(split(trim(col("text")), "\\s+"))
      val nBpe = regexp_count(col("text"), lit(bpe))
      Tables.documents(s, d).select(
        col("doc_id"),
        nWs.cast("bigint").as("n_ws_tokens"),
        nBpe.cast("bigint").as("n_bpe_tokens"),
        (length(col("text")).cast("double") / nBpe).as("chars_per_token"))
        .orderBy("doc_id")
    }, Some("""
      SELECT doc_id,
        CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_ws_tokens,
        CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS n_bpe_tokens,
        CAST(length(text) AS DOUBLE) / len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS chars_per_token
      FROM documents ORDER BY doc_id""")),

    // ---- intra-document repetition ratio (quality filter: repeated
    //      n-grams signal low-quality/generated text). Distinct count
    //      comes from the shingleHashes codegen kernel (one pass over
    //      the bytes, no trigram-string materialization — 8x faster
    //      than transform+array_distinct on strings); total trigram
    //      count is arithmetic on the word count. Single-file input is
    //      repartitioned so the CPU-bound map spreads across cores ----
    ("t05_repetition", (s: SparkSession, d: String) => {
      val w = split(trim(col("text")), " ")
      val nTris = when(size(w) >= 3, size(w) - 2).otherwise(lit(1))
      Tables.documents(s, d)
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("doc_id"),
          nTris.cast("bigint").as("n_trigrams"),
          size(graft.functions.shingleHashes(col("text"), 3)).cast("bigint").as("n_distinct"))
        .select(col("doc_id"), col("n_trigrams"), col("n_distinct"),
          (lit(1.0) - col("n_distinct").cast("double") / col("n_trigrams")).as("repetition"))
        .orderBy("doc_id")
    }, Some("""
      WITH w AS (SELECT doc_id, string_split(trim(text), ' ') AS ws FROM documents),
      t0 AS (SELECT doc_id, ws, unnest(generate_series(1, greatest(len(ws) - 2, 1))) AS i FROM w),
      tri AS (SELECT doc_id,
                CASE WHEN len(ws) >= 3 THEN ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                     ELSE array_to_string(ws, ' ') END AS tg FROM t0),
      agg AS (SELECT doc_id, count(*) AS n_trigrams, count(DISTINCT tg) AS n_distinct
              FROM tri GROUP BY doc_id)
      SELECT doc_id, n_trigrams, n_distinct,
        1.0 - CAST(n_distinct AS DOUBLE) / n_trigrams AS repetition
      FROM agg ORDER BY doc_id""")),

    // ---- document fingerprint: native codegen expression with a
    //      bit-exact SQL oracle (see GraftHash.polyFingerprint) ----
    ("t04_fingerprint", (s: SparkSession, d: String) => {
      Tables.documents(s, d)
        .select(col("doc_id"), polyFingerprint(col("text")).as("fp"))
        .orderBy("doc_id")
    }, Some("""
      WITH w AS (
        SELECT doc_id,
          unnest(string_split(trim(text), ' ')) AS wd,
          generate_subscripts(string_split(trim(text), ' '), 1) AS pos
        FROM documents),
      ne AS (
        SELECT doc_id, wd,
          row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS i
        FROM w WHERE wd <> '')
      SELECT doc_id,
        CAST(sum(((length(wd)*1000003 + ascii(wd)*31 + ascii(reverse(wd))) % 1000000007) * ((i*131) % 1000000007)) % 1000000007 AS BIGINT) AS fp
      FROM ne GROUP BY doc_id ORDER BY doc_id""")),

    // ---- PII scrubbing: detect + redact emails/phones with RE2-safe
    //      patterns (codegen regexp ops, zero-shuffle column map). The
    //      corpus has no PII, so a deterministic synthetic contact
    //      string is appended per doc and the redaction is verified
    //      end-to-end against the oracle's regexp engine ----
    ("t06_pii_scrub", (s: SparkSession, d: String) => {
      val emailPat = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-z]{2,}"
      val phonePat = "\\+1-[0-9]{3}-[0-9]{4}"
      val aug = concat(col("text"),
        lit(" contact: user"), col("doc_id"), lit("@example.com or +1-555-"),
        lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"))
      val scrubbed = regexp_replace(
        regexp_replace(aug, emailPat, "[EMAIL]"), phonePat, "[PHONE]")
      Tables.documents(s, d).select(
        col("doc_id"),
        size(regexp_extract_all(aug, lit(emailPat), lit(0))).cast("bigint").as("n_emails"),
        size(regexp_extract_all(aug, lit(phonePat), lit(0))).cast("bigint").as("n_phones"),
        length(scrubbed).cast("bigint").as("scrubbed_len"),
        substring(scrubbed, -40, 40).as("scrubbed_tail"))
        .orderBy("doc_id")
    }, Some("""
      WITH aug AS (
        SELECT doc_id,
          text || ' contact: user' || doc_id || '@example.com or +1-555-' ||
            lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS t
        FROM documents),
      scr AS (
        SELECT doc_id,
          regexp_replace(
            regexp_replace(t, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-z]{2,}', '[EMAIL]', 'g'),
            '\+1-[0-9]{3}-[0-9]{4}', '[PHONE]', 'g') AS sc,
          CAST(len(regexp_extract_all(t, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-z]{2,}', 0)) AS BIGINT) AS n_emails,
          CAST(len(regexp_extract_all(t, '\+1-[0-9]{3}-[0-9]{4}', 0)) AS BIGINT) AS n_phones
        FROM aug)
      SELECT doc_id, n_emails, n_phones,
        CAST(length(sc) AS BIGINT) AS scrubbed_len,
        CASE WHEN length(sc) >= 40 THEN right(sc, 40) ELSE sc END AS scrubbed_tail
      FROM scr ORDER BY doc_id""")),

    // ---- BM25 retrieval scoring ([[Search.bm25Partials]]): query =
    //      distinct terms of doc 0. Scale shape: tokenize once,
    //      broadcast-semi-join down to query terms EARLY (the tf stream
    //      is docs x query-terms, not docs x vocab), df + corpus stats
    //      are tiny broadcasts ----
    ("t07_bm25", (s: SparkSession, d: String) => {
      val docs = Tables.documents(s, d)
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("doc_id"), col("text"))
      val words = docs.select(col("doc_id"),
        explode(split(trim(col("text")), " ")).as("w"))
        .filter(col("w") =!= "")
      val dl = words.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
      val qterms = words.filter(col("doc_id") === 0).select(col("w")).distinct()
      val tf = words.join(broadcast(qterms), "w")
        .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf"))
      Search.bm25Partials(Search.withDocFreq(tf, "w"), dl, "doc_id", "w")
        .groupBy(col("doc_id")).agg(sum(col("ts")).as("sdec"))
        .select(col("doc_id"), round(col("sdec").cast("double"), 6).as("bm25"))
        .filter(col("doc_id") =!= 0)
        .orderBy(desc("bm25"), col("doc_id")).limit(20)
    }, Some("""
      WITH words AS (
        SELECT doc_id, w FROM (
          SELECT doc_id, unnest(string_split(trim(text), ' ')) AS w FROM documents)
        WHERE w <> ''),
      dl AS (SELECT doc_id, count(*) AS dl FROM words GROUP BY doc_id),
      stats AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS sum_dl FROM dl),
      q AS (SELECT DISTINCT w FROM words WHERE doc_id = 0),
      tf AS (SELECT doc_id, w, count(*) AS tf
             FROM words JOIN q USING (w) GROUP BY doc_id, w),
      dfreq AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
      term AS (
        SELECT t.doc_id,
          CAST(round(
            round(ln(1.0 + (CAST(s.n_docs - f.df AS DOUBLE) + 0.5) /
                           (CAST(f.df AS DOUBLE) + 0.5)), 6) *
            ((CAST(t.tf AS DOUBLE) * 2.2) /
             (CAST(t.tf AS DOUBLE) +
              1.2 * (0.25 + 0.75 * CAST(d.dl AS DOUBLE) /
                     (CAST(s.sum_dl AS DOUBLE) / s.n_docs)))),
            10) AS DECIMAL(28,10)) AS ts
        FROM tf t JOIN dfreq f USING (w) JOIN dl d ON d.doc_id = t.doc_id, stats s)
      SELECT doc_id, round(CAST(sum(ts) AS DOUBLE), 6) AS bm25
      FROM term WHERE doc_id <> 0
      GROUP BY doc_id ORDER BY bm25 DESC, doc_id LIMIT 20""")),

    // ---- vocabulary building: global token counts + corpus share,
    //      top-100 — the tokenizer-training precursor. One partial-agg
    //      groupBy + TakeOrdered top-k; the 1-row total is a broadcast ----
    ("t08_vocab", (s: SparkSession, d: String) => {
      val words = Tables.documents(s, d)
        .repartition(s.sparkContext.defaultParallelism)
        .select(explode(split(trim(col("text")), " ")).as("w"))
        .filter(col("w") =!= "")
      val total = words.agg(count(lit(1)).as("total"))
      words.groupBy(col("w")).agg(count(lit(1)).as("n"))
        .crossJoin(broadcast(total))
        .select(col("w").as("token"), col("n"),
          round(col("n").cast("double") / col("total"), 6).as("share"))
        .orderBy(desc("n"), col("token")).limit(100)
    }, Some("""
      WITH nz AS (
        SELECT w FROM (
          SELECT unnest(string_split(trim(text), ' ')) AS w FROM documents)
        WHERE w <> ''),
      tot AS (SELECT count(*) AS total FROM nz)
      SELECT w AS token, count(*) AS n,
        round(CAST(count(*) AS DOUBLE) / (SELECT total FROM tot), 6) AS share
      FROM nz GROUP BY w
      ORDER BY n DESC, token LIMIT 100""")),

    // ---- Zipf slope of the vocabulary: OLS fit of ln(freq) on
    //      ln(rank) — natural text sits near −1; a corpus drifting
    //      toward 0 (flat) or −2 (dominated) flags template spam or
    //      vocabulary collapse, so it's a corpus-health gate next to
    //      t08's raw vocab. Per-rank terms rounded at 9 and
    //      DECIMAL-summed (dq10's no-float-total rule); slope ONE
    //      fixed-order double off the exact sums. Ranks come from
    //      zipfRankTerms' histogram election — NO vocab-sized sort or
    //      unpartitioned window anywhere (the slope only needs sums of
    //      symmetric (rank, freq) functions, which are tie-class
    //      invariant, so the oracle's per-word row_number ranks and
    //      the regenerated rank blocks DECIMAL-sum to identical bits) ----
    ("t27_zipf_slope", (s: SparkSession, d: String) => {
      val words = Tables.documents(s, d)
        .repartition(s.sparkContext.defaultParallelism)
        .select(explode(split(trim(col("text")), " ")).as("w"))
        .filter(col("w") =!= "")
        .groupBy(col("w")).agg(count(lit(1)).as("f"))
      val dec9 = (c: Column) => round(c, 9).cast(DecimalType(28, 9))
      val x = log(col("r").cast("double"))
      val y = log(col("f").cast("double"))
      zipfRankTerms(words.select(col("f")))
        .select(dec9(x).as("x"), dec9(y).as("y"))
        .agg(count(lit(1)).as("n_words"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(dec9(col("x").cast("double") * col("y").cast("double")))
            .as("sxy"),
          sum(dec9(col("x").cast("double") * col("x").cast("double")))
            .as("sxx"))
        .select(col("n_words"),
          round((col("n_words").cast("double") * col("sxy").cast("double")
              - col("sx").cast("double") * col("sy").cast("double")) /
            (col("n_words").cast("double") * col("sxx").cast("double")
              - col("sx").cast("double") * col("sx").cast("double")), 6)
            .as("zipf_slope"))
    }, Some("""
      WITH nz AS (
        SELECT w FROM (
          SELECT unnest(string_split(trim(text), ' ')) AS w FROM documents)
        WHERE w <> ''),
      fr AS (SELECT w, count(*) AS f FROM nz GROUP BY 1),
      rk AS (SELECT f, row_number() OVER (ORDER BY f DESC, w) AS r FROM fr),
      t AS (SELECT
          CAST(round(ln(CAST(r AS DOUBLE)), 9) AS DECIMAL(28,9)) AS x,
          CAST(round(ln(CAST(f AS DOUBLE)), 9) AS DECIMAL(28,9)) AS y
        FROM rk),
      a AS (SELECT count(*) AS n_words,
          sum(x) AS sx, sum(y) AS sy,
          sum(CAST(round(CAST(x AS DOUBLE) * CAST(y AS DOUBLE), 9)
              AS DECIMAL(28,9))) AS sxy,
          sum(CAST(round(CAST(x AS DOUBLE) * CAST(x AS DOUBLE), 9)
              AS DECIMAL(28,9))) AS sxx
        FROM t)
      SELECT n_words,
        round((CAST(n_words AS DOUBLE) * CAST(sxy AS DOUBLE)
            - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
          (CAST(n_words AS DOUBLE) * CAST(sxx AS DOUBLE)
            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) AS zipf_slope
      FROM a""")),

    // ---- real BPE token counting through the Tokenizer seam: the
    //      committed merge table (trained by graft.tools.TrainBpe over
    //      this corpus's word table — the t08 precursor) is applied
    //      per word via mapPartitions with one merges-load + one
    //      word-encoding memo per partition. The oracle replays the
    //      SAME merge chain in DuckDB: each symbol wrapped chr(31)s
    //      chr(30) so replace() can only match whole symbols, one
    //      nested replace per merge in rank order (left-to-right
    //      non-overlapping — exactly applyMerge's semantics) ----
    ("t09_bpe_tokens", (s: SparkSession, d: String) => {
      tokenCounts(
        Tables.documents(s, d).select(col("doc_id"), col("text"))
          .repartition(s.sparkContext.defaultParallelism),
        Bpe.Tok)
        .select(col("doc_id"), col("n_tokens").as("bpe_tokens"))
        .orderBy("doc_id")
    }, Some(bpeOracleSql)),

    // ---- Gopher/Dolma-style hard rule gate: keep/drop with the FIRST
    //      failing rule named, enabling per-rule loss accounting over
    //      a corpus. Every rule is an INTEGER comparison (sums and
    //      cross-multiplied rationals, no float thresholds) so parity
    //      with the oracle is exact at any scale. Pure codegen column
    //      map — zero shuffles, pipelines into the scan ----
    // single-file input: repartition so the CPU-bound rule maps
    // spread across cores (p01/p02 fuse gopherRules into their own
    // already-partitioned scans, so the spread lives at entry level)
    ("t10_gopher_rules", (s: SparkSession, d: String) =>
      gopherRules(Tables.documents(s, d)
        .repartition(s.sparkContext.defaultParallelism)), Some("""
      WITH f AS (SELECT doc_id, text,
                   list_filter(string_split(trim(text), ' '), w -> w <> '') AS ws
                 FROM documents),
      m AS (SELECT doc_id,
              CAST(len(ws) AS BIGINT) AS n,
              CAST(coalesce(list_sum(list_transform(ws, w -> length(w))), 0) AS BIGINT) AS sumlen,
              len(list_filter(ws, w -> w IN ('the','a','of','in','is'))) AS stopc,
              len(list_filter(ws, w -> regexp_matches(w, '[a-z]'))) AS alphac,
              length(replace(text, ' ', '')) AS nonspace,
              length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g')) AS sym
            FROM f),
      r AS (SELECT doc_id, n,
              CASE WHEN n < 10 OR n > 100000 THEN 'word_count'
                   WHEN sumlen < n * 3 OR sumlen > n * 10 THEN 'mean_word_len'
                   WHEN stopc < 2 THEN 'stopwords'
                   WHEN alphac * 5 < n * 4 THEN 'alpha_words'
                   WHEN sym * 10 > nonspace THEN 'symbol_ratio' END AS reject_reason
            FROM m)
      SELECT doc_id, n AS n_words, reject_reason IS NULL AS keep, reject_reason
      FROM r ORDER BY doc_id""")),

    // ---- word-rarity quality score: per doc, the mean and minimum
    //      CORPUS frequency of its words (the CCNet-style LM-filter
    //      signal without transcendentals: -log p would tie parity to
    //      libm rounding; exact integer frequencies + one IEEE divide
    //      round-trip identically on both engines). Scale shape: the
    //      corpus unigram table is one partial-agg groupBy; scoring
    //      re-joins it on word — both shuffles O(word occurrences) ----
    ("t11_word_rarity", (s: SparkSession, d: String) => {
      val docs = Tables.documents(s, d)
        .repartition(s.sparkContext.defaultParallelism)
      val occ = docs.select(col("doc_id"),
          explode(filter(split(trim(col("text")), " "), w => w =!= "")).as("w"))
      val freq = occ.groupBy(col("w")).agg(count(lit(1)).as("cf"))
      occ.join(freq, "w")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_words"), sum(col("cf")).as("sum_cf"),
          min(col("cf")).as("min_cf"))
        .select(col("doc_id"), col("n_words"),
          round(col("sum_cf").cast("double") / col("n_words"), 6).as("mean_word_freq"),
          col("min_cf").as("rarest_word_freq"))
        .orderBy("doc_id")
    }, Some("""
      WITH occ AS (
        SELECT doc_id, unnest(list_filter(string_split(trim(text), ' '), w -> w <> '')) AS w
        FROM documents),
      freq AS (SELECT w, count(*) AS cf FROM occ GROUP BY w)
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
        round(CAST(sum(cf) AS DOUBLE) / count(*), 6) AS mean_word_freq,
        CAST(min(cf) AS BIGINT) AS rarest_word_freq
      FROM occ JOIN freq USING (w)
      GROUP BY doc_id ORDER BY doc_id""")),

    // ---- bigram-LM surprisal (the CCNet/Wikipedia-LM perplexity
    //      filter, self-trained): add-one-smoothed bigram model
    //      trained ON the corpus — -log2 P(w2|w1) with P = (c12+1)/
    //      (c1+V) — scoring each doc by average bits/bigram. High
    //      bits = unusual word sequences (boilerplate, gibberish,
    //      wrong language); the curation gate thresholds on it. All
    //      counts integer; the ONLY float op is one division + log2
    //      per DISTINCT bigram, rounded to 9 decimals and summed as
    //      DECIMAL (order-independent, §4 rule). Two count shuffles +
    //      one doc rollup, cost ∝ corpus tokens; a held-out LM table
    //      joins into the same shape ----
    ("t19_bigram_surprisal", (s: SparkSession, d: String) => {
      val docs = Tables.documents(s, d)
        .repartition(s.sparkContext.defaultParallelism)
      val ws = filter(split(trim(col("text")), " "), w => w =!= "")
      val big = docs.select(col("doc_id"), ws.as("ws"))
        .filter(size(col("ws")) >= 2)
        .select(col("doc_id"),
          explode(transform(sequence(lit(1), size(col("ws")) - 1),
            i => struct(element_at(col("ws"), i).as("w1"),
              element_at(col("ws"), i + 1).as("w2")))).as("bg"))
        .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      val c12 = big.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
      val c1 = big.groupBy("w1").agg(count(lit(1)).as("c1"))
      val vocab = docs.select(explode(ws).as("w"))
        .agg(countDistinct(col("w")).as("v"))
      big.join(c12, Seq("w1", "w2")).join(c1, Seq("w1"))
        .crossJoin(broadcast(vocab))
        .select(col("doc_id"),
          round(log2((col("c1") + col("v")).cast("double") /
            (col("c12") + lit(1)).cast("double")), 9)
            .cast("decimal(28,9)").as("nll"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"), sum(col("nll")).as("snll"))
        .select(col("doc_id"), col("n_bigrams"),
          round(col("snll").cast("double") / col("n_bigrams"), 6)
            .as("bits_per_bigram"))
        .orderBy("doc_id")
    }, Some("""
      WITH w AS (SELECT doc_id,
                   list_filter(string_split(trim(text), ' '), x -> x <> '') AS ws
                 FROM documents),
      big AS (SELECT doc_id, ws[i] AS w1, ws[i+1] AS w2
              FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 1)) AS i
                    FROM w WHERE len(ws) >= 2) t),
      c12 AS (SELECT w1, w2, count(*) AS c12 FROM big GROUP BY 1, 2),
      c1 AS (SELECT w1, count(*) AS c1 FROM big GROUP BY 1),
      v AS (SELECT count(DISTINCT x) AS v FROM
              (SELECT unnest(ws) AS x FROM w) u),
      sc AS (SELECT b.doc_id,
               CAST(round(log2(CAST(c1.c1 + v.v AS DOUBLE) /
                 (c12.c12 + 1)), 9) AS DECIMAL(28,9)) AS nll
             FROM big b JOIN c12 USING (w1, w2) JOIN c1 USING (w1), v)
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        round(CAST(sum(nll) AS DOUBLE) / count(*), 6) AS bits_per_bigram
      FROM sc GROUP BY doc_id ORDER BY doc_id""")),

    // ---- per-language percentile gate: drop each language's bottom
    //      20% by word count (the adaptive-threshold filter; score
    //      column is pluggable). Integer threshold election over the
    //      two-phase histogram; oracle replays it exactly ----
    ("t20_percentile_gate", (s: SparkSession, d: String) => {
      val ws = filter(split(trim(col("text")), " "), w => w =!= "")
      val scored = Tables.documents(s, d)
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("doc_id"), col("lang"), size(ws).cast("bigint").as("n_words"))
      percentileGate(scored, "lang", "n_words", 0.2)
        .select(col("doc_id"), col("lang"), col("n_words"), col("thr"))
        .orderBy("doc_id")
    }, Some("""
      WITH s AS (SELECT doc_id, lang,
          CAST(len(list_filter(string_split(trim(text), ' '), t -> t <> ''))
            AS BIGINT) AS n_words
        FROM documents),
      h AS (SELECT lang, n_words, count(*) AS cnt FROM s GROUP BY 1, 2),
      c AS (SELECT lang, n_words,
              sum(cnt) OVER (PARTITION BY lang ORDER BY n_words) AS cum,
              sum(cnt) OVER (PARTITION BY lang) AS n
            FROM h),
      t AS (SELECT lang, CAST(min(n_words) AS BIGINT) AS thr
            FROM c WHERE cum >= ceil(0.2 * n) GROUP BY lang)
      SELECT s.doc_id, s.lang, s.n_words, t.thr
      FROM s JOIN t USING (lang) WHERE s.n_words >= t.thr
      ORDER BY s.doc_id""")),

    // ---- APPROX percentile gate CONTRACT (q68's pattern, per group):
    //      the continuous-score form a classifier/perplexity pipeline
    //      uses — distinct scores ≈ rows, so the threshold comes from
    //      the mergeable approx_percentile sketch whose VALUES are
    //      merge-order-dependent. The oracle therefore checks the
    //      DETERMINISTIC guarantee, not the estimate: per language,
    //      the exact rank interval [count(<thr), count(<=thr)] of the
    //      gate's own elected threshold must overlap the target rank
    //      p*n within ±n/accuracy (+1 boundary slack), and the gate
    //      must keep exactly the rows >= that threshold ----
    ("t20_percentile_gate_approx", (s: SparkSession, d: String) => {
      val p = 0.2; val acc = 1000
      // a genuinely continuous score (log-length): ties are rare, the
      // histogram degenerates, the sketch path is the right tool
      val scored = Tables.documents(s, d)
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("doc_id"), col("lang"),
          log(lit(1.0) + length(col("text"))).as("score"))
      val gated = percentileGateApprox(scored, "lang", "score", p, acc)
      // the gate's OWN per-group threshold (constant within a group)
      // rides its output — judging a recomputed sketch would race a
      // second merge order
      val keptStats = gated.groupBy(col("lang"))
        .agg(count(lit(1)).as("kept"), min(col("thr")).as("thr"))
      scored.join(broadcast(keptStats), Seq("lang"))
        .groupBy(col("lang"), col("kept"), col("thr"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("score") < col("thr"), 1L).otherwise(0L)).as("lo"),
          sum(when(col("score") <= col("thr"), 1L).otherwise(0L)).as("hi"))
        .select(col("lang"), col("n"),
          (expr(s"n div $acc") + 1L).as("rank_tol"),
          (col("hi") >= lit(p) * col("n") - (expr(s"n div $acc") + 1L) &&
            col("lo") <= lit(p) * col("n") + (expr(s"n div $acc") + 1L))
            .as("ok_rank"),
          (col("kept") === col("n") - col("lo")).as("ok_kept"))
        .orderBy("lang")
    }, Some(s"""
      SELECT lang, CAST(count(*) AS BIGINT) AS n,
        CAST(count(*) // 1000 + 1 AS BIGINT) AS rank_tol,
        true AS ok_rank, true AS ok_kept
      FROM documents GROUP BY lang ORDER BY lang""")),

    // ---- rank-based quantile bins (sampling strata / feature
    //      discretization): each doc's length decile within its
    //      language — histogram-ranked, no per-group sort window ----
    ("t22_quantile_bins", (s: SparkSession, d: String) => {
      quantileBins(Tables.documents(s, d)
          .select(col("doc_id"), col("lang"), col("n_chars")),
        "lang", "n_chars", "doc_id", 10)
        .select(col("doc_id"), col("lang"), col("n_chars"), col("bin"))
        .orderBy("doc_id")
    }, Some("""
      SELECT doc_id, lang, n_chars,
        ((CAST(r - 1 AS BIGINT) * 10) // c) + 1 AS bin
      FROM (
        SELECT doc_id, lang, n_chars,
          row_number() OVER (PARTITION BY lang
            ORDER BY n_chars, doc_id) AS r,
          count(*) OVER (PARTITION BY lang) AS c
        FROM documents)
      ORDER BY doc_id""")),

    // ---- systematic weighted sample: 40 docs, inclusion exactly ∝
    //      token count, all integer floor-div arithmetic; the oracle
    //      replays the hash walk with a single global window ----
    ("t23_weighted_sample", (s: SparkSession, d: String) => {
      val docs = Tables.documents(s, d)
      systematicWeightedSample(docs.select(col("doc_id"),
        size(filter(split(trim(col("text")), " "),
          w => w =!= "")).cast("bigint").as("w")), 40L)
        .orderBy("doc_id")
    }, Some("""
      WITH wdoc AS (SELECT doc_id,
             CAST(len(list_filter(string_split(trim(text), ' '),
                                  x -> x <> '')) AS BIGINT) AS w
           FROM documents),
      c AS (SELECT doc_id, w,
              CAST(sum(w) OVER (ORDER BY (doc_id % 1000003) * 427799 % 1000003,
                                         doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS cum
            FROM wdoc),
      t AS (SELECT CAST(sum(w) AS BIGINT) AS tw FROM wdoc)
      SELECT doc_id, w AS n_tokens,
        (cum * 40) // tw - ((cum - w) * 40) // tw AS copies, cum
      FROM c CROSS JOIN t
      WHERE (cum * 40) // tw - ((cum - w) * 40) // tw >= 1
      ORDER BY doc_id""")),

    // ---- TF-IDF keywords: top-3 characteristic words per doc,
    //      exact tf/df/N, (score desc, word) rank ----
    ("t24_tfidf_keywords", (s: SparkSession, d: String) => {
      tfidfKeywords(Tables.documents(s, d)
        .repartition(s.sparkContext.defaultParallelism), 3)
        .orderBy("doc_id", "rank")
    }, Some("""
      WITH words AS (
        SELECT doc_id, w FROM (
          SELECT doc_id, unnest(string_split(trim(text), ' ')) AS w
          FROM documents)
        WHERE w <> ''),
      tf AS (SELECT doc_id, w, count(*) AS tf FROM words GROUP BY 1, 2),
      dfreq AS (SELECT w, count(*) AS df FROM tf GROUP BY 1),
      n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM tf),
      scored AS (
        SELECT tf.doc_id, tf.w, tf.tf, f.df,
          round(CAST(tf.tf AS DOUBLE)
                * ln(CAST(n.n_docs AS DOUBLE) / CAST(f.df AS DOUBLE)), 6)
            AS score
        FROM tf JOIN dfreq f USING (w) CROSS JOIN n),
      ranked AS (
        SELECT doc_id, w, tf, df, score,
          CAST(row_number() OVER (PARTITION BY doc_id
            ORDER BY score DESC, w) AS BIGINT) AS rank
        FROM scored)
      SELECT doc_id, rank, w AS word, tf, df, score
      FROM ranked WHERE rank <= 3
      ORDER BY doc_id, rank""")),

    // ---- DSIR importance weights: avg log2 ratio of target-vs-raw
    //      hashed-unigram models (target = lang 'en'); the oracle
    //      recomputes the FNV bucket of every distinct word, both
    //      bucket models, and the decimal-summed per-doc score ----
    ("t21_dsir_weights", (s: SparkSession, d: String) =>
      dsirLogRatio(Tables.documents(s, d)
          .repartition(s.sparkContext.defaultParallelism),
        col("lang") === "en", 4096)
        .orderBy("doc_id"), Some(s"""
      WITH w AS (SELECT doc_id, lang,
             unnest(list_filter(string_split(trim(text), ' '), t -> t <> '')) AS wd
           FROM documents),
      dw AS (SELECT DISTINCT wd FROM w),
      wh AS (SELECT wd, ${OracleSql.fnvU64("wd")} AS hu FROM dw),
      occ AS (SELECT w.doc_id, w.lang = 'en' AS is_t,
               ((${OracleSql.signed("hu")} % 4096) + 4096) % 4096 AS bkt
             FROM w JOIN wh USING (wd)),
      cnt AS (SELECT bkt, count(*) AS cr,
               CAST(sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS BIGINT) AS ct
             FROM occ GROUP BY bkt),
      tot AS (SELECT CAST(sum(cr) AS BIGINT) AS nr,
                     CAST(sum(ct) AS BIGINT) AS nt FROM cnt),
      lr AS (SELECT bkt,
               CAST(round(log2((CAST(ct + 1 AS DOUBLE) * CAST(nr + 4096 AS DOUBLE)) /
                               (CAST(cr + 1 AS DOUBLE) * CAST(nt + 4096 AS DOUBLE))), 9)
                 AS DECIMAL(28,9)) AS lr
             FROM cnt, tot)
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        round(CAST(sum(lr) AS DOUBLE) / count(*), 6) AS dsir_logratio
      FROM occ JOIN lr USING (bkt)
      GROUP BY doc_id ORDER BY doc_id""")),

    // ---- Misra-Gries heavy hitters (mergeable sketch #3 next to HLL
    //      q38 / theta q62): bounded-memory frequent-token candidates.
    //      The contract the oracle checks is the DETERMINISTIC part of
    //      the sketch — every token with true count > N/(cap+1) MUST
    //      be in the candidate set, under any partitioning/merge
    //      order. The exact side (computed here only to judge the
    //      sketch) replays in SQL; if the sketch ever dropped a true
    //      heavy hitter, n_found < n_heavy would hash-mismatch ----
    ("t15_heavy_hitters", (s: SparkSession, d: String) => {
      val cap = 64
      val docs = Tables.documents(s, d)
        .repartition(s.sparkContext.defaultParallelism)
      val occ = docs.select(
        explode(filter(split(trim(col("text")), " "), w => w =!= "")).as("w"))
      val sk = occ.agg(graft.functions.mgSketch(col("w"), cap).as("cands"))
      val tot = occ.agg(count(lit(1)).as("n"))
      val counts = occ.groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      val flags = counts.crossJoin(broadcast(tot))
        .filter(col("cnt") * (cap + 1) > col("n"))
        .crossJoin(broadcast(sk))
        .agg(count(lit(1)).as("n_heavy"),
          coalesce(sum(array_contains(col("cands"), col("w")).cast("long")),
            lit(0L)).as("n_found"))
      flags.crossJoin(broadcast(tot))
        .select(col("n").as("n_tokens"), col("n_heavy"), col("n_found"),
          (col("n_heavy") === col("n_found")).as("all_ok"))
        .orderBy("n_tokens").limit(1) // single row; explicit determinism
    }, Some("""
      WITH occ AS (
        SELECT unnest(list_filter(string_split(trim(text), ' '), w -> w <> '')) AS w
        FROM documents),
      tot AS (SELECT count(*) AS n FROM occ),
      ex AS (SELECT w, count(*) AS cnt FROM occ GROUP BY w),
      heavy AS (SELECT w FROM ex, tot WHERE cnt * 65 > n)
      SELECT (SELECT n FROM tot) AS n_tokens,
        (SELECT count(*) FROM heavy) AS n_heavy,
        (SELECT count(*) FROM heavy) AS n_found,
        true AS all_ok""")),

    // ---- sliding-window chunking with overlap (RAG / context-window
    //      prep): fixed 32-word chunks every 24 words (8-word overlap
    //      carries boundary context between neighbors). One generator
    //      over codegen'd sequence/slice/array_join — rows widen by
    //      ~n_words/stride but stay (doc_id, chunk) shaped, zero
    //      shuffles before the output sort; at 100 TB this pipelines
    //      into the scan like every other t-op. chunk_id restarts per
    //      doc, so (doc_id, chunk_id) is the stable chunk key
    //      downstream ops join on ----
    ("t16_chunk_overlap", (s: SparkSession, d: String) =>
      chunkOverlap(Tables.documents(s, d)
        .repartition(s.sparkContext.defaultParallelism))
        .orderBy("doc_id", "chunk_id"), Some("""
      WITH w AS (SELECT doc_id, string_split(trim(text), ' ') AS ws FROM documents),
      st AS (SELECT doc_id, ws,
               unnest(generate_series(0, greatest(len(ws) - 1, 0), 24)) AS st
             FROM w)
      SELECT doc_id, CAST(st // 24 AS BIGINT) AS chunk_id,
        array_to_string(list_slice(ws, st + 1, st + 32), ' ') AS chunk_text,
        CAST(least(len(ws) - st, 32) AS BIGINT) AS n_chunk_words
      FROM st ORDER BY doc_id, chunk_id""")),

    // ---- TOKEN-budget chunking: t16's chunker × t09's BPE tokenizer.
    //      Chunks hold whole words whose BPE-token total fits the
    //      64-token budget with <=16 tokens of trailing overlap — the
    //      budget the consumer model actually has. One mapPartitions
    //      pass, zero shuffles; greedy-maximal fold replayed by the
    //      oracle as a recursive CTE over per-doc token prefix sums ----
    ("t17_chunk_tokens", (s: SparkSession, d: String) =>
      chunkByTokens(Tables.documents(s, d).select(col("doc_id"), col("text"))
        .repartition(s.sparkContext.defaultParallelism), 64, 16)
        .orderBy("doc_id", "chunk_id"), Some(chunkTokensOracleSql(64, 16))),

    // ---- EMBEDDER seam: text → embedding through the per-partition
    //      open() inference seam (the reference HashedBowEmbedder
    //      kernel — signed FNV-hashed word counts, L2-normalized,
    //      narrowed to float). The entry explodes the vectors to
    //      (doc_id, pos, val) rows; the oracle replays the kernel via
    //      fnvU64 — hash → dim/sign → counts → sqrt-norm → FLOAT cast,
    //      every step integer or one IEEE op on both engines ----
    ("e01_embed_text", (s: SparkSession, d: String) =>
      embedDocuments(Tables.documents(s, d)
        .repartition(s.sparkContext.defaultParallelism))
        .select(col("doc_id"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .select(col("doc_id"), col("pos").cast("int").as("pos"),
          round(col("v").cast("double"), 6).as("val"))
        .orderBy("doc_id", "pos"), Some(embedOracleSql(64))),

    // ---- END-TO-END text → embed → search: the e01 embedder output
    //      fed straight into the s12 batch exact-search shape, making
    //      retrieval-over-raw-text one graft-native chain with no
    //      pre-computed embeddings table. Zero-norm vectors are
    //      filtered on both sides (cosine undefined). The oracle
    //      replays the FULL chain — fnvU64 word hashing, signed
    //      counts, L2 norm, FLOAT narrowing, then in-order cosine and
    //      the per-query window ----
    ("e02_embed_search", (s: SparkSession, d: String) => {
      val emb = embedDocuments(Tables.documents(s, d)
          .repartition(s.sparkContext.defaultParallelism))
        .filter(graft.functions.vectorNorm(col("embedding")) > 0)
        .select(col("doc_id").as("vec_id"), col("embedding"))
      val qs = emb.filter(col("vec_id") < 2)
        .select(col("vec_id").as("query_id"), col("embedding"))
      Similarity.cosineTopKBatch(emb, qs, 10, excludeSelf = true)
        .orderBy(col("query_id"), desc("cos"), col("vec_id"))
    }, Some(embedSearchOracleSql(64, 2, 10))),

    // ---- fastText-style quality classifier (CCNet / DCLM): sigmoid
    //      linear head over the e01 embedding, keep = logit >= 0.
    //      The oracle replays embedding, dyadic weight ramp, in-order
    //      dot (bit-exact) and the sigmoid ----
    ("t18_quality_classifier", (s: SparkSession, d: String) =>
      qualityScore(embedDocuments(Tables.documents(s, d)
          .repartition(s.sparkContext.defaultParallelism)),
          classifierWeights(64))
        .orderBy("doc_id"), Some(classifierOracleSql(64))),

    // ---- stratified sample with EXACT largest-remainder allocation:
    //      60 docs split across languages exactly ∝ stratum size
    //      (floors + the largest fractional remainders get the
    //      leftovers — Σ alloc = 60 exactly, all integer arithmetic),
    //      members picked by deterministic hash order. The per-stratum
    //      rank is bucket-parallel (t23's offset trick), never one
    //      serial window per language ----
    ("t26_stratified_sample", (s: SparkSession, d: String) => {
      stratifiedSample(Tables.documents(s, d), 60L)
        .orderBy("stratum", "rn")
    }, Some("""
      WITH h AS (SELECT doc_id, lang,
             ((doc_id % 1000003) * 427799) % 1000003 AS h
           FROM documents),
      sz AS (SELECT lang, count(*) AS n FROM h GROUP BY 1),
      tot AS (SELECT sum(n) AS nn FROM sz),
      al AS (SELECT lang, n, (60 * n) // nn AS fl, (60 * n) % nn AS r
             FROM sz, tot),
      lo AS (SELECT 60 - sum(fl) AS rr FROM al),
      bump AS (SELECT lang, fl,
                 row_number() OVER (ORDER BY r DESC, lang) AS rk
               FROM al),
      alloc AS (SELECT lang, fl + CASE WHEN rk <= (SELECT rr FROM lo)
                  THEN 1 ELSE 0 END AS alloc
                FROM bump),
      rn AS (SELECT doc_id, lang,
               row_number() OVER (PARTITION BY lang
                 ORDER BY h, doc_id) AS rn
             FROM h)
      SELECT doc_id, lang AS stratum, CAST(rn AS BIGINT) AS rn
      FROM rn JOIN alloc USING (lang)
      WHERE rn <= alloc
      ORDER BY stratum, rn""")))

  /** e01's oracle: the HashedBowEmbedder kernel as SQL — per-word
    * FNV-1a-64 (OracleSql.fnvU64, bit-exact vs the JVM fold on the
    * ASCII gate corpus), unsigned mod/div for dimension and sign,
    * BIGINT count accumulation, integer sum-of-squares under the
    * sqrt, and the same DOUBLE→FLOAT narrowing the seam performs. */
  private def embedOracleSql(dim: Int): String = s"""
      WITH wr AS (SELECT doc_id,
             unnest(list_filter(string_split(trim(text), ' '), x -> x <> '')) AS w
           FROM documents),
      hh AS (SELECT doc_id, ${OracleSql.fnvU64("w")} AS h FROM wr),
      cc AS (SELECT doc_id, CAST(h % $dim AS INT) AS i,
               CASE WHEN (h // $dim) % 2 = 0 THEN 1 ELSE -1 END AS sgn
             FROM hh),
      acc AS (SELECT doc_id, i, CAST(sum(sgn) AS BIGINT) AS v
              FROM cc GROUP BY doc_id, i),
      grid AS (SELECT d.doc_id, r.range AS i
               FROM (SELECT DISTINCT doc_id FROM documents) d, range($dim) r),
      fullv AS (SELECT g.doc_id, g.i, coalesce(a.v, 0) AS v
                FROM grid g LEFT JOIN acc a ON a.doc_id = g.doc_id AND a.i = g.i),
      nrm AS (SELECT doc_id, sqrt(CAST(sum(v * v) AS DOUBLE)) AS n
              FROM fullv GROUP BY doc_id)
      SELECT f.doc_id, CAST(f.i AS INT) AS pos,
        round(CAST(CAST(CASE WHEN n.n = 0 THEN 0 ELSE f.v / n.n END AS FLOAT) AS DOUBLE), 6) AS val
      FROM fullv f JOIN nrm n USING (doc_id)
      ORDER BY f.doc_id, pos"""

  /** e02's oracle: the e01 embedding chain (same CTEs) continued into
    * the s12 batch-search shape — FLOAT vectors per doc, queries =
    * docs 0..nq-1, in-order double cosine (list_sum ORDER BY i, the
    * s13 pattern matching the kernel's index-order accumulation),
    * per-query top-k window. */
  private def embedSearchOracleSql(dim: Int, nq: Int, topK: Int): String = s"""
      WITH wr AS (SELECT doc_id,
             unnest(list_filter(string_split(trim(text), ' '), x -> x <> '')) AS w
           FROM documents),
      hh AS (SELECT doc_id, ${OracleSql.fnvU64("w")} AS h FROM wr),
      cc AS (SELECT doc_id, CAST(h % $dim AS INT) AS i,
               CASE WHEN (h // $dim) % 2 = 0 THEN 1 ELSE -1 END AS sgn
             FROM hh),
      acc AS (SELECT doc_id, i, CAST(sum(sgn) AS BIGINT) AS v
              FROM cc GROUP BY doc_id, i),
      grid AS (SELECT d.doc_id, r.range AS i
               FROM (SELECT DISTINCT doc_id FROM documents) d, range($dim) r),
      fullv AS (SELECT g.doc_id, g.i, coalesce(a.v, 0) AS v
                FROM grid g LEFT JOIN acc a ON a.doc_id = g.doc_id AND a.i = g.i),
      nrm AS (SELECT doc_id, sqrt(CAST(sum(v * v) AS DOUBLE)) AS n
              FROM fullv GROUP BY doc_id),
      femb AS (SELECT f.doc_id, f.i, CAST(f.v / n.n AS FLOAT) AS fv
               FROM fullv f JOIN nrm n USING (doc_id) WHERE n.n > 0),
      q AS (SELECT doc_id AS query_id, i, fv AS qv FROM femb WHERE doc_id < $nq),
      z AS (SELECT q.query_id, e.doc_id AS vec_id, e.i, e.fv AS a, q.qv AS b
            FROM femb e JOIN q USING (i)),
      sums AS (SELECT query_id, vec_id,
                 list_sum(list(CAST(a AS DOUBLE) * CAST(b AS DOUBLE) ORDER BY i)) AS dot,
                 list_sum(list(CAST(a AS DOUBLE) * CAST(a AS DOUBLE) ORDER BY i)) AS na,
                 list_sum(list(CAST(b AS DOUBLE) * CAST(b AS DOUBLE) ORDER BY i)) AS nb
               FROM z WHERE vec_id <> query_id
               GROUP BY query_id, vec_id)
      SELECT query_id, vec_id, cos FROM (
        SELECT query_id, vec_id,
          round(dot / (sqrt(na) * sqrt(nb)), 6) AS cos,
          row_number() OVER (PARTITION BY query_id
                             ORDER BY round(dot / (sqrt(na) * sqrt(nb)), 6) DESC,
                                      vec_id) AS rn
        FROM sums) t
      WHERE rn <= $topK
      ORDER BY query_id, cos DESC, vec_id"""

  /** t18's oracle: e01 embedding chain → dyadic weight ramp
    * ((i*2654435761) % 1024 / 1024 - 0.5) → in-order dot → sigmoid.
    * Zero-norm docs keep their all-zero vector (dot 0, score 0.5,
    * keep true) exactly as the Spark side computes. */
  private def classifierOracleSql(dim: Int): String = s"""
      WITH wr AS (SELECT doc_id,
             unnest(list_filter(string_split(trim(text), ' '), x -> x <> '')) AS w
           FROM documents),
      hh AS (SELECT doc_id, ${OracleSql.fnvU64("w")} AS h FROM wr),
      cc AS (SELECT doc_id, CAST(h % $dim AS INT) AS i,
               CASE WHEN (h // $dim) % 2 = 0 THEN 1 ELSE -1 END AS sgn
             FROM hh),
      acc AS (SELECT doc_id, i, CAST(sum(sgn) AS BIGINT) AS v
              FROM cc GROUP BY doc_id, i),
      grid AS (SELECT d.doc_id, r.range AS i
               FROM (SELECT DISTINCT doc_id FROM documents) d, range($dim) r),
      fullv AS (SELECT g.doc_id, g.i, coalesce(a.v, 0) AS v
                FROM grid g LEFT JOIN acc a ON a.doc_id = g.doc_id AND a.i = g.i),
      nrm AS (SELECT doc_id, sqrt(CAST(sum(v * v) AS DOUBLE)) AS n
              FROM fullv GROUP BY doc_id),
      femb AS (SELECT f.doc_id, f.i,
                 CAST(CASE WHEN n.n = 0 THEN 0 ELSE f.v / n.n END AS FLOAT) AS fv
               FROM fullv f JOIN nrm n USING (doc_id)),
      wt AS (SELECT range AS i,
               CAST((range * 2654435761) % 1024 AS DOUBLE) / 1024.0 - 0.5 AS w
             FROM range($dim)),
      dots AS (SELECT doc_id,
                 list_sum(list(CAST(fv AS DOUBLE) * w ORDER BY i)) AS dot
               FROM femb JOIN wt USING (i) GROUP BY doc_id)
      SELECT doc_id, round(1.0 / (1.0 + exp(-dot)), 6) AS score,
        dot >= 0 AS keep
      FROM dots ORDER BY doc_id"""

  /** DuckDB replay of the committed BPE merge table (see the t09
    * entry): marker-wrap every codepoint, fold one replace() per merge
    * in rank order, count tokens as split-parts minus one. Generated
    * from the same resource the JVM tokenizer loads, so the two sides
    * cannot drift.
    */
  /** DuckDB expression counting BPE tokens of the word held in `v` —
    * marker-wrap every codepoint, fold one replace() per merge in
    * rank order, count tokens as split-parts minus one. Generated
    * from the same resource the JVM tokenizer loads, so the two
    * sides cannot drift. */
  private def bpeTokenCountExpr(v: String): String = {
    def sym(x: String) = s"chr(31)||'${x.replace("'", "''")}'||chr(30)"
    val marked =
      s"array_to_string(list_transform(regexp_split_to_array($v,''), c -> chr(31)||c||chr(30)), '')"
    val chain = Bpe.loadMerges().foldLeft(marked) { case (acc, (a, b)) =>
      s"replace($acc, ${sym(a)}||${sym(b)}, ${sym(a + b)})"
    }
    s"(len(string_split($chain, chr(30))) - 1)"
  }

  private def bpeOracleSql: String = s"""
      SELECT doc_id,
        CAST(coalesce(list_sum(list_transform(
          list_filter(string_split(text, ' '), w -> w <> ''),
          w -> ${bpeTokenCountExpr("w")})), 0) AS BIGINT) AS bpe_tokens
      FROM documents ORDER BY doc_id"""

  /** t17's oracle: per-word BPE costs (same generated merge chain as
    * t09), window cumsum → per-doc prefix-sum list, then the greedy
    * chunk fold replayed as a recursive CTE — E(b) (the maximal chunk
    * end) via a monotone prefix count over the sums, the next start
    * via the minimal suffix within the overlap budget. */
  private def chunkTokensOracleSql(maxT: Int, ovl: Int): String = {
    // E(b) = b - 1 + max(1, #{e in [b,n] : S[e+1] - S[b] <= maxT})
    val eExpr = s"b - 1 + greatest(1, len(list_filter(" +
      s"list_slice(s, b + 1, n + 1), x -> x - s[b] <= $maxT)))"
    s"""
      WITH RECURSIVE
      w0 AS (SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS ws
             FROM documents),
      wp AS (SELECT doc_id, unnest(ws) AS w,
               unnest(generate_series(1, len(ws))) AS ord
             FROM w0 WHERE len(ws) > 0),
      cost AS (SELECT doc_id, ord,
                 CAST(${bpeTokenCountExpr("w")} AS BIGINT) AS c FROM wp),
      pre AS (SELECT doc_id, ord,
                sum(c) OVER (PARTITION BY doc_id ORDER BY ord) AS sv FROM cost),
      sl AS (SELECT doc_id, list_prepend(CAST(0 AS BIGINT), list(sv ORDER BY ord)) AS s,
               count(*) AS n
             FROM pre GROUP BY doc_id),
      base AS (SELECT w0.doc_id, w0.ws, sl.s, sl.n FROM w0 JOIN sl USING (doc_id)),
      r AS (
        SELECT doc_id, ws, s, n, 0 AS chunk_id, CAST(1 AS BIGINT) AS b FROM base
        UNION ALL
        SELECT doc_id, ws, s, n, chunk_id + 1,
          e + 2 - len(list_filter(list_slice(s, b + 1, e + 1), x -> s[e + 1] - x <= $ovl))
        FROM (SELECT *, $eExpr AS e FROM r)
        WHERE e < n)
      SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
        CAST(b AS BIGINT) AS start_word,
        array_to_string(list_slice(ws, b, e), ' ') AS chunk_text,
        CAST(e - b + 1 AS BIGINT) AS n_chunk_words,
        CAST(s[e + 1] - s[b] AS BIGINT) AS n_chunk_tokens
      FROM (SELECT *, $eExpr AS e FROM r)
      ORDER BY doc_id, chunk_id"""
  }
}
