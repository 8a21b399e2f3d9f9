package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.{BucketedStore, Tables}

/** Retrieval over an inverted index: positional postings, boolean
  * conjunctive search, exact phrase search, and the one BM25 scorer
  * ([[bm25Partials]]) every ranked path scores through. A curation
  * pipeline uses the exact-match modes for contamination audits
  * ("which documents contain this benchmark sentence verbatim?")
  * where ranked retrieval is the wrong tool.
  *
  * Reference anchor: keenwa's relational surface (logical/mod.rs) —
  * postings are a plain (word, doc, pos) relation and both query
  * modes are join+aggregate plans over it; no bespoke runtime.
  *
  * SCALE: the postings build is one generator pass (posexplode) —
  * cost ∝ tokens, no shuffle until a consumer asks for one.
  * [[writePostingsStore]] lands them bucketed+sorted by word (the
  * signature-store discipline): term lookups then prune to the
  * buckets holding the query terms (Spark bucket pruning on word
  * equality/IN — spec-asserted SelectedBucketsCount), so query cost
  * tracks posting-list length, never corpus size. Conjunctive search
  * is one term-filtered distinct + doc-keyed count (candidate-sized
  * exchanges only). Phrase search is the anchor trick: term i at
  * position p votes for anchor p−i; a full occurrence is an anchor
  * with all |phrase| distinct i's — ONE broadcast join + ONE
  * (doc, anchor) groupBy regardless of phrase length (no per-word
  * self-join chain).
  */
object Search {
  type QFn = (SparkSession, String) => DataFrame

  /** Positional postings (word, doc_id, pos). Positions index the
    * raw whitespace split of the trimmed text (empty tokens from
    * repeated separators are dropped AFTER numbering, so positions
    * are stable under them and adjacency means "adjacent in the raw
    * token stream").
    */
  def postings(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        posexplode(split(trim(col(textCol)), " ")).as(Seq("pos", "word")))
      .filter(col("word") =!= "")
      .select(col("word"), col("doc_id"), col("pos").cast("long").as("pos"))

  /** Token count of the raw text — MUST equal the postings row count
    * of the doc (same split + empty-token drop), so tf/dl come from
    * one consistent tokenization. Column-local, no extra pass.
    */
  private def docLen =
    size(filter(split(trim(col("text")), " "),
      w => w =!= "")).cast("bigint").as("dl")

  /** Postings landed bucketed+sorted by word (an external
    * [[BucketedStore]] table at `path`): bucket pruning makes a term
    * lookup read only the buckets its words hash to, and the in-bucket
    * (word, doc_id, pos) sort keeps a word's posting list contiguous.
    * One bucket-aligned shuffle at build time, paid once, amortized
    * over every query.
    */
  def writePostingsStore(docs: DataFrame, path: String, table: String,
      nBuckets: Int = 16): Unit = {
    val spark = docs.sparkSession
    BucketedStore.create(postings(docs), table, nBuckets, "word",
      Seq("word", "doc_id", "pos"), Some(path))
    // the store's doc registry (doc_id, dl), bucketed by doc_id:
    // appends anti-join against it with zero store-side exchange (the
    // postings table buckets on WORD, so it cannot answer "is this
    // doc already indexed" without a full scan — the registry can),
    // and dl (token count, computed from the text column so a
    // zero-token doc still registers) is the document-length sidecar
    // ranked retrieval needs without a corpus-wide postings groupBy
    BucketedStore.create(docs.select(col("doc_id"), docLen),
      s"${table}_docs", nBuckets, "doc_id")
    // a full rebuild is a NEW store generation: prior tombstones
    // applied to content this build no longer carries
    spark.sql(s"DROP TABLE IF EXISTS ${table}_tombstones")
  }

  /** The store's postings minus tombstoned docs — every query over a
    * maintained store reads through here ([[BucketedStore.read]]:
    * refreshed, broadcast anti-join under the tombstone byte ceiling,
    * shuffle-hash beyond it, untouched plan when nothing was ever
    * deleted). Bucket pruning on word predicates survives the
    * anti-join (the filter sits above the pruned scan).
    */
  def readPostings(spark: SparkSession, table: String): DataFrame =
    BucketedStore.read(spark, table, table)

  /** Append new documents' postings — the maintenance half of the
    * production loop (crawl batch lands → postings appended → the
    * next contamination audit sees them). Each append writes at most
    * one file per bucket: reads stay bucketed (per-bucket sort, never
    * a shuffle); compact on cadence. Replay-safe
    * ([[BucketedStore.unseen]] against the registry): docs it already
    * holds are skipped, and tombstoned ids stay dead.
    */
  def appendToPostingsStore(batch: DataFrame, table: String): Unit = {
    val fresh = BucketedStore.unseen(batch.sparkSession, batch, s"${table}_docs", table)
    BucketedStore.append(postings(fresh), table)
    BucketedStore.append(fresh.select(col("doc_id"), docLen), s"${table}_docs")
  }

  /** THE BM25 scorer (Okapi, k1 = 1.2, b = 0.75, Lucene's
    * non-negative idf) — t07, p03, p04, [[bm25Rank]] and
    * [[rankedSearch]] supply only their inputs and their ranking.
    * `tf` is (key, term, tf, df) — df attached by [[withDocFreq]] or
    * counted over a scan already partitioned by term; `dl` is
    * (key, dl), whose one-row aggregate gives N and avgdl (broadcast).
    * Returns the per-(key, term) partials `ts`: idf rounded to 6
    * places after ln (kills the last-ulp libm divergence between
    * engines), term scores to 10, as decimal(28,10) so a caller's sum
    * is addition-order-independent.
    */
  private[operators] def bm25Partials(tf: DataFrame, dl: DataFrame,
      key: String, term: String): DataFrame = {
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
    val avgdl = col("sum_dl").cast("double") / col("n_docs")
    val idf = round(log(lit(1.0) +
      ((col("n_docs") - col("df")).cast("double") + lit(0.5)) /
        (col("df").cast("double") + lit(0.5))), 6)
    val tfFac = (col("tf").cast("double") * lit(2.2)) /
      (col("tf").cast("double") +
        lit(1.2) * (lit(0.25) + lit(0.75) * col("dl").cast("double") / avgdl))
    tf.join(dl.select(col(key), col("dl")), key).crossJoin(broadcast(stats))
      .select(col(key), col(term),
        round(idf * tfFac, 10).cast("decimal(28,10)").as("ts"))
  }

  /** `tf` with each term's document frequency `df`: a
    * partial-aggregable groupBy(term), broadcast back. */
  private[operators] def withDocFreq(tf: DataFrame, term: String): DataFrame =
    tf.join(broadcast(tf.groupBy(col(term)).agg(count(lit(1)).as("df"))), term)

  /** BM25 top-k over a postings relation: the documents matching ANY
    * of `terms`, by summed term score rounded to 6 (§4 money rule).
    * tf and df come from the TERM-FILTERED postings, N/avgdl from the
    * (doc_id, dl) relation; every exchange after the term filter is
    * candidate-sized, then a k-row TakeOrdered.
    */
  def bm25Rank(postings: DataFrame, doclens: DataFrame,
      terms: Seq[String], k: Int): DataFrame =
    rank(postings, doclens, terms, k, withDocFreq(_, "word"))

  /** Ranked retrieval SERVED FROM the maintained store: the postings
    * side bucket-prunes to the query terms' buckets, the registry
    * supplies dl (and N/avgdl), and both read through the tombstone
    * filter — so append/delete/compact all reflect in the ranking
    * with no rebuild. The store buckets on word, so df is a per-word
    * count over the scan's own partitioning: no exchange, and the
    * postings are read once. Query cost ∝ the query terms' posting
    * lists + one slim registry pass, never corpus postings size.
    */
  def rankedSearch(spark: SparkSession, table: String,
      terms: Seq[String], k: Int): DataFrame =
    rank(readPostings(spark, table),
      BucketedStore.read(spark, s"${table}_docs", table), terms, k,
      _.withColumn("df", count(lit(1)).over(Window.partitionBy(col("word")))))

  private def rank(postings: DataFrame, doclens: DataFrame,
      terms: Seq[String], k: Int, docFreq: DataFrame => DataFrame): DataFrame = {
    require(terms.nonEmpty && k >= 1, "need terms and k >= 1")
    val tf = postings.filter(col("word").isin(terms: _*))
      .groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("tf"))
    bm25Partials(docFreq(tf), doclens, "doc_id", "word")
      .groupBy(col("doc_id")).agg(sum(col("ts")).as("sdec"))
      .select(col("doc_id"), round(col("sdec").cast("double"), 6).as("bm25"))
      .orderBy(desc("bm25"), col("doc_id")).limit(k)
  }

  /** RETIRE documents (takedown / TTL): the shared lazy tombstones —
    * reads filter ([[readPostings]]), [[compactPostingsStore]] drops
    * the rows physically, the tombstone table survives as a
    * suppression list.
    */
  def deleteFromPostingsStore(spark: SparkSession, table: String,
      ids: DataFrame): Unit =
    BucketedStore.delete(spark, table, ids)

  private def postingsTables(table: String) = Seq(table, s"${table}_docs")

  /** Compact back to ONE sorted file per bucket (postings and
    * registry), dropping tombstoned rows physically —
    * [[BucketedStore.compact]]: the catalog entries and the postings'
    * build path stay the store's identity.
    */
  def compactPostingsStore(spark: SparkSession, table: String): Unit =
    postingsTables(table).foreach(BucketedStore.compact(spark, _, table))

  /** Self-triggering compaction cadence ([[BucketedStore.maybeCompact]]):
    * compact when either store table's deepest bucket exceeds
    * `maxFilesPerBucket` files (the appends since the last compact).
    * Returns whether it compacted.
    */
  def maybeCompactPostingsStore(spark: SparkSession, table: String,
      maxFilesPerBucket: Int): Boolean =
    BucketedStore.maybeCompact(spark, postingsTables(table), maxFilesPerBucket)(
      compactPostingsStore(spark, table))

  /** Documents containing ALL of `terms` (boolean AND). Term filter
    * is a map-only IN-list over the scan (bucket-pruned on a stored
    * index), then one (word, doc) distinct + doc-keyed count — both
    * exchanges bounded by matched postings.
    */
  def conjunctiveSearch(postings: DataFrame, terms: Seq[String]): DataFrame =
    postings.filter(col("word").isin(terms: _*))
      .select(col("word"), col("doc_id")).distinct()
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_terms"))
      .filter(col("n_terms") === terms.length.toLong)
      .select(col("doc_id"))

  /** Exact phrase occurrence counts: (doc_id, n_hits) for documents
    * containing `phrase` as consecutive tokens, n_hits ≥ 1. The
    * anchor trick handles repeated words in the phrase correctly
    * (one posting row can vote for several term slots — the
    * (doc, anchor) group still needs all |phrase| DISTINCT slots).
    */
  def phraseSearch(postings: DataFrame, phrase: Seq[String]): DataFrame =
    phraseSearchMulti(postings, Seq(phrase)).drop("phrase")

  /** The anchor trick for a WHOLE phrase list in ONE postings pass:
    * the (phrase, slot, word) table broadcasts, every posting votes
    * for (phrase, anchor) pairs, and a (doc, phrase, anchor) group
    * holding all |phrase| slots is an occurrence. Cost ∝ postings of
    * phrase words × phrases sharing them — a K-phrase contamination
    * audit never rescans the corpus per phrase. Output:
    * (doc_id, phrase, n_hits ≥ 1).
    */
  def phraseSearchMulti(postings: DataFrame,
      phrases: Seq[Seq[String]]): DataFrame = {
    require(phrases.nonEmpty && phrases.forall(_.nonEmpty), "empty phrase")
    val spark = postings.sparkSession
    import spark.implicits._
    val ph = phrases.flatMap { p =>
      p.zipWithIndex.map { case (w, i) => (p.mkString(" "), i.toLong, w) }
    }.toDF("phrase", "i", "word")
    val lens = phrases.map(p => (p.mkString(" "), p.length.toLong))
      .toDF("phrase", "len")
    postings.join(broadcast(ph), Seq("word"))
      .select(col("doc_id"), col("phrase"),
        (col("pos") - col("i")).as("anchor"), col("i"))
      .groupBy(col("doc_id"), col("phrase"), col("anchor"))
      .agg(countDistinct(col("i")).as("n_slots"))
      .join(broadcast(lens), Seq("phrase"))
      .filter(col("n_slots") === col("len"))
      .groupBy(col("doc_id"), col("phrase")).agg(count(lit(1)).as("n_hits"))
  }

  /** Shared oracle tokenizer: positions zip via parallel unnest. */
  private val wordsSql = """
    t AS (SELECT doc_id, string_split(trim(text), ' ') AS ws
          FROM documents),
    words AS (SELECT doc_id, w AS word, o AS pos FROM (
      SELECT doc_id, unnest(ws) AS w,
             unnest(generate_series(0, len(ws) - 1)) AS o FROM t)
      WHERE w <> '')"""

  val entries: Seq[(String, QFn, Option[String])] = Seq(
    // ---- boolean AND over the postings: contamination-audit shape
    //      ("every doc mentioning all three") ----
    ("ix01_conjunctive_search", (s: SparkSession, d: String) => {
      conjunctiveSearch(postings(Tables.documents(s, d)),
        Seq("spark", "window", "merge"))
        .orderBy("doc_id")
    }, Some(s"""
      WITH $wordsSql
      SELECT doc_id FROM words
      WHERE word IN ('spark', 'window', 'merge')
      GROUP BY doc_id HAVING count(DISTINCT word) = 3
      ORDER BY doc_id""")),

    // ---- exact phrase counts via the anchor trick: one join + one
    //      groupBy for any phrase length ----
    ("ix02_phrase_search", (s: SparkSession, d: String) => {
      phraseSearch(postings(Tables.documents(s, d)),
        Seq("slow", "hash", "batch"))
        .orderBy("doc_id")
    }, Some(s"""
      WITH $wordsSql,
      ph(i, word) AS (VALUES (0, 'slow'), (1, 'hash'), (2, 'batch')),
      anchors AS (
        SELECT w.doc_id, w.pos - ph.i AS anchor,
               count(DISTINCT ph.i) AS n_slots
        FROM words w JOIN ph ON ph.word = w.word
        GROUP BY 1, 2 HAVING count(DISTINCT ph.i) = 3)
      SELECT doc_id, count(*) AS n_hits FROM anchors
      GROUP BY doc_id ORDER BY doc_id""")),

    // ---- ranked retrieval: BM25 top-k over the postings relation —
    //      the serving path of the stored index (rankedSearch reads
    //      the same scorer through bucket pruning + tombstones) ----
    ("ix04_ranked_search", (s: SparkSession, d: String) => {
      val docs = Tables.documents(s, d)
      bm25Rank(postings(docs),
        docs.select(col("doc_id"), docLen),
        Seq("spark", "merge", "fast"), 15)
    }, Some(s"""
      WITH t AS (SELECT doc_id,
             list_filter(string_split(trim(text), ' '), w -> w <> '') AS ws
           FROM documents),
      dl AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS dl FROM t),
      stats AS (SELECT count(*) AS n_docs,
                       CAST(sum(dl) AS BIGINT) AS sum_dl FROM dl),
      words AS (SELECT doc_id, unnest(ws) AS word FROM t),
      tf AS (SELECT doc_id, word, count(*) AS tf FROM words
             WHERE word IN ('spark', 'merge', 'fast') GROUP BY 1, 2),
      dfreq AS (SELECT word, count(*) AS df FROM tf GROUP BY 1),
      term AS (SELECT tf.doc_id,
        CAST(round(
          round(ln(1.0 + (CAST(s.n_docs - f.df AS DOUBLE) + 0.5)
                         / (CAST(f.df AS DOUBLE) + 0.5)), 6)
          * (CAST(tf.tf AS DOUBLE) * 2.2)
          / (CAST(tf.tf AS DOUBLE)
             + 1.2 * (0.25 + 0.75 * CAST(d.dl AS DOUBLE)
                             / (CAST(s.sum_dl AS DOUBLE) / s.n_docs))),
          10) AS DECIMAL(28,10)) AS ts
        FROM tf JOIN dfreq f USING (word)
        JOIN dl d ON d.doc_id = tf.doc_id CROSS JOIN stats s)
      SELECT doc_id, round(CAST(sum(ts) AS DOUBLE), 6) AS bm25
      FROM term GROUP BY doc_id
      ORDER BY bm25 DESC, doc_id LIMIT 15""")),

    // ---- contamination audit: K benchmark phrases screened against
    //      the corpus in ONE postings pass, reported per source — the
    //      verbatim-leak report a training pipeline publishes ----
    ("ix03_contamination_audit", (s: SparkSession, d: String) => {
      val docs = Tables.documents(s, d)
      val phrases = Seq("slow hash batch", "table hash", "window fast query")
      phraseSearchMulti(postings(docs), phrases.map(_.split(" ").toSeq))
        .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
        .groupBy(col("phrase"), col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_hits")).as("n_hits"))
        .orderBy("phrase", "source")
    }, Some {
      val phrases = Seq("slow hash batch", "table hash", "window fast query")
      val phRows = phrases.flatMap(p => p.split(" ").zipWithIndex.map {
        case (w, i) => s"('$p', $i, '$w')" }).mkString(", ")
      s"""
      WITH $wordsSql,
      ph(phrase, i, word) AS (VALUES $phRows),
      plen AS (SELECT phrase, count(*) AS len FROM ph GROUP BY 1),
      anchors AS (
        SELECT w.doc_id, ph.phrase, w.pos - ph.i AS anchor,
               count(DISTINCT ph.i) AS n_slots
        FROM words w JOIN ph ON ph.word = w.word
        GROUP BY 1, 2, 3),
      hits AS (
        SELECT a.doc_id, a.phrase, count(*) AS n_hits
        FROM anchors a JOIN plen USING (phrase)
        WHERE a.n_slots = plen.len GROUP BY 1, 2)
      SELECT h.phrase, d.source, count(*) AS n_docs,
             CAST(sum(h.n_hits) AS BIGINT) AS n_hits
      FROM hits h JOIN documents d USING (doc_id)
      GROUP BY 1, 2 ORDER BY 1, 2"""
    }),

    // ---- proximity search: docs where 'hash' and 'merge' co-occur
    //      within 4 positions — the NEAR operator between exact
    //      phrase (adjacency) and conjunctive AND (anywhere). Join
    //      keyed on doc over TERM-FILTERED postings ----
    ("ix05_proximity_search", (s: SparkSession, d: String) => {
      proximitySearch(postings(Tables.documents(s, d)),
        "hash", "merge", 4L).orderBy("doc_id")
    }, Some(s"""
      WITH $wordsSql,
      a AS (SELECT doc_id, pos AS pa FROM words WHERE word = 'hash'),
      b AS (SELECT doc_id, pos AS pb FROM words WHERE word = 'merge')
      SELECT a.doc_id, count(*) AS n_pairs,
        CAST(min(abs(pa - pb)) AS BIGINT) AS min_gap
      FROM a JOIN b ON a.doc_id = b.doc_id
      WHERE abs(pa - pb) <= 4
      GROUP BY 1 ORDER BY 1"""))
  )

  /** NEAR-operator proximity search: documents where `termA` and
    * `termB` co-occur within `window` token positions, with the pair
    * count and the closest gap — the retrieval mode between exact
    * phrase (adjacency, ix02) and conjunctive AND (anywhere in the
    * doc, ix01). Classic relevance signal: "hash ... merge" eight
    * words apart usually IS about hash merges; in the same doc three
    * paragraphs apart usually isn't.
    *
    * SCALE: both sides are TERM-FILTERED postings (posting-list-
    * sized — bucket-pruned when read from the store), the join is
    * keyed on doc_id with the window test as residual, and per-doc
    * fan-out is tf_A × tf_B (term frequencies, not doc length). All
    * integer arithmetic.
    */
  def proximitySearch(postings: DataFrame, termA: String, termB: String,
      window: Long): DataFrame = {
    require(termA != termB, "proximity terms must differ")
    require(window >= 1, s"need window >= 1, got $window")
    val a = postings.filter(col("word") === termA)
      .select(col("doc_id"), col("pos").as("pa"))
    val b = postings.filter(col("word") === termB)
      .select(col("doc_id"), col("pos").as("pb"))
    a.join(b, Seq("doc_id"))
      .filter(abs(col("pa") - col("pb")) <= window)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_pairs"),
        min(abs(col("pa") - col("pb"))).as("min_gap"))
  }
}
