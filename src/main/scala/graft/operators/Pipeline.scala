package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** End-to-end training-data pipeline: the library's operators composed
  * the way a real corpus run chains them —
  *
  *   raw docs → hard quality gate (t10 Gopher rules)
  *            → normalized exact-dedup keep-set (d15 semantics)
  *            → sequence packing into context windows (t12 chunked)
  *            → per-doc training manifest (doc → shard/bin/offset)
  *
  * Each stage is the SAME operator code the standalone entries run
  * ([[TextOps.gopherRules]], d15's normalization expression,
  * [[Pack.chunkAssign]]) — the entry proves they compose into one
  * Catalyst plan, and the oracle chains the standalone oracles' CTEs
  * verbatim, so the composition is bit-exact end to end.
  *
  * Shuffle budget at 100 TB: the gate is a pure codegen column map
  * fused into the single scan pass; the keep-set is ONE hash shuffle
  * (row_number over the normalized text, lowest doc_id kept — same
  * survivors as d15's groupBy(min), without the second scan and
  * semi-join a groupBy formulation costs); packing is ONE window
  * exchange on the shard key. Two shuffles, one scan, end to end. No
  * stage widens rows beyond (doc_id, text) and the manifest output is
  * 5 BIGINTs — nothing accumulates driver-side or fans out
  * quadratically.
  */
object Pipeline {
  type QFn = (SparkSession, String) => DataFrame

  /** d15's normalization: lowercase, strip non-alnum, collapse runs. */
  private val norm = trim(regexp_replace(
    regexp_replace(lower(col("text")), "[^a-z0-9 ]", " "), " +", " "))

  def trainingManifest(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // single-file parquet: spread the CPU-bound gate across cores
    val docs = Tables.documents(s, d)
      .repartition(s.sparkContext.defaultParallelism)

    // stage 1 — hard quality gate (t10's gopherReason column, applied
    // inline so it fuses into the one scan pass)
    val kept = docs.filter(TextOps.gopherReason.isNull)

    // stage 2 — normalized exact-dedup keep-set (d15 semantics: lowest
    // doc_id survives per normalized form), as a window rank so the
    // text is scanned once and no join re-materializes it
    val uniq = kept
      .withColumn("rk", row_number().over(
        Window.partitionBy(norm).orderBy(col("doc_id"))))
      .filter(col("rk") === 1)
      .drop("rk")

    // stage 3 — chunked packing over the surviving docs (t12 stage)
    Pack.chunkAssign(Pack.tokenBase(uniq))
      .select("doc_id", "shard", "n_tokens", "start_bin", "bin_offset")
      .orderBy("doc_id")
  }

  /** The FULL production chain, one plan: eval split → hard gate →
    * normalized dedup → eval-set decontamination (d12) → source-mix
    * rebalancing toward uniform (d14) → chunk packing. Stage count is
    * what a real pretraining corpus run chains; every stage reuses the
    * standalone operator's exact semantics so the oracle composes
    * their CTEs. Extra shuffles vs [[trainingManifest]]: the
    * decontamination semi-join (one shingle-hash exchange, cost ∝
    * corpus — d12's budget) and the tiny per-source rate broadcast.
    */
  def trainingManifestFull(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, d)
      .repartition(s.sparkContext.defaultParallelism)
    // deterministic Knuth-hash eval split (d12's rule)
    val h = pmod(pmod(col("doc_id"), lit(1000003L)) * lit(427799L), lit(1000003L))
    val evalDocs = docs.filter(h % 50 === 0)
    val train = docs.filter(h % 50 =!= 0)

    val kept = train.filter(TextOps.gopherReason.isNull)
    // uniq feeds decontaminate (which reads its corpus twice), the
    // keep-set semi-join, the per-source rates and the mix filter —
    // without the cut the regex-heavy gate + normalization window
    // re-executed per reader (r20 plan audit: 24 parquet scans / 36
    // regexp_replace nodes in one p02 plan)
    val uniq = Cut(kept
      .withColumn("rk", row_number().over(
        Window.partitionBy(norm).orderBy(col("doc_id"))))
      .filter(col("rk") === 1).drop("rk"))

    // d12: drop docs sharing >= 3 distinct 8-grams with the eval set;
    // the surviving-id set is doc-id-sized — cut it so the two clean
    // readers below don't re-run the shingle chain
    val keepIds = Cut(Dedup.decontaminate(uniq, evalDocs, 8, 3)
      .filter(!col("contaminated")).select("doc_id"))
    val clean = uniq.join(keepIds, Seq("doc_id"), "left_semi")

    // d14: per-source keep rates toward uniform share, Knuth-hash applied
    val per = clean.groupBy(col("source")).agg(count(lit(1)).as("n_total"))
    val tot = per.agg(sum(col("n_total")).as("n"), count(lit(1)).as("k"))
    val rates = per.crossJoin(broadcast(tot))
      .select(col("source"),
        least(lit(1.0),
          col("n").cast("double") / col("k") / col("n_total")).as("rate"))
    val mixed = clean.join(broadcast(rates), "source")
      .filter(h < floor(col("rate") * lit(1000003L)).cast("bigint"))

    Pack.chunkAssign(Pack.tokenBase(mixed.select("doc_id", "text")))
      .select("doc_id", "shard", "n_tokens", "start_bin", "bin_offset")
      .orderBy("doc_id")
  }

  /** BM25 partials (uid, w, ts) of `documents`' chunks for the
    * distinct query terms `terms` (w): the chunk → words → dl → tf
    * build p03 and [[retrievalTopKBatch]] share. uid packs the chunk
    * key (d11's convention); the query terms prune by broadcast
    * semi-join before any shuffle. words, dl and tf each have two
    * readers, so each is cut: one chunker + tokenize pass instead of
    * four (r20 plan audit: uncut, the chunk_text subtree appeared 12x
    * in one plan).
    */
  private def chunkPartials(documents: DataFrame, terms: DataFrame): DataFrame = {
    val chunks = TextOps.chunkOverlap(documents)
      .select((col("doc_id") * 1048576 + col("chunk_id")).as("uid"),
        col("chunk_text"))
    val words = Cut(chunks.select(col("uid"),
      explode(split(col("chunk_text"), " ")).as("w"))
      .filter(col("w") =!= ""))
    val dl = Cut(words.groupBy(col("uid")).agg(count(lit(1)).as("dl")))
    val tf = Cut(words.join(broadcast(terms), "w")
      .groupBy(col("uid"), col("w")).agg(count(lit(1)).as("tf")))
    Search.bm25Partials(Search.withDocFreq(tf, "w"), dl, "uid", "w")
  }

  /** BATCH retrieval — p03's chunk→BM25 chain over a query TABLE of
    * (query_id, term) rows: ONE chunk-corpus pass serves the whole
    * query set. The per-(chunk, term) BM25 partial score is
    * query-INDEPENDENT (tf, df, dl and the corpus stats mention no
    * query), so it is computed once ([[chunkPartials]] over the
    * distinct term set of ALL queries); queries enter only at the end
    * — a broadcast join fans each scored (chunk, term) row across
    * exactly the queries containing that term, one
    * groupBy(query_id, chunk) sums the partials (decimal-exact, so
    * order-free), and per-query top-k runs on the bounded-heap
    * TopKPerKey operator. Adding a query costs broadcast rows and
    * fan-out of the rows that survive the term prune — never another
    * corpus scan, never a per-query job loop.
    */
  def retrievalTopKBatch(documents: DataFrame, queries: DataFrame, k: Int,
      excludeSelfDoc: Boolean = false): DataFrame = {
    val q = queries.select(col("query_id").cast("long").as("query_id"),
      col("term").as("w"))
    val scored = chunkPartials(documents, q.select(col("w")).distinct())
      .join(broadcast(q), "w")
      .groupBy(col("query_id"), col("uid")).agg(sum(col("ts")).as("sdec"))
      .filter(if (excludeSelfDoc) expr("uid div 1048576") =!= col("query_id")
        else lit(true))
      // rank on the double cast of the exact decimal sum (both engines
      // round-half-even the same decimal to the same double); round-6
      // only for display
      .withColumn("score", col("sdec").cast("double"))
    TopK.topKPerKey(scored, Seq("query_id"), "score", "uid", k)
      .select(col("query_id"),
        expr("uid div 1048576").as("doc_id"),
        pmod(col("uid"), lit(1048576L)).as("chunk_id"),
        round(col("score"), 6).as("bm25"))
  }

  val entries: Seq[(String, QFn, Option[String])] = Seq(
    // the oracle chains t10's gate CTEs, d15's normalization, and
    // t12's window arithmetic — the standalone oracles composed
    ("p01_pipeline", (s: SparkSession, d: String) =>
      trainingManifest(s, d), Some(s"""
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
      gate AS (SELECT doc_id FROM m
               WHERE n BETWEEN 10 AND 100000
                 AND sumlen >= n * 3 AND sumlen <= n * 10
                 AND stopc >= 2 AND alphac * 5 >= n * 4
                 AND sym * 10 <= nonspace),
      kept AS (SELECT d.doc_id, d.text FROM documents d JOIN gate USING (doc_id)),
      nrm AS (SELECT doc_id,
                trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
                     ' +', ' ', 'g')) AS ntext
              FROM kept),
      keepers AS (SELECT min(doc_id) AS doc_id FROM nrm GROUP BY ntext),
      t AS (SELECT k.doc_id, CAST(k.doc_id % ${Pack.NShards} AS BIGINT) AS shard,
              CAST(len(regexp_split_to_array(trim(k.text), '\\s+')) AS BIGINT) AS n_tokens
            FROM kept k JOIN keepers USING (doc_id)),
      c AS (SELECT doc_id, shard, n_tokens,
              CAST(COALESCE(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start
            FROM t)
      SELECT doc_id, shard, n_tokens,
        start // ${Pack.Cap} AS start_bin,
        start % ${Pack.Cap} AS bin_offset
      FROM c ORDER BY doc_id""")),

    // the full five-stage chain; oracle = p01's gate/dedup CTEs +
    // d12's fnv shingle chain + d14's rate CTEs + t12's window pack
    ("p02_pipeline_full", (s: SparkSession, d: String) =>
      trainingManifestFull(s, d), Some(s"""
      WITH hk AS (SELECT doc_id, (doc_id % 1000003) * 427799 % 1000003 AS hh
                  FROM documents),
      f AS (SELECT d.doc_id, d.text,
              list_filter(string_split(trim(d.text), ' '), w -> w <> '') AS ws
            FROM documents d JOIN hk USING (doc_id) WHERE hk.hh % 50 <> 0),
      m AS (SELECT doc_id,
              CAST(len(ws) AS BIGINT) AS n,
              CAST(coalesce(list_sum(list_transform(ws, w -> length(w))), 0) AS BIGINT) AS sumlen,
              len(list_filter(ws, w -> w IN ('the','a','of','in','is'))) AS stopc,
              len(list_filter(ws, w -> regexp_matches(w, '[a-z]'))) AS alphac,
              length(replace(text, ' ', '')) AS nonspace,
              length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g')) AS sym
            FROM f),
      gate AS (SELECT doc_id FROM m
               WHERE n BETWEEN 10 AND 100000
                 AND sumlen >= n * 3 AND sumlen <= n * 10
                 AND stopc >= 2 AND alphac * 5 >= n * 4
                 AND sym * 10 <= nonspace),
      kept AS (SELECT d.doc_id, d.text FROM documents d JOIN gate USING (doc_id)),
      nrm AS (SELECT doc_id,
                trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
                     ' +', ' ', 'g')) AS ntext
              FROM kept),
      uniq AS (SELECT min(doc_id) AS doc_id FROM nrm GROUP BY ntext),
      aw AS (SELECT doc_id,
               list_filter(string_split(trim(text), ' '), t -> t <> '') AS ws
             FROM documents),
      g AS (SELECT DISTINCT doc_id,
              CASE WHEN len(ws) >= 8
                   THEN ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3]
                     || ' ' || ws[i+4] || ' ' || ws[i+5] || ' ' || ws[i+6] || ' ' || ws[i+7]
                   ELSE array_to_string(ws, ' ') END AS tg
            FROM (SELECT doc_id, ws,
                    unnest(generate_series(1, greatest(len(ws) - 7, 1))) AS i
                  FROM aw WHERE len(ws) > 0)),
      th AS (SELECT tg, ${OracleSql.fnvU64("tg")} AS h
             FROM (SELECT DISTINCT tg FROM g)),
      gh AS (SELECT DISTINCT doc_id, h FROM g JOIN th USING (tg)),
      eh AS (SELECT DISTINCT gh.h FROM gh JOIN hk USING (doc_id) WHERE hk.hh % 50 = 0),
      contam AS (SELECT gh.doc_id, count(*) AS n
                 FROM gh JOIN uniq USING (doc_id) JOIN eh USING (h)
                 GROUP BY gh.doc_id),
      clean AS (SELECT u.doc_id FROM uniq u LEFT JOIN contam c USING (doc_id)
                WHERE coalesce(c.n, 0) < 3),
      src AS (SELECT d.doc_id, d.source FROM documents d JOIN clean USING (doc_id)),
      per AS (SELECT source, count(*) AS n_total FROM src GROUP BY source),
      tot AS (SELECT CAST(sum(n_total) AS BIGINT) AS n, count(*) AS k FROM per),
      rates AS (SELECT source, least(1.0, CAST(n AS DOUBLE) / k / n_total) AS rate
                FROM per, tot),
      mixed AS (SELECT s.doc_id FROM src s JOIN rates r USING (source)
                JOIN hk USING (doc_id)
                WHERE hk.hh < floor(r.rate * 1000003)),
      t AS (SELECT d.doc_id, CAST(d.doc_id % ${Pack.NShards} AS BIGINT) AS shard,
              CAST(len(regexp_split_to_array(trim(d.text), '\\s+')) AS BIGINT) AS n_tokens
            FROM documents d JOIN mixed USING (doc_id)),
      c AS (SELECT doc_id, shard, n_tokens,
              CAST(COALESCE(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start
            FROM t)
      SELECT doc_id, shard, n_tokens,
        start // ${Pack.Cap} AS start_bin,
        start % ${Pack.Cap} AS bin_offset
      FROM c ORDER BY doc_id""")),

    // ---- RETRIEVAL pipeline: t16's chunker feeding the BM25 scorer,
    //      one Catalyst plan — the RAG ingest+query shape (chunk the
    //      corpus, score chunks against a query, return top chunks).
    //      The query is doc 0's distinct words, its own chunks
    //      excluded from ranking; the chunker itself adds zero
    //      shuffles. Oracle chains t16's CTE into t07's chain
    //      verbatim ----
    ("p03_retrieval_pipeline", (s: SparkSession, d: String) => {
      val qterms = Tables.documents(s, d).filter(col("doc_id") === 0)
        .select(explode(split(trim(col("text")), " ")).as("w"))
        .filter(col("w") =!= "").distinct()
      chunkPartials(
        Tables.documents(s, d).repartition(s.sparkContext.defaultParallelism),
        qterms)
        .groupBy(col("uid")).agg(sum(col("ts")).as("sdec"))
        .filter(col("uid") >= 1048576) // exclude doc 0's own chunks
        .select(expr("uid div 1048576").as("doc_id"),
          pmod(col("uid"), lit(1048576L)).as("chunk_id"),
          round(col("sdec").cast("double"), 6).as("bm25"))
        .orderBy(desc("bm25"), col("doc_id"), col("chunk_id")).limit(20)
    }, Some("""
      WITH w0 AS (SELECT doc_id, string_split(trim(text), ' ') AS ws FROM documents),
      st AS (SELECT doc_id, ws,
               unnest(generate_series(0, greatest(len(ws) - 1, 0), 24)) AS st
             FROM w0),
      chunks AS (SELECT doc_id * 1048576 + st // 24 AS uid,
                   array_to_string(list_slice(ws, st + 1, st + 32), ' ') AS chunk_text
                 FROM st),
      words AS (SELECT uid, w FROM (
                  SELECT uid, unnest(string_split(chunk_text, ' ')) AS w FROM chunks)
                WHERE w <> ''),
      dl AS (SELECT uid, count(*) AS dl FROM words GROUP BY uid),
      stats AS (SELECT count(*) AS n_chunks, CAST(sum(dl) AS BIGINT) AS sum_dl FROM dl),
      q AS (SELECT DISTINCT w FROM (
              SELECT unnest(string_split(trim(text), ' ')) AS w
              FROM documents WHERE doc_id = 0) WHERE w <> ''),
      tf AS (SELECT uid, w, count(*) AS tf
             FROM words JOIN q USING (w) GROUP BY uid, w),
      dfreq AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
      term AS (
        SELECT t.uid,
          CAST(round(
            round(ln(1.0 + (CAST(s.n_chunks - f.df AS DOUBLE) + 0.5) /
                           (CAST(f.df AS DOUBLE) + 0.5)), 6) *
            ((CAST(t.tf AS DOUBLE) * 2.2) /
             (CAST(t.tf AS DOUBLE) +
              1.2 * (0.25 + 0.75 * CAST(d.dl AS DOUBLE) /
                     (CAST(s.sum_dl AS DOUBLE) / s.n_chunks)))),
            10) AS DECIMAL(28,10)) AS ts
        FROM tf t JOIN dfreq f USING (w) JOIN dl d ON d.uid = t.uid, stats s)
      SELECT CAST(uid // 1048576 AS BIGINT) AS doc_id,
        CAST(uid % 1048576 AS BIGINT) AS chunk_id,
        round(CAST(sum(ts) AS DOUBLE), 6) AS bm25
      FROM term WHERE uid // 1048576 <> 0
      GROUP BY uid ORDER BY bm25 DESC, doc_id, chunk_id LIMIT 20""")),

    // ---- BATCH retrieval: 4 queries (docs 0–3's distinct words as
    //      (query_id, term) rows) served by ONE chunk-corpus pass —
    //      per-(chunk,term) BM25 partials computed once, queries
    //      fanned in by a broadcast join at the end, per-query top-10
    //      on TopKPerKey. Oracle = p03's CTE chain with a query
    //      dimension and a per-query window ----
    ("p04_batch_retrieval", (s: SparkSession, d: String) => {
      val docs = Tables.documents(s, d)
        .repartition(s.sparkContext.defaultParallelism)
      val queries = Tables.documents(s, d).filter(col("doc_id") < 4)
        .select(col("doc_id").as("query_id"),
          explode(split(trim(col("text")), " ")).as("term"))
        .filter(col("term") =!= "").distinct()
      retrievalTopKBatch(docs, queries, 10, excludeSelfDoc = true)
        .orderBy(col("query_id"), desc("bm25"), col("doc_id"), col("chunk_id"))
    }, Some("""
      WITH w0 AS (SELECT doc_id, string_split(trim(text), ' ') AS ws FROM documents),
      st AS (SELECT doc_id, ws,
               unnest(generate_series(0, greatest(len(ws) - 1, 0), 24)) AS st
             FROM w0),
      chunks AS (SELECT doc_id * 1048576 + st // 24 AS uid,
                   array_to_string(list_slice(ws, st + 1, st + 32), ' ') AS chunk_text
                 FROM st),
      words AS (SELECT uid, w FROM (
                  SELECT uid, unnest(string_split(chunk_text, ' ')) AS w FROM chunks)
                WHERE w <> ''),
      dl AS (SELECT uid, count(*) AS dl FROM words GROUP BY uid),
      stats AS (SELECT count(*) AS n_chunks, CAST(sum(dl) AS BIGINT) AS sum_dl FROM dl),
      q AS (SELECT DISTINCT doc_id AS query_id, w FROM (
              SELECT doc_id, unnest(string_split(trim(text), ' ')) AS w
              FROM documents WHERE doc_id < 4) WHERE w <> ''),
      terms AS (SELECT DISTINCT w FROM q),
      tf AS (SELECT uid, w, count(*) AS tf
             FROM words JOIN terms USING (w) GROUP BY uid, w),
      dfreq AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
      term AS (
        SELECT t.uid, t.w,
          CAST(round(
            round(ln(1.0 + (CAST(s.n_chunks - f.df AS DOUBLE) + 0.5) /
                           (CAST(f.df AS DOUBLE) + 0.5)), 6) *
            ((CAST(t.tf AS DOUBLE) * 2.2) /
             (CAST(t.tf AS DOUBLE) +
              1.2 * (0.25 + 0.75 * CAST(d.dl AS DOUBLE) /
                     (CAST(s.sum_dl AS DOUBLE) / s.n_chunks)))),
            10) AS DECIMAL(28,10)) AS ts
        FROM tf t JOIN dfreq f USING (w) JOIN dl d ON d.uid = t.uid, stats s),
      sc AS (SELECT q.query_id, term.uid, sum(ts) AS sdec
             FROM term JOIN q USING (w) GROUP BY q.query_id, term.uid)
      SELECT query_id, doc_id, chunk_id, bm25 FROM (
        SELECT CAST(query_id AS BIGINT) AS query_id,
          CAST(uid // 1048576 AS BIGINT) AS doc_id,
          CAST(uid % 1048576 AS BIGINT) AS chunk_id,
          round(CAST(sdec AS DOUBLE), 6) AS bm25,
          row_number() OVER (PARTITION BY query_id
                             ORDER BY CAST(sdec AS DOUBLE) DESC, uid) AS rn
        FROM sc WHERE uid // 1048576 <> query_id) t
      WHERE rn <= 10
      ORDER BY query_id, bm25 DESC, doc_id, chunk_id""")),

    // ---- SEMANTIC curation pipeline (the DataComp/DCLM shape): the
    //      t18 classifier gates raw text, then d19's cluster-bounded
    //      semantic dedup prunes the SURVIVORS against the
    //      corpus-level coarse quantizer — classifier embed (e01
    //      seam), sigmoid head, semi-join into the embeddings table,
    //      cell assignment, within-cell drop rule, all ONE Catalyst
    //      plan. The oracle chains the t18 and d19 oracles' CTEs
    //      with the keep-set semi-join between them, bit-exact end
    //      to end ----
    ("p05_curation_pipeline", (s: SparkSession, d: String) => {
      val docs = Tables.documents(s, d)
        .repartition(s.sparkContext.defaultParallelism)
      val scored = TextOps.qualityScore(
        TextOps.embedDocuments(docs), TextOps.classifierWeights(64))
      val kept = scored.filter(col("keep"))
        .select(col("doc_id").as("vec_id"), col("score"))
      val emb = Tables.embeddings(s, d)
      val cents = emb.filter(col("vec_id") < 16)
        .select(col("vec_id"), col("embedding")).collect() // 16 x dim — KB
        .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
      val keptEmb = emb.join(kept.select("vec_id"), Seq("vec_id"), "left_semi")
      Dedup.semDedupWithCentroids(keptEmb,
          (0 until 16).map(j => cents(j.toLong)).toArray, 0.3)
        .filter(!col("dropped"))
        .join(kept, Seq("vec_id"))
        .select(col("vec_id").as("doc_id"), col("cell"), col("score"))
        .orderBy("doc_id")
    }, Some("""
      WITH wr AS (SELECT doc_id,
             unnest(list_filter(string_split(trim(text), ' '), x -> x <> '')) AS w
           FROM documents),
      hh AS (SELECT doc_id, """ + OracleSql.fnvU64("w") + """ AS h FROM wr),
      ccx AS (SELECT doc_id, CAST(h % 64 AS INT) AS i,
                CASE WHEN (h // 64) % 2 = 0 THEN 1 ELSE -1 END AS sgn
              FROM hh),
      acc AS (SELECT doc_id, i, CAST(sum(sgn) AS BIGINT) AS v
              FROM ccx GROUP BY doc_id, i),
      grid AS (SELECT d.doc_id, r.range AS i
               FROM (SELECT DISTINCT doc_id FROM documents) d, range(64) r),
      fullv AS (SELECT g.doc_id, g.i, coalesce(a.v, 0) AS v
                FROM grid g LEFT JOIN acc a ON a.doc_id = g.doc_id AND a.i = g.i),
      nrm AS (SELECT doc_id, sqrt(CAST(sum(v * v) AS DOUBLE)) AS n
              FROM fullv GROUP BY doc_id),
      femb AS (SELECT f.doc_id, f.i,
                 CAST(CASE WHEN n.n = 0 THEN 0 ELSE f.v / n.n END AS FLOAT) AS fv
               FROM fullv f JOIN nrm n USING (doc_id)),
      wt AS (SELECT range AS i,
               CAST((range * 2654435761) % 1024 AS DOUBLE) / 1024.0 - 0.5 AS w
             FROM range(64)),
      dots AS (SELECT doc_id,
                 list_sum(list(CAST(fv AS DOUBLE) * w ORDER BY i)) AS dot
               FROM femb JOIN wt USING (i) GROUP BY doc_id),
      kept AS (SELECT doc_id, round(1.0 / (1.0 + exp(-dot)), 6) AS score
               FROM dots WHERE dot >= 0),
      cents AS (SELECT vec_id AS cid, embedding AS ce
                FROM embeddings WHERE vec_id < 16),
      za AS (SELECT e.vec_id, c.cid, unnest(e.embedding) AS a, unnest(c.ce) AS b
             FROM embeddings e JOIN kept k ON k.doc_id = e.vec_id, cents c),
      d2 AS (SELECT vec_id, cid,
               sum((CAST(a AS DOUBLE) - CAST(b AS DOUBLE)) * (CAST(a AS DOUBLE) - CAST(b AS DOUBLE))) AS d
             FROM za GROUP BY 1, 2),
      asg AS (SELECT vec_id, cid FROM (
                SELECT vec_id, cid,
                  row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
                FROM d2) t WHERE rn = 1),
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
      SELECT a.vec_id AS doc_id, CAST(a.cid AS INT) AS cell, k.score
      FROM asg a JOIN kept k ON k.doc_id = a.vec_id
      LEFT JOIN dup ON dup.ib = a.vec_id
      WHERE dup.ib IS NULL
      ORDER BY doc_id""")),

    // ---- gate → weighted sample → shard, one Catalyst plan: t20's
    //      per-lang percentile gate keeps the long tail, t23's
    //      systematic walk samples 40 survivors ∝ tokens, and the
    //      selected docs pack into ~2000-token shards along the same
    //      walk order — the "curate a fixed-size eval set" loop. The
    //      shard window runs over the 40 SELECTED rows (output-sized,
    //      not corpus-sized); everything upstream is the t20/t23
    //      machinery with their scale shapes intact ----
    ("p06_sample_pipeline", (s: SparkSession, d: String) => {
      import org.apache.spark.sql.expressions.Window
      val ws = filter(split(trim(col("text")), " "), w => w =!= "")
      val scored = Tables.documents(s, d)
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("doc_id"), col("lang"),
          size(ws).cast("bigint").as("n_words"))
      val kept = TextOps.percentileGate(scored, "lang", "n_words", 0.2)
      val sampled = TextOps.systematicWeightedSample(
        kept.select(col("doc_id"), col("n_words").as("w")), 40L)
      val wSel = Window.orderBy(col("cum"))
        .rowsBetween(Window.unboundedPreceding, 0)
      sampled.join(kept.select(col("doc_id"), col("lang")), Seq("doc_id"))
        .withColumn("run", sum(col("n_tokens")).over(wSel))
        .withColumn("shard_id", expr("(run - n_tokens) div 2000L"))
        .select(col("doc_id"), col("lang"), col("n_tokens"),
          col("copies"), col("shard_id"))
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
            FROM c WHERE cum >= ceil(0.2 * n) GROUP BY lang),
      kept AS (SELECT s.doc_id, s.lang, s.n_words AS w
               FROM s JOIN t USING (lang) WHERE s.n_words >= t.thr),
      walk AS (SELECT doc_id, lang, w,
          CAST(sum(w) OVER (ORDER BY (doc_id % 1000003) * 427799 % 1000003,
                                     doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS cum
        FROM kept),
      tw AS (SELECT CAST(sum(w) AS BIGINT) AS tw FROM kept),
      sel AS (SELECT doc_id, lang, w AS n_tokens,
          (cum * 40) // tw - ((cum - w) * 40) // tw AS copies, cum
        FROM walk CROSS JOIN tw
        WHERE (cum * 40) // tw - ((cum - w) * 40) // tw >= 1),
      sh AS (SELECT *, CAST(sum(n_tokens) OVER (ORDER BY cum
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          AS BIGINT) AS run
        FROM sel)
      SELECT doc_id, lang, n_tokens, copies,
        (run - n_tokens) // 2000 AS shard_id
      FROM sh ORDER BY doc_id"""))
  )
}
