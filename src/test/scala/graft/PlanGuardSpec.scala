package graft

import org.scalatest.funsuite.AnyFunSuite

/** Fleet-wide regression guards over every declared query. */
class PlanGuardSpec extends AnyFunSuite {
  private lazy val spark = GraftTestSession.spark
  private val sf = GraftTestSession.sf

  /** Queries that intentionally broadcast a one-row/tiny relation via
    * crossJoin (planned as BroadcastNestedLoopJoin — fine: the inner
    * side is a single broadcast row, not an O(n·m) product).
    */
  private val broadcastSingleton = Set(
    "q07_join_cross", "q20_subquery_scalar", "d04_ngram_jaccard",
    "s01_similarity_topk", "s03_similarity_ivf",
    "h01_hybrid_retrieval", "q46_any_all",
    "q62_theta_sketch", // 1-row sketch agg × 1-row exact-intersection agg
    "s04_similarity_kmeans_ivf", // broadcast 1-row query vector
    "t07_bm25", // broadcast 1-row corpus stats (n_docs, sum_dl)
    "t08_vocab", // broadcast 1-row token total
    "d14_mix_rebalance", // broadcast 1-row corpus total (n, k)
    "t15_heavy_hitters", // broadcast 1-row token total + 1-row MG sketch
    "p02_pipeline_full", // broadcast 1-row mix total (d14's rate stage)
    "p03_retrieval_pipeline", // broadcast 1-row chunk-corpus stats (the BM25 scorer's)
    "p04_batch_retrieval", // same 1-row stats crossJoin as p03 (the query
                           // table joins by TERM — an equi hash join, not NL)
    "t19_bigram_surprisal", // broadcast 1-row vocab size
    "t21_dsir_weights", // broadcast 1-row (nr, nt) token totals
    "ar01_assoc_rules", // broadcast 1-row basket total (lift's N)
    "rfm01_segments", // broadcast 1-row dataset max date (recency's anchor)
    "ss08_conversion_lag", // broadcast 1-row p50/p90 threshold singletons
    "dq04_ks_drift", // broadcast 1-row global min/max (fixed-width slices)
    "dq05_chi2_drift", // broadcast 1-row grand total (expected counts)
    "dq06_psi_drift", // broadcast 1-row min/max + 1-row cohort totals
    "dq07_benford", // broadcast 1-row grand total
    "ix04_ranked_search", // broadcast 1-row corpus stats (the BM25 scorer's)
    "t24_tfidf_keywords", // broadcast 1-row doc count
    "ar02_sequential_rules", // broadcast 1-row session total (lift's N)
    "rj03_max_concurrency", // broadcast 1-row session count + 1-row max
    "q79_tpch_q22", // broadcast 1-row (tot, n) average threshold
    "q81_tpch_q15", // broadcast 1-row max-revenue frame (ties filter)
    "q84_tpch_q11", // broadcast 1-row global-total threshold
    "sql17_joins", // the NATURAL JOIN leg's 1-row derived table
                   // (joins_tests.yaml's nested-joins case, replayed)
    "sql19_exists_or", // a DISJUNCTIVE correlated EXISTS cannot
                       // hash-join (no equi-conjunct covers both OR
                       // arms): the NL semi/anti-join against the
                       // broadcast 100-row supplier dim IS the plan
                       // for this semantics
    "t27_zipf_slope") // zipfRankTerms' suffix-sum theta-join over the
                      // <=64-row log2(f) bucket totals

  /** Queries whose SEMANTICS are an exhaustive pairwise comparison:
    * s05 measures LSH recall against the brute-force truth, which is
    * all-pairs by definition (gate-corpus-sized; sampled at scale). */
  private val intendedAllPairs = Set("s05_lsh_recall",
    // s17's pair-sim stage is pairwise BY CONTRACT over the
    // ceiling-enforced <=64-row shortlist, never the corpus
    "s17_mmr_rerank",
    // the join_cross yaml family's entry IS a cross join — explicit
    // CROSS JOIN + implicit comma-list over 25/5/5-row dims
    "sql05_join_cross")

  /** Batch-serving queries that broadcast the QUERY TABLE (Q rows, a
    * serving batch bounded by contract — see Similarity.cosineTopKBatch)
    * against the full corpus: the BroadcastNestedLoopJoin fan-out IS the
    * design (one corpus scan serves all Q queries; the exchange after it
    * is bounded at k×Q by TopKPerKey). Not an accidental product. */
  private val broadcastQueryBatch = Set("s12_batch_search",
    "h02_batch_hybrid", // h01's fused score in the s12 serving shape
    "e02_embed_search", // e01 embedder output into the s12 shape
    "s15_batch_matryoshka", // prefix shortlist + re-rank, s12 shape
    "r01_rerank") // jaccard shortlist stage rides the same fan-out

  test("no query plans an unintended cartesian product") {
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val plan = fn(spark, sf).queryExecution.executedPlan.toString
      val cartesian = plan.contains("CartesianProduct") && !intendedAllPairs(name)
      val nlJoin = plan.contains("BroadcastNestedLoopJoin") &&
        !broadcastSingleton(name) && !intendedAllPairs(name) &&
        !broadcastQueryBatch(name)
      if (cartesian || nlJoin) Some(name) else None
    }
    assert(offenders.isEmpty, s"unintended product joins in: $offenders")
  }

  /** The ONLY `Window.orderBy(...)` (no partitionBy) sites allowed in
    * main sources, each with the bound that makes its single-task sort
    * safe — these are the ~370 benign "WindowExec: No Partition
    * Defined" warnings per gate run. Any NEW unpartitioned window
    * fails this test loudly: either partition it, or prove its frame
    * is bounded (calendar/bucket/selected-k sized, never data-sized)
    * and extend this allowlist with that rationale.
    */
  private val unpartitionedWindowAllowlist = Map(
    // cum-token selection window over the SELECTED-K candidate frame
    // (post-gate budget heads, never the corpus)
    "src/main/scala/graft/operators/Pipeline.scala" -> 1,
    // q85's NULLS FIRST/LAST matrix: a GLOBAL row_number is the
    // semantics under test (where nulls land in one total order);
    // output is rank<=5 per slice — a parity entry, not a pipeline op
    "src/main/scala/graft/operators/Relational.scala" -> 1,
    // percentile offset spine over the histogram PID frame (bins-sized)
    "src/main/scala/graft/operators/Quality.scala" -> 1,
    // day-spine running window (calendar-sized, rj04's coverage grid)
    "src/main/scala/graft/operators/RangeJoin.scala" -> 1,
    // two calendar-day spines (ss07 growth cumsum, ss11 DAU/MAU delta)
    "src/main/scala/graft/operators/Sessionize.scala" -> 2,
    // Scale harness: rank over the top-f candidate frame (probe-sized)
    "src/main/scala/graft/Scale.scala" -> 1)

  test("unpartitioned-window discipline: every Window.orderBy site is allowlisted") {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    val re = """Window\s*\.orderBy""".r
    val found = java.nio.file.Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .map(p => p.toString ->
        re.findAllIn(java.nio.file.Files.readString(p)).size)
      .filter(_._2 > 0).toMap
    assert(found === unpartitionedWindowAllowlist,
      "unpartitioned Window.orderBy sites drifted from the allowlist " +
        s"(found $found): a data-sized unpartitioned window is a " +
        "single-task sort of the whole input — partition it, or add " +
        "the site here with its frame-bound rationale")
  }

  /** Main sources whose text matches every one of `res`. */
  private def sitesOf(res: scala.util.matching.Regex*): Set[String] =
    sitesIn("src/main/scala", res: _*)

  /** Sources under `root` whose text matches every one of `res`. */
  private def sitesIn(root: String, res: scala.util.matching.Regex*): Set[String] = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(java.nio.file.Paths.get(root))
      .iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filter { p =>
        val text = java.nio.file.Files.readString(p)
        res.forall(_.findFirstIn(text).isDefined)
      }
      .map(_.toString).toSet
  }

  test("one implementation: bucketBy only in BucketedStore, the micro_batch ingest sink only in IngestLoop") {
    assert(sitesOf("""\.bucketBy\(""".r) ===
      Set("src/main/scala/graft/sources/BucketedStore.scala"),
      "a hand-rolled bucketBy skips BucketedStore's aligned write path")
    assert(sitesOf("""partitionBy\(\s*"micro_batch"\s*\)""".r) ===
      Set("src/main/scala/graft/streaming/IngestLoop.scala"),
      "a store-ingest stream lands its micro_batch sink through IngestLoop")
    assert(sitesOf("""partitionBy\(\s*"batch_id"""".r) ===
      Set("src/main/scala/graft/streaming/StoreFold.scala"),
      "a batch_id= partial twin writes, publishes and folds through StoreFold")
    assert(sitesOf("""localCheckpoint\(""".r)
      .filter(_.startsWith("src/main/scala/graft/streaming/")) === Set.empty,
      "a streaming twin cuts lineage through Cut, so a configured " +
        "checkpoint dir reaches it")
  }

  test("one implementation: the IVF-PQ index keeps its codes and tombstones in BucketedStore") {
    assert(sitesOf("""partitionBy\(\s*"cell"""".r) === Set.empty,
      "the IVF-PQ codes are a BucketedStore table bucketed on cell, not a cell= partitioning")
    assert(sitesOf("""compacted_batches""".r) === Set.empty,
      "the codes table is its own replay guard (BucketedStore.unseen), no compacted-batches sidecar")
    assert(sitesOf("""/tombstones"""".r) === Set.empty,
      "every index delete goes through BucketedStore.delete, no path tombstone sidecar")
  }

  test("one session factory: every graft JVM builds its session through GraftSession") {
    val builder = """SparkSession\s*\.\s*builder\b""".r
    assert(Seq("src/main/scala", "src/test/scala", "perfbench/src/main/scala")
      .flatMap(sitesIn(_, builder)).toSet ===
      Set("src/main/scala/graft/GraftSession.scala"),
      "a session built elsewhere misses GraftSession's confs, the codegen " +
        "cache size among them (a static conf: the first session decides it)")
  }

  test("one session factory: local files go through graft's in-process-chmod filesystem") {
    val conf = spark.sparkContext.getConf
    assert(conf.get("spark.hadoop.fs.file.impl") ===
      classOf[graft.sources.GraftLocalFileSystem].getName)
    assert(conf.get("spark.hadoop.fs.AbstractFileSystem.file.impl") ===
      classOf[graft.sources.GraftLocalFs].getName)
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    assert(org.apache.hadoop.fs.FileSystem.get(new java.net.URI("file:///"), hadoopConf)
      .isInstanceOf[graft.sources.GraftLocalFileSystem],
      "Hadoop caches one file: filesystem per JVM: a Hadoop filesystem made " +
        "before the first session forks chmod for every file it creates")
  }

  test("one BM25 scorer: its constants appear only in Search") {
    assert(sitesOf("""lit\(2\.2\)""".r, """lit\(0\.75\)""".r) ===
      Set("src/main/scala/graft/operators/Search.scala"),
      "a ranked-retrieval path supplies tf/df/dl to Search.bm25Partials, " +
        "never its own BM25 formula")
  }

  test("oracle SQL never sums raw doubles (SURVEY §4 determinism rule)") {
    // every sum(...) in an oracle must aggregate decimals/ints, not raw
    // double columns whose addition order would change low bits
    val rawDoubleSum = """sum\((l_quantity|l_extendedprice|l_discount|l_tax|o_totalprice|value|p_retailprice|c_acctbal|s_acctbal)\b""".r
    val offenders = SparkEntry.oracleSql.filter { case (_, sql) =>
      rawDoubleSum.findFirstIn(sql.toLowerCase).isDefined
    }.keys.toSeq.sorted
    assert(offenders.isEmpty, s"raw double sums in oracles: $offenders")
  }

  test("every query output is deterministically ordered or aggregated to one row") {
    // ORDER BY (spark side: final Sort/TakeOrdered) or global agg
    val unordered = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val df = fn(spark, sf)
      val plan = df.queryExecution.optimizedPlan.toString
      val ordered = plan.contains("Sort") || plan.contains("GlobalLimit") ||
        df.schema.nonEmpty && fn(spark, sf).queryExecution.analyzed.maxRows.exists(_ <= 1) ||
        // EliminateSorts strips an ORDER BY whose child is provably
        // ≤ 1 row (e.g. ss08's all-aggregate cross joins) — that plan
        // is deterministic precisely BECAUSE maxRows ≤ 1; the hint
        // nodes in the analyzed plan hide it, the optimized plan knows
        df.queryExecution.optimizedPlan.maxRows.exists(_ <= 1)
      if (!ordered) Some(name) else None
    }
    assert(unordered.isEmpty, s"queries without deterministic order: $unordered")
  }
}
