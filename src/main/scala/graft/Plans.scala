package graft

import java.nio.file.{Files, Paths}

/** Dumps the executed physical plans of flagship queries to PLANS.md —
  * the evidence that the optimizations SURVEY §5 claims (pushdown,
  * pruning, broadcast, partial agg, codegen, two-phase top-k) actually
  * appear in the plans Catalyst produces.
  */
object Plans {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val out = args.lift(1).getOrElse("/root/repo/PLANS.md")
    val spark = GraftSession.local(8)
    // every table read as several splits, the shape tables have at
    // scale: an interactive query plans a one-split table as one
    // partition with no exchange above it, which would hide the
    // shuffles the notes below describe
    spark.conf.set("spark.sql.files.maxPartitionBytes", "64k")
    val picks = Seq(
      "q01_agg" -> "scan+filter+agg: pushed filter, pruned columns, partial agg, codegen",
      "q03_join_inner" -> "join chain: broadcast dims, single shuffle agg, top-k",
      "tk01_topk_per_key" -> "custom operator: partial TopK -> exchange -> final TopK",
      "d02_dedup_minhash" -> "minhash LSH: one signature pass, band explode, bucket join, fused jaccard",
      "s01_similarity_topk" -> "ANN brute force: broadcast query vector, TakeOrderedAndProject",
      "s03_similarity_ivf" -> "IVF: centroid build, broadcast probes, cell-pruned search",
      "ss01_sessionize" -> "sessionization: single window shuffle, partial rollup",
      "d03_dedup_simhash" -> "simhash: 8x8-bit chunk blocking, per-bucket pairs, no self-join",
      "d07_dedup_components" -> "near-dup clusters: converged min-label propagation (final round plan)",
      "q62_theta_sketch" -> "theta sketches: map-side partial sketch agg, 1-row set-op combine",
      "q60_tpch_q10" -> "TPC-H Q10: broadcast nation, shuffled fact joins, decimal agg, top-k",
      "d13_substring_dedup" -> "substring dedup: positioned-hash groupBy, join-back, window over dup positions only",
      "d11_subdoc_dedup" -> "sub-doc dedup: one explode, d02's LSH budget over window units, one rollup shuffle",
      "t10_gopher_rules" -> "rule gate: pure codegen column map pipelined into the scan, no shuffle before the sort",
      "d14_mix_rebalance" -> "mix rebalance: tiny per-source counts broadcast, keep-rate filter as codegen map",
      "t12_pack_chunks" -> "chunked packing: one shard-window cumsum, pure arithmetic after",
      "t13_pack_greedy" -> "greedy packing: one hash exchange on shard, per-shard mapPartitions fold",
      "p01_pipeline" -> "end-to-end pipeline: gate fused into the scan, ntext-window keep-set, shard-window packing — one scan, two shuffles",
      "p02_pipeline_full" -> "FIVE-stage pipeline in one AQE plan: eval split + gate fused into every scan branch, dedup window, decontamination semi-join (AQE-elided when clean), broadcast mix rates, shard-window packing — no stage materializes",
      "m04_audio_stats" -> "audio PCM stats: per-partition javax.sound decode, zero shuffles before the sort",
      "s09_ivfpq_search" -> "IVF-PQ STORED search: codes-only scan of the cell-bucketed BucketedStore table, bucket-pruned to the probed cells (the cell IN filter selects their buckets' files; ReadSchema = vec_id+cell+codes — never the embedding), AdcDist kernel, TakeOrdered, zero shuffles",
      "t16_chunk_overlap" -> "chunking: one generator (sequence+posexplode) with codegen slice/array_join pipelined into the scan — zero shuffles before the output sort",
      "p03_retrieval_pipeline" -> "retrieval pipeline: chunker fused into the BM25 tokenize scan (generator feeds explode with no exchange between), broadcast query-term semi-join before the first shuffle, KB stats broadcasts, TakeOrdered top-20",
      "d17_mixture_sample" -> "token-budget mixture: tiny histogram agg (phase A, driver KB) then ONE bucket-parallel window — Exchange hashes (source, b), never source alone, so no per-source serial stage",
      "s11_matryoshka_recall" -> "matryoshka contract: prefix-cosine shortlist + full-dim re-rank, both broadcast-query TakeOrdered scans — the gate row itself is driver arithmetic",
      "ss04_funnel_stages" -> "N-stage funnel: ONE data exchange — hashpartitioning(user) from the sessionize shuffle satisfies every stage window's (user, session) clustering AND the rollup; stage windows add only partition-local sorts, so the shape is N-invariant",
      "d18_canonical_dedup" -> "canonical election: d05 LSH pairs + d07 CC, then ONE partial-aggregable groupBy(cluster) — max(struct) combines map-side, no per-cluster window, no second shuffle after the label join",
      "s12_batch_search" -> "BATCH exact search: TWO scans total (one corpus pass + the broadcast Q-row query table), CosSim kernel per (vec, query), TopKPerKey bounds the only exchange at k x Q rows — no per-query job loop",
      "s13_batch_pq_search" -> "BATCH stored-PQ search: exactly ONE FileScan (codes-only, no embedding column), concatenated slot-indexed LUTs broadcast as a literal, generator fan-out to (query, vec) pairs, TopKPerKey per query",
      "s14_batch_ivfpq_search" -> "BATCH IVF-PQ stored search: ONE codes-only FileScan bucket-pruned to the UNION of per-query probe lists (the cell IN filter selects their buckets' files), per-(query,cell) LUT segments selected by slot, TopKPerKey per query",
      "p04_batch_retrieval" -> "BATCH retrieval: one chunk-corpus pass, query-independent per-(chunk,term) BM25 partials, broadcast (query,term) fan-in join, decimal-exact sum, TopKPerKey per query — queries never trigger another corpus scan",
      "d19_semantic_dedup" -> "SemDeDup: zero-shuffle PqAssign cell map (centroids are codegen literals in the scan projection — no centroid join anywhere); the within-cell pair join is an equi-join ON CELL (AQE broadcasts the gate-corpus side here; at scale it is one cell-key exchange), so the quadratic stage never leaves its cell; drop set aggregates on id_b and broadcasts back",
      "s15_batch_matryoshka" -> "BATCH matryoshka: one corpus scan, prefix-cosine per (vec, query), TopKPerKey shortlist CARRIES the full vectors so the re-rank stage is heap-local — no second scan, no vec_id join between stages",
      "r01_rerank" -> "retrieve->rerank: jaccard shortlist bounds the exchange at shortlistN x Q rows, the MapPartitions cross-encoder stage sits strictly AFTER TopKPerKey — the pairwise scorer never sees the corpus",
      "t18_quality_classifier" -> "quality classifier: embed (MapPartitions seam) -> zip_with/aggregate dot -> sigmoid, all in one stage, zero exchanges before the output sort",
      "d20_bloom_decontaminate" -> "bloom decontamination: the batch probe is a map-only codegen Filter (the bloom rides the plan as a truncated literal — no join or exchange introduces it); every KEYED exchange (two distincts, the per-doc count) is candidate-sized and both confirm joins broadcast — the only full-width exchanges are the single-file-testdata round-robin repartitions, absent when the source arrives pre-split",
      "t20_percentile_gate" -> "percentile gate: one partial-aggregable groupBy(group, score) is the only corpus exchange; the cumulative window runs over the histogram, thresholds broadcast back into a map-only filter — no per-group corpus sort",
      "ss05_retention" -> "cohort retention: activity collapses to distinct (user, week) BEFORE any user-keyed stage (bot-proof — no per-user ordering window anywhere), then a user-key agg/join pair; the share window runs over the cohort matrix only",
      "rj02_interval_overlap" -> "interval overlap join: both sides explode onto the shared hour grid, bucket equi-join + exact refine + pair distinct (no nested-loop product); Catalyst pushes the 10% user sample filter BELOW the a-side window into its scan, so only the b-side sessionizes the full corpus",
      "s16_knn_join" -> "KNN self-join: ONE LSH bucket exchange (candidate pass), cosine refine computed once per unordered pair (both directions explode from the same row — no union recompute), TopKPerKey partial heaps bound the final exchange at k rows/id",
      "d21_weighted_sample" -> "systematic weighted sample: KB bucket histogram (phase A, driver prefix) then ONE bucket-parallel window — Exchange hashes b, never a single partition; stride selection is a codegen integer filter",
      "t21_dsir_weights" -> "DSIR weights: token pass partial-aggs to <=4096 rows/task before the only bucket-keyed exchange, the model is a 4096-row broadcast, scoring is broadcast-join + one doc_id rollup — no corpus-sized keyed exchange anywhere",
      "pr01_pagerank" -> "PageRank: per-round edge join + partial-aggregable inflow groupBy(dst), ranks are scaled BIGINTs (no float, no decimal payload); edges/deg/nodes localCheckpoint-ed so rounds never re-execute the LSH edge chain",
      "ss06_sessionize_bounded" -> "bounded sessionize: one partial-aggregable per-user count elects the hot set (broadcast, tiny), session window partitions on (user, slice) — no task sorts more than one hot day; normal users ride slice 0 bit-identically to ss01",
      "ts01_resample_ffill" -> "resample+ffill: ONE event-sized partial-aggregable (key, bucket) exchange; spine generation, gap join and the carry-forward window all run on bucket-sized data (the window partition is hours-long, not event-long)",
      "tr01_triangles" -> "triangles: degree-ordered orientation (out-degree <= sqrt(2m) under any skew), wedge self-join on src, ONE semi-join close check — no all-pairs stage, counting only",
      "wh01_scd2_history" -> "SCD2 build: lag change-detect, version row_number and interval-close lead share ONE (key) exchange and one (ts, tie) sort — the filter between windows preserves both properties",
      "rec01_item_jaccard" -> "item-item Jaccard: basket-bounded pair self-join, item-sized support joins, TopKPerKey bounds the final exchange at k rows/item — no per-item sort",
      "dq01_profile" -> "column profile: ONE scan, all metrics in a single Aggregate (Expand x distinct-cols is the exact-distinct cost), output is column-count rows",
      "er01_candidate_pairs" -> "ER candidates: self-join hashed on the BLOCK key (no cartesian, no BNLJ) — the quadratic stage never leaves its block; integer features + keep prune computed inside the join stage",
      "bfs01_shortest_hops" -> "multi-source BFS (final round): frontier-sized edge join + visited-sized anti-join only — per-round cost tracks the frontier, never the graph; lineage cuts keep the plan flat",
      "cdc01_snapshot_diff" -> "CDC diff: ONE snapshot-sized full-outer hash join, change classification map-only on top — fact history never joined",
      "ix02_phrase_search" -> "phrase search: anchor trick — broadcast phrase table join + ONE (doc, anchor) groupBy for any phrase length; exchanges bounded by phrase-word postings, never corpus",
      "t22_quantile_bins" -> "quantile bins: histogram ranks (partial-agg (group,score) count, cum window over the HISTOGRAM), tie index keyed by (group,score) — no group-only sort of the corpus, one hot language cannot serialize a task",
      "cor01_column_moments" -> "column moments: ONE Aggregate over one scan carries all pair statistics (map-side partials), output is pair-count rows; corr a scalar expression on top",
      "ts05_mad_outliers" -> "MAD outliers: two histogram-elected medians (partial-agg counts + histogram windows), broadcast med/mad joins, map-only flag — no per-key sort of the corpus",
      "rfm01_segments" -> "RFM: one fact groupBy(customer) + 1-row max-date broadcast; the three quantile binning passes run over the customer frame with histogram-sized windows",
      "kc01_kcore" -> "k-core (final round): one partial-aggregable degree count + two semi-joins over the shrunken edge set — per-round cost tracks surviving edges only",
      "ss07_user_growth" -> "user growth: (user, day) distinct collapse BEFORE any user-keyed stage, first-seen one partial-agg min, cumulative window over the calendar-sized day table",
      "ts06_seasonal_anomalies" -> "seasonal anomalies: event-sized (key, day, hod) count partial-aggs; median election + flag run on day-hour-sized frames",
      "ix01_conjunctive_search" -> "conjunctive search: IN-list term filter map-only over the scan, (word, doc) distinct + doc count bounded by matched postings",
      "er04_multikey_pairs" -> "multi-pass blocking: two block-keyed hash joins unioned + pair dedup — no cartesian in either pass, cost additive in passes",
      "ix03_contamination_audit" -> "contamination audit: ONE postings pass for the whole phrase list — (phrase, slot, word) broadcast, (doc, phrase, anchor) groupBy, source rollup",
      "q71_exists_not_exists" -> "TPC-H Q21 shape: EXISTS + NOT EXISTS on the same table decorrelate to ONE left-semi + ONE left-anti join stacked directly on the filtered l1 scan inside a single codegen span — no exchange on the probe spine between them (PlanSpec-asserted)",
      "er05_incremental_er" -> "incremental ER ingest: the batch's block rows join the bucketed blocks store with ZERO store-side exchange (the bucketed write IS its shuffle); attach/merge frames are match-edge-sized; the final labels read is one broadcast remap hop over the bucketed labels table",
      "ix04_ranked_search" -> "BM25 ranked retrieval: IN-list term filter map-only over the postings scan (bucket-pruned on a stored index), tf/df exchanges candidate-sized, dl joined from the slim registry, 1-row stats broadcast, k-row TakeOrdered",
      "tr03_common_neighbors" -> "common-neighbor recs: ONE center-keyed wedge self-join (equi, no BNLJ), canonical-pair partial-aggregable count, equi anti-join against the edge list, per-vertex rank window over candidate pairs only",
      "t23_weighted_sample" -> "systematic weighted sample (corpus entry): KB histogram agg -> driver prefix -> bucket-parallel windows (Exchange hashes the h-range bucket, never one partition); selection a codegen integer floor-div filter",
      "wh04_allocation" -> "largest-remainder allocation: ONE (order) exchange shared by the weight-sum window, the remainder-rank window and the residual window; all arithmetic integer codegen",
      "ss10_session_paths" -> "session paths: hashpartitioning(user) from the sessionize shuffle satisfies the (user, session) prefix window AND the per-session collect; the only other exchange is the path-cardinality rollup before top-k",
      "dq06_psi_drift" -> "PSI drift: one partial-aggregable groupBy(value), broadcast 1-row min/max -> integer bin ids, dense 10-row spine left join, 1-row totals broadcast — everything after the value groupBy is bins-sized",
      "ar02_sequential_rules" -> "sequential rules: ONE (session, type) endpoint-struct aggregate replaces any event-level pair join — the rule join is quadratic in TYPES per session; supports partial-agg, N a 1-row broadcast",
      "tr04_adamic_adar" -> "Adamic-Adar: wedge self-join on the center with 1/ln(deg) weights riding the rows as DECIMAL — the pair score partial-aggregates map-side exactly; anti-join + per-vertex rank on candidate pairs only",
      "ts13_changepoint" -> "CUSUM changepoint: one per-key cum-sum window over the BUCKET-sized grid, argmax one partial-aggregable max(struct) — no event-volume stage after resample's groupBy",
      "q80_tpch_q19" -> "TPC-H Q19 shape: both OR-of-ANDs envelopes reach the scans (PushedFilters shows the brand/size disjunction on part and the quantity range on lineitem), part broadcasts, full predicate re-checked post-join only",
      "q83_tpch_q8" -> "TPC-H Q8 shape: every dim broadcasts (customer/nation/region/supplier) — lineitem⋈orders is the only shuffled join; per-year conditional DECIMAL sums partial-aggregate map-side",
      "d26_containment_join" -> "containment join: one-sided prefix filter — candidates from A-prefix ⋈ full-token equi join (no all-pairs), intersection counted by joining candidates back to token lists, verify a codegen integer filter",
      "tr05_assortativity" -> "assortativity: edge-sized degree groupBy + two equi joins land degrees on endpoints, then ONE partial-aggregable global Aggregate carries all five sufficient stats — single-row output, no vertex-quadratic stage",
      "ss11_stickiness" -> "DAU/MAU stickiness: distinct (user,day) collapse, per-user lead window on presence rows, per-day ±1 delta groupBy — the ONLY unpartitioned window runs over the calendar-day spine, never user-volume rows",
      "t26_stratified_sample" -> "stratified sample: KB (stratum, bucket) histogram collect, driver largest-remainder allocation, bucket-parallel rank windows (Exchange hashes (stratum, b)) — no per-language serial window",
      "hc01_harmonic_centrality" -> "harmonic centrality (final round): seed-labeled multi-source BFS — ONE frontier join serves all seeds, visited anti-join keyed (seed,id); inverse distances integer floor-div, partial-aggregable rollup",
      "wh05_inventory_balance" -> "clamped balance: ONE (key) Exchange (the repartition), per-key mapPartitions fold with 3 longs of state — no window, no second shuffle; the groupBy feeding it is the only other exchange",
      "ts15_holt" -> "Holt fold: one partial-aggregable (key, bucket) cents groupBy + one (key) Exchange into the mapPartitions two-register fold — bucket-sized partitions, event volume never crosses after the first agg",
      "ix05_proximity_search" -> "proximity search: both sides term-filtered postings (map-only filters on the scan), equi join on doc with the |pa-pb|<=w test residual — no range-join product, exchanges posting-list-sized",
      "ar03_transitions" -> "transitions: per-user lag window on the user exchange, then a partial-aggregable (src,dst) groupBy — everything after the window is type-cardinality^2 rows",
      "rj04_coverage_gaps" -> "coverage/gaps: session build's user exchange satisfies the per-user session lag window AND the final groupBy — one data exchange end to end",
      "dq10_entropy" -> "entropy profile: per-column value histogram groupBy (partial-agg), per-term rounded decimal sums — the entropy row is scalar arithmetic on a 1-row aggregate",
      "q84_tpch_q11" -> "TPC-H Q11 shape: broadcast supplier semi-join BEFORE both aggregates, per-part decimal agg + 1-row global total broadcast, integer-cross-multiplied HAVING",
      "m09_image_neardup" -> "image near-dup: decode mapPartitions -> 2-of-8 chunk-PAIR key explode (28 16-bit keys, complete <=6) -> ONE (combo, key) equi join (no BNLJ, no all-pairs; full-entropy floor n^2/4681, not the replaced single-chunk n^2/64) -> exact bit_count(xor) filter",
      "d28_novelty" -> "novelty curve: shingle explode -> per-shingle min (partial-agg) -> two doc-sized rollups; NO window anywhere",
      "t27_zipf_slope" -> "Zipf slope: histogram-elected ranks (no vocab-sized window anywhere) — log2(f)-bucket offsets via a <=64x64 triangular join, bucket-PARTITIONED cum windows over histogram rows, 64k-chunked rank-block explode repartitioned so the hapax class fans out; per-term rounded decimal sums, 1-row output",
      "src01_jsonl_roundtrip" -> "JSONL roundtrip: write + schema'd read + single Aggregate checksum — the read scan must show the explicit schema, no inference pass",
      "wh06_fifo_cogs" -> "FIFO COGS: the queue fold's closed form — ONE (part) running-sum window over restock rows + broadcast-able issue totals; consumption a codegen clamp expression",
      "ts16_peaks" -> "peak detection: resample's (key,bucket) groupBy then lag/lead on the bucket-sized grid — one partition-local sort, prominence an integer filter",
      "sql19_exists_or" -> "OR-correlated EXISTS (disjunction across arms): no equi-conjunct exists to hash on, so the SEMANTICALLY FORCED plan is a BroadcastNestedLoopJoin left-semi — correct, not an accidental product (PlanGuardSpec allowlists it with this rationale); the probe side stays scan-pruned",
      "sql05_join_cross" -> "explicit CROSS JOIN + implicit comma list: the INTENDED product — BroadcastNestedLoopJoin/CartesianProduct over two 25/5-row dims is the right plan, and the count shape bounds the output before the sort (PlanGuard-allowlisted as intended)",
      "q88_array_slice_stride" -> "array-slice STRIDE walk: pure codegen transform(sequence(lo, hi, step)) projection pipelined into the scan — no explode, no join, zero exchanges before the output sort",
      "q89_distinct_on" -> "DISTINCT ON election: partial/final max(struct) aggregate pair — the map side elects per partition, so ONE elected struct per key crosses the single hash exchange; no Window anywhere, and every election-side Sort is PARTITION-LOCAL pre-shuffle (Spark picks SortAggregate because struct agg buffers aren't Tungsten-mutable — the shuffle-volume claim is unchanged; the window-rank form would shuffle every order row into a post-shuffle per-key sort, raw dropDuplicates(subset) keeps an arbitrary survivor) — PlanSpec-asserted",
      "q90_time_of_day" -> "TIME-of-day matrix: tod/wrap/extract arithmetic is a pure-integer codegen projection pipelined into the scan, then ONE partial-aggregable hour groupBy — no join, no window, output is 24 rows",
      "m10_audio_fingerprint" -> "audio perceptual fingerprint: per-partition javax.sound decode + integer HK grid, zero shuffles before the output sort",
      "m11_audio_neardup" -> "audio near-dup: m09's plan through the shared hammingPairs on the Haitsma-Kalker fingerprint, at the <=2 tier blocked on three 21/21/22-bit chunks (2^21-selective keys, floor n^2/1.68M) — the image and audio faces of the near-dup triangle are one code path",
      "m12_video_neardup" -> "video near-dup: frame-walk mapPartitions -> distinct signature -> maxDf stop-frame semi-join (no-signal frames shared by >50 videos dropped BEFORE the self-join) -> ONE (hash_hi, hash_lo) equi join whose groupBy count IS the verify — no BNLJ, no all-pairs, no second pass",
      "m13_perceptual_blocking" -> "perceptual blocking report, BOTH tiers: key explode -> ONE partial-aggregable (combo, key) count per tier -> 2-row Christen metrics (pairs16 over image dHashes, chunks21 over audio fingerprints) — the pre-join go/no-go costs one pass over key rows, never pairs",
      "m14_media_ingest" -> "incremental media dedup: batch fingerprints -> skey explode -> ONE equi join against the BUCKETED fingerprint store (store side scans bucketed, zero exchange — only the batch shuffles) with the exact hamming verify in the same hop; append is batch-sized",
      "m15_video_ingest" -> "incremental VIDEO dedup: batch frame hashes -> ONE single-key fkey equi join against the BUCKETED video-signature store (store side scans Bucketed: true with zero hash exchange; only the batch shuffles) with the exact hash verify riding as a non-equi hamming-0 condition (a plain equality filter would be lifted into the join keys and re-shuffle the store under the all-cluster-keys co-partition rule) and the groupBy count as the shared-frame verify; the maxDf stop-frame valve re-derives the HOT set from the store's current df counts per probe (exchange-free partial agg on the bucket column) and anti-joins it into the BATCH side — join output stays <= batch x maxDf however the corpus grows; append is batch-sized",
      "m16_audio_ingest" -> "incremental media dedup at the chunks21 (<=2) tier: m14's plan with the three 21/21/22-bit wide-chunk keys (2^21-selective) as the store layout — the dial pins the scheme, the store side is exchange-free, the exact hamming verify rides the same hop",
      "s18_opq_recall" -> "OPQ recall CONTRACT row: the exhibited plan is the final 1-row literal projection by design — the measured work (rotation, probe, ADC shortlist, exact re-rank) runs through the SAME ivfPqRerankRecall pipeline twice whose stored-search shape s09/s14 already exhibit (codes-only pruned scans); the gate's eigensolve is documented driver d^2 work on a KB corpus")
    val sb = new StringBuilder
    sb.append("# PLANS — executed physical plans (AQE final)\n\n")
    sb.append(s"Generated by `graft.Plans` on `$sfDir`. Regenerate: " +
      "`sbt \"runMain graft.Plans\"`. Tables are read as several splits " +
      "(`spark.sql.files.maxPartitionBytes` = 64k), as at scale; in an interactive " +
      "(Relational, SqlMatrix) query a table read as one split plans as a single " +
      "partition with no exchange above it. Expression ids, lambda variables " +
      "and plan ids are renumbered per plan in first-seen order; the stored " +
      "indexes' per-JVM root and the table name digested from it print as " +
      "`run_<jvm>` and `graft_index_<digest>`.\n")
    picks.foreach { case (name, why) =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      sb.append(s"\n## $name\n\n$why\n\n```\n${shown(df)}\n```\n")
    }
    // Not a queries entry: src03's oracle proves ORC VALUE fidelity;
    // this exhibit pins its PLAN claim — the ORC read side keeps the
    // same pushdown/pruning path the suite proves on parquet
    // (PlanSpec asserts the same two lines).
    locally {
      val orcDir = new java.io.File(
        sys.props("java.io.tmpdir"), "graft-plan-orc").toString
      graft.sources.Tables.lineitem(spark, sfDir)
        .select("l_orderkey", "l_quantity", "l_shipdate", "l_returnflag")
        .write.mode("overwrite").orc(orcDir)
      val df = spark.read.orc(orcDir)
        .filter(org.apache.spark.sql.functions.col("l_quantity") <= 10.0)
        .select("l_orderkey", "l_quantity")
      val plan = shown(df)
      sb.append("\n## src03_orc_pushdown (evidence exhibit)\n\n" +
        "ORC scan keeps parquet's pushdown path: the quantity predicate " +
        "reaches PushedFilters and ReadSchema prunes to the 2 referenced " +
        "columns (src03's oracle row proves the VALUE/type fidelity; " +
        "this pins the plan claim)\n\n" +
        s"```\n$plan\n```\n")
    }
    // Not a queries entry: m14's exhibit above shows only the
    // checkpointed classification scan — this pins the PROBE JOIN's
    // plan claim (the store side of the skey join scans bucketed with
    // zero exchange; MediaDedupSpec asserts the same lines)
    locally {
      import org.apache.spark.sql.functions._
      val fps = graft.operators.Multimodal.imageDHash(spark, sfDir)
      graft.operators.MediaDedup.writeFingerprintStore(
        spark, "plans_fpstore", fps, 6)
      val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      val plan = try {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        val df = graft.operators.MediaDedup.fingerprintStore("plans_fpstore", 6)
          .matches(spark, fps.limit(50).select(col("doc_id") + 1000000L as "doc_id",
            col("hash_hi"), col("hash_lo")))
        shown(df)
      } finally {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        Seq("_fpblocks", "_fps", "_fpdial")
          .foreach(s => spark.sql(s"DROP TABLE IF EXISTS plans_fpstore$s"))
      }
      sb.append("\n## m14_store_probe (evidence exhibit)\n\n" +
        "the fingerprint store's probe join (broadcast disabled to " +
        "force the merge-join shape): the store side scans " +
        "`Bucketed: true` with NO Exchange — the bucketed write WAS " +
        "its shuffle; only the batch side exchanges\n\n" +
        s"```\n$plan\n```\n")
    }
    // m15's equivalent: the entry exhibit above shows only the
    // checkpointed classification scan — this pins the VIDEO store's
    // probe-join claim (store side of the fkey join bucketed, zero
    // exchange) AND the maxDf valve's df-count claim (grouping on the
    // bucket column → the bucketed scan satisfies the aggregation, no
    // Exchange anywhere; MediaDedupSpec asserts the same lines)
    locally {
      import org.apache.spark.sql.functions._
      val frames = graft.operators.Multimodal.videoFrameHashes(spark, sfDir)
        .select(col("doc_id"), col("hash_hi"), col("hash_lo"))
      graft.operators.MediaDedup.writeVideoSignatureStore(
        spark, "plans_vstore", frames)
      val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      val (joinPlan, dfPlan) = try {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        val df = graft.operators.MediaDedup.videoStore("plans_vstore", 3, 50)
          .matches(spark, frames.limit(200).select(col("doc_id") + 1000000L as "doc_id",
            col("hash_hi"), col("hash_lo")))
        (shown(df), shown(spark.table("plans_vstore_vframes")
          .groupBy(col("fkey"), col("hash_hi"), col("hash_lo"))
          .agg(count(lit(1)).as("df"))))
      } finally {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        Seq("_vframes", "_vdocs")
          .foreach(s => spark.sql(s"DROP TABLE IF EXISTS plans_vstore$s"))
      }
      sb.append("\n## m15_store_probe (evidence exhibit)\n\n" +
        "the video-signature store's probe join (broadcast disabled): " +
        "a SINGLE-KEY fkey SortMergeJoin whose store leg scans " +
        "`Bucketed: true` with NO hash Exchange (the only broadcast " +
        "in the leg moves batch ids — the replay guard); the exact " +
        "hash verify rides as the non-equi hamming-0 join condition, " +
        "and the hot-frame valve anti-joins the BATCH side; only the " +
        "batch side exchanges\n\n" +
        s"```\n$joinPlan\n```\n" +
        "\nthe maxDf valve's store-df count, re-derived per probe: " +
        "grouping includes the bucket column, so the bucketed scan " +
        "satisfies the aggregation — NO Exchange in the whole plan\n\n" +
        s"```\n$dfPlan\n```\n")
    }
    Files.writeString(Paths.get(out), sb.toString)
    println(s"[plans] wrote $out")
    spark.stop()
  }

  /** The AQE final plan of `df`, run first, as one section shows it:
    * expression ids (`#1071`), lambda-variable suffixes (`x_12`) and
    * plan ids renumbered in first-seen order, JVM lambda class names
    * stripped of their per-run suffix, and the stored indexes' per-JVM
    * root (`graft_idx/run_<pid>_<hex>`) and the catalog name digested
    * from it printed as placeholders, so a regeneration differs only
    * where a plan changed; lines capped at 400 characters (large
    * literals — the d20 bloom is numBits/8 bytes of hex — would
    * otherwise dump megabytes into the evidence). */
  private def shown(df: org.apache.spark.sql.DataFrame): String = {
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head.trim
    def renumber(text: String, re: scala.util.matching.Regex,
        show: (scala.util.matching.Regex.Match, Int) => String): String = {
      val ids = scala.collection.mutable.LinkedHashMap.empty[String, Int]
      re.replaceAllIn(text, m => scala.util.matching.Regex.quoteReplacement(
        show(m, ids.getOrElseUpdate(m.group(2), ids.size + 1))))
    }
    val lambdas = renumber(plan, """(lambda \w+?)_(\d+)#""".r,
      (m, i) => s"${m.group(1)}_$i#")
    val exprs = renumber(lambdas, """(#)(\d+)""".r, (_, i) => s"#$i")
    renumber(exprs, """(plan_id=)(\d+)""".r, (_, i) => s"plan_id=$i")
      .replaceAll("""\$Lambda\$\d+/0x\p{XDigit}+@\p{XDigit}+""",
        java.util.regex.Matcher.quoteReplacement("$Lambda"))
      .replaceAll("""/graft_idx/run_\d+_\p{XDigit}+""", "/graft_idx/run_<jvm>")
      .replaceAll("""graft_index_\p{XDigit}{64}""", "graft_index_<digest>")
      .linesIterator.map(l => if (l.length > 400) l.take(400) + "…<truncated>" else l)
      .mkString("\n")
  }
}
