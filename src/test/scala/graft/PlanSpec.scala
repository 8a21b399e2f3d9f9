package graft

import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftTestSession.multiSplit
import graft.operators.Dedup

/** Plan-shape assertions: the optimizations keenwa implements as
  * rules must actually fire in Catalyst for graft's plans — predicate
  * pushdown to parquet, column pruning, broadcast join selection,
  * partial aggregation, whole-stage codegen.
  */
class PlanSpec extends AnyFunSuite {
  private lazy val spark = GraftTestSession.spark
  private val sf = GraftTestSession.sf

  private def physicalPlan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.queryExecution.executedPlan.toString
  }

  test("q71: EXISTS + NOT EXISTS decorrelate to one semi + one anti join, no exchange between") {
    val df = SparkEntry.queries("q71_exists_not_exists")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    val lines = plan.linesIterator.toVector
    val anti = lines.indexWhere(_.contains("LeftAnti"))
    val semi = lines.indexWhere(_.contains("LeftSemi"))
    assert(anti >= 0 && semi > anti,
      s"expected LeftAnti above LeftSemi (anti consumes the semi's output):\n$plan")
    // the semi's probe side feeds the anti directly: no Exchange may
    // sit on the spine between them (the ':'-guttered broadcast/build
    // children are the subquery sides and don't count)
    val spine = lines.slice(anti + 1, semi)
      .filterNot(_.trim.startsWith(":"))
    assert(!spine.exists(_.contains("Exchange")),
      s"left side must not re-exchange between semi and anti:\n$plan")
  }

  test("q01: filter pushed to parquet scan + column pruning") {
    val plan = physicalPlan("q01_agg")
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"), plan)
    // pruned read schema: no l_orderkey/l_partkey in the scan
    assert(plan.contains("ReadSchema"), plan)
    assert(!plan.contains("l_partkey"), "scan should prune unused columns")
  }

  test("src03: ORC scan keeps parquet's pushdown + pruning path") {
    // src03 proves ORC value/type fidelity; this pins the PLAN claim
    // ("Spark's ORC datasource is columnar + vectorized like parquet,
    // so the read side keeps the same pushdown/pruning path"): a
    // filtered 2-column read over an ORC copy must show the predicate
    // in PushedFilters and a pruned ReadSchema, exactly like the
    // parquet assertions above.
    val out = new java.io.File(
      sys.props("java.io.tmpdir"), "graft-plan-orc").toString
    graft.sources.Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_quantity", "l_shipdate", "l_returnflag")
      .write.mode("overwrite").orc(out)
    val df = spark.read.orc(out)
      .filter(col("l_quantity") <= 10.0)
      .select("l_orderkey", "l_quantity")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(l_quantity), LessThanOrEqual(l_quantity,10.0)"),
      plan)
    assert(plan.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"),
      "ORC scan must prune to the 2 referenced columns:\n" + plan)
    assert(!plan.contains("l_returnflag"), plan)
  }

  test("q01: partial (map-side) aggregation before the shuffle") {
    val plan = physicalPlan("q01_agg")
    assert(plan.contains("HashAggregate"), plan)
    assert(plan.contains("partial_"), "expected partial aggregation")
  }

  test("q89: DISTINCT ON election partial-aggregates — one elected struct/key crosses the shuffle, no Window") {
    // the entry's stated reason to exist (Relational.scala q89 note):
    // the election partial-aggregates map-side, so ONE elected struct
    // per key crosses the shuffle — unlike the window-rank form, which
    // shuffles EVERY payload row into a per-key sort, and unlike raw
    // dropDuplicates(subset), which keeps an arbitrary survivor.
    // Spark realizes it as a partial/final SortAggregate pair (struct
    // agg buffers aren't Tungsten-mutable, so HashAggregate can't
    // apply); what matters for the claim is WHERE the sorts run:
    // every election-side Sort is PARTITION-LOCAL and pre-shuffle
    // (`false` global flag), never a post-shuffle sort of payload rows.
    // The shuffle exists only on multi-split input (the one-split
    // shape is pinned below).
    val plan = multiSplit {
      val df = SparkEntry.queries("q89_distinct_on")(spark, sf)
      df.collect()
      df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    }
    assert(plan.contains("partial_max"),
      "expected a map-side partial max(struct) election:\n" + plan)
    assert(!plan.contains("Window"),
      "election must not plan as a window rank:\n" + plan)
    val lines = plan.linesIterator.toVector
    // exactly one exchange (the election's), and the partial agg sits
    // BELOW it: only elected structs cross the wire
    val hashEx = lines.zipWithIndex
      .filter(_._1.contains("Exchange hashpartitioning"))
    val partial = lines.indexWhere(_.contains("partial_max"))
    assert(hashEx.size == 1 && partial > hashEx.head._2,
      "expected the partial election below the single hash exchange:\n" + plan)
    // the only GLOBAL sort is the output orderBy; every other Sort is
    // partition-local (global flag `false`)
    val globalSorts = lines.filter(l => l.contains(" Sort ") && l.contains("], true,"))
    assert(globalSorts.size == 1,
      "expected exactly one global Sort (the output orderBy):\n" + plan)
    assert(lines.indexWhere(_.contains("], true,")) < hashEx.head._2,
      "the global sort must be the output sort above the election:\n" + plan)
  }

  test("q89: on a one-split table the election plans no shuffle exchange") {
    val df = SparkEntry.queries("q89_distinct_on")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(plan.contains("partial_max"), plan)
    assert(!plan.contains("Exchange"), "one-split orders needs no shuffle:\n" + plan)
  }

  test("dq01: the profile spreads orders round-robin, read as one split or several") {
    // the multi-distinct Expand is CPU-bound and a single-row-group
    // file reads its rows in one task however many byte splits it
    // has, so the spread does not depend on the split count
    def plan(): String = {
      val df = SparkEntry.queries("dq01_profile")(spark, sf)
      df.collect()
      df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    }
    val one = plan()
    assert(one.contains("RoundRobinPartitioning"), one)
    val several = multiSplit(plan())
    assert(several.contains("RoundRobinPartitioning"), several)
  }

  test("q90: time-of-day matrix is one partial-aggregable integer groupBy — no join, no window") {
    val df = SparkEntry.queries("q90_time_of_day")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(plan.contains("partial_"),
      "expected map-side partial aggregation of the hour rollup:\n" + plan)
    assert(!plan.contains("Join") && !plan.contains("Window"),
      "tod derivation must stay a map-only projection:\n" + plan)
  }

  test("q03: dimension side broadcast, no shuffle of customer") {
    val plan = physicalPlan("q03_join_inner")
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  private def codegen(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.queryExecution.explainString(org.apache.spark.sql.execution.CodegenMode)
  }

  test("q01: stays inside whole-stage codegen") {
    assert(codegen("q01_agg").contains("WholeStageCodegen"))
  }

  test("t04: custom fingerprint expression is codegen'd (no fallback)") {
    // AQE materializes stages lazily: execute, then inspect the final
    // plan — the `*(n)` prefix marks whole-stage-codegen'd operators
    val df = SparkEntry.queries("t04_fingerprint")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert("""\*\(\d+\) Project \[doc_id.*polyfingerprint""".r.findFirstIn(plan).isDefined, plan)
  }

  test("d20: bloom probe is a codegen map-only Filter, confirm joins broadcast") {
    val df = SparkEntry.queries("d20_bloom_decontaminate")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    // the might_contain prefilter sits inside whole-stage codegen —
    // no join or exchange introduces the bloom
    assert("""\*\(\d+\) Filter .*might_contain""".r.findFirstIn(plan).isDefined, plan.take(4000))
    // and no sort-merge join anywhere: every join in the confirm
    // chain builds on the candidate-sized side
    assert(!plan.contains("SortMergeJoin"), plan.take(4000))
  }

  test("FuseJaccard rule rewrites intersect/union composite to fused kernel") {
    val df = SparkEntry.queries("d02_dedup_minhash")(spark, sf)
    val opt = df.queryExecution.optimizedPlan.toString
    assert(opt.contains("jaccardhashes"), opt.take(3000))
  }

  test("tk01: custom TopKPerKeyExec plans two-phase around one exchange") {
    val df = SparkEntry.queries("tk01_topk_per_key")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    val idx = plan.indexOf("TopKPerKey")
    assert(idx >= 0, plan)
    val rest = plan.substring(idx)
    // final TopKPerKey → exchange → partial TopKPerKey
    assert(rest.contains("Exchange") && rest.indexOf("TopKPerKey", 1) > rest.indexOf("Exchange"), plan)
  }

  test("PruneTopKPerKey: only referenced columns reach the scan") {
    val df = SparkEntry.queries("tk01_topk_per_key")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    // orders has 6 columns; the query touches 3 — the scan must prune
    assert(plan.contains("ReadSchema: struct<o_orderkey:bigint,o_custkey:bigint,o_totalprice:double>"), plan)
  }

  test("tk01 equals the window row_number formulation") {
    val custom = SparkEntry.queries("tk01_topk_per_key")(spark, sf)
      .collect().map(_.toSeq).toSet
    val window = SparkEntry.queries("q18_window_ranking")(spark, sf)
      .select("o_custkey", "o_orderkey", "o_totalprice")
      .collect().map(_.toSeq).toSet
    assert(custom === window)
  }

  test("runtime bloom-filter pruning injects on selective shuffle joins") {
    // the 100 TB relevance: a selective dim filter becomes a row-level
    // bloom filter applied inside the fact scan before the shuffle
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0")
    val prev = confs.map { case (k, _) => k -> spark.conf.get(k) }
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      val l = graft.sources.Tables.lineitem(spark, sf)
      val p = graft.sources.Tables.part(spark, sf).filter(col("p_size") === 1)
      val j = l.join(p, col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand")).agg(count(lit(1)).as("n"))
      val plan = j.queryExecution.optimizedPlan.toString
      assert(plan.contains("bloom_filter") || plan.contains("BloomFilter"), plan.take(3000))
    } finally prev.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("s01: top-k plans as TakeOrderedAndProject (no global sort)") {
    val plan = physicalPlan("s01_similarity_topk")
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("s12: batch search is ONE corpus scan + broadcast queries + k-bounded heap exchange") {
    val df = SparkEntry.queries("s12_batch_search")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    // one scan of the embeddings serves all 8 queries (no per-query
    // job loop): the query table broadcasts, TopKPerKey bounds the
    // only data exchange at k×queries rows
    assert("FileScan parquet".r.findAllIn(plan).size === 2, plan.take(3000))
    assert(plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
    assert(plan.contains("TopKPerKey"), plan.take(3000))
  }

  test("s13: batch PQ search is one codes-only scan serving every query") {
    val df = SparkEntry.queries("s13_batch_pq_search")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    // the fan-out over queries is a generator on the codes scan — no
    // join at all, no embedding column, one k-bounded exchange
    assert("FileScan parquet".r.findAllIn(plan).size === 1, plan.take(3000))
    assert(!plan.contains("embedding"), plan.take(3000))
    assert(plan.contains("Generate"), plan.take(3000))
    assert(plan.contains("TopKPerKey"), plan.take(3000))
  }

  test("s14: batch IVF-PQ search is one partition-pruned codes scan serving every query") {
    val df = SparkEntry.queries("s14_batch_ivfpq_search")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    // s09's pruning composed with s13's generator fan-out: one
    // codes-only FileScan (pruned to the union of probe lists), no
    // join, one k-bounded TopKPerKey exchange
    assert("FileScan parquet".r.findAllIn(plan).size === 1, plan.take(3000))
    assert(!plan.contains("embedding"), plan.take(3000))
    assert(plan.contains("Generate"), plan.take(3000))
    assert(plan.contains("TopKPerKey"), plan.take(3000))
    // the scan reads only the buckets of the union of s14's probe
    // lists (queries vec_id 0..2, nprobe = 2)
    val Seq(scan) = IndexScan.scans(df.queryExecution.executedPlan)
    val index = scan.relation.location.rootPaths.head.getParent.toString
    val emb = graft.sources.Tables.embeddings(spark, sf)
    val probed = (0L until 3L).flatMap { id =>
      val q = emb.filter(col("vec_id") === id).select(col("embedding"))
        .head().getSeq[Float](0).map(_.toDouble).toArray
      graft.operators.Similarity.ivfPqSearchStored(spark, index, q, 2, 1000000)
        .collect().map(_.getLong(1).toInt)
    }.toSet
    IndexScan.assertReadsOnlyCells(spark, df, index, probed)
  }

  test("p04: batch retrieval is query-count-invariant — no per-query corpus scans") {
    val df3 = SparkEntry.queries("p03_retrieval_pipeline")(spark, sf)
    df3.collect()
    val df4 = SparkEntry.queries("p04_batch_retrieval")(spark, sf)
    df4.collect()
    def plan(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    def nScans(p: String) = "FileScan parquet".r.findAllIn(p).size
    val (p3, p4) = (plan(df3), plan(df4))
    // 4 queries vs p03's 1: the chunk-corpus side must not re-scan per
    // query — the only scan p04 may add over p03 is the query table's
    // own second use (terms prune + per-query fan read the same
    // pushdown-pruned doc_id<4 slice twice)
    assert(nScans(p4) <= nScans(p3) + 1,
      s"p04 scans ${nScans(p4)} vs p03 ${nScans(p3)} — corpus work must not scale with queries")
    // per-query top-k is the bounded-heap operator, not a window sort
    assert(p4.contains("TopKPerKey"), p4.take(3000))
  }

  test("s09: IVF-PQ search is one zero-shuffle scan + TakeOrdered") {
    // the index metadata (centroids/codebook/LUTs) is driver-side; the
    // per-vector search itself must be a single exchange-free scan of
    // the probed cells
    val plan = physicalPlan("s09_ivfpq_search")
      .split("== Initial Plan ==").head
    assert(plan.contains("TakeOrderedAndProject"), plan.take(1500))
    assert(!plan.contains("Exchange"), plan.take(1500))
    assert(!plan.contains("Join"), plan.take(1500))
  }

  test("partitioning as a physical property: one exchange reused by sort and agg") {
    // reference README "Physical properties: Partitioning": an explicit
    // repartition(col) establishes hashpartitioning as a plan property;
    // sortWithinPartitions and a same-key aggregate must both ride it
    // without EnsureRequirements inserting a second exchange
    val df = graft.sources.Tables.lineitem(spark, sf)
      .repartition(col("l_orderkey"))
      .sortWithinPartitions("l_orderkey")
      .groupBy("l_orderkey").agg(sum(col("l_quantity")).as("q"))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    val exchanges = "Exchange".r.findAllIn(plan).size
    assert(exchanges === 1, s"expected the single explicit exchange, got $exchanges:\n$plan")
    assert(plan.contains("hashpartitioning(l_orderkey"), plan)
  }

  test("WITH RECURSIVE plans through UnionLoop (Spark 4 recursive CTE)") {
    // q47 now builds its literal-bounded spine with sequence(); the
    // recursive operator itself stays covered here
    val df = spark.sql("""
      WITH RECURSIVE r(n) AS (
        SELECT 1 AS n UNION ALL SELECT n + 1 FROM r WHERE n < 10)
      SELECT sum(n) AS s FROM r""")
    assert(df.queryExecution.optimizedPlan.toString.contains("UnionLoop"),
      df.queryExecution.optimizedPlan.toString)
    assert(df.collect().head.getLong(0) === 55L)
  }

  test("CBO join reorder: ANALYZE stats flip a deliberately bad join order") {
    // the reference's reason to exist: cost-based join re-association
    // (/root/reference/src/optimizer.rs, src/rules/transformation.rs).
    // lineitem JOIN orders first is the bad order when the selective
    // filter sits on customer; with rowCount+column stats Catalyst's
    // CostBasedJoinReorder must move customer into the first join.
    Seq("customer", "orders", "lineitem").foreach { n =>
      // the warehouse dir outlives the in-memory catalog across JVMs:
      // clear both the entry and any orphaned location before saving
      spark.sql(s"DROP TABLE IF EXISTS cbo_$n")
      val loc = new java.io.File(s"/tmp/graft-warehouse/cbo_$n")
      if (loc.exists()) {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
        }
        rm(loc)
      }
      graft.sources.Tables.load(spark, sf, n)
        .write.mode("overwrite").saveAsTable(s"cbo_$n")
      spark.sql(s"ANALYZE TABLE cbo_$n COMPUTE STATISTICS FOR ALL COLUMNS")
    }
    val q = """SELECT c.c_mktsegment, count(*) AS n
               FROM cbo_lineitem l
               JOIN cbo_orders o ON l.l_orderkey = o.o_orderkey
               JOIN cbo_customer c ON o.o_custkey = c.c_custkey
               WHERE c.c_acctbal > 9900
               GROUP BY c.c_mktsegment"""
    def leafOrder(reorder: Boolean): Seq[String] = {
      spark.conf.set("spark.sql.cbo.joinReorder.enabled", reorder.toString)
      try {
        val plan = spark.sql(q).queryExecution.optimizedPlan.toString
        Seq("cbo_lineitem", "cbo_orders", "cbo_customer").sortBy(plan.indexOf)
      } finally spark.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
    }
    val literal = leafOrder(reorder = false)
    val cbo = leafOrder(reorder = true)
    assert(literal.head == "cbo_lineitem", s"baseline should keep the written order: $literal")
    assert(cbo != literal, s"CBO did not reorder the join (still $cbo)")
    assert(cbo.indexOf("cbo_customer") < cbo.indexOf("cbo_lineitem"),
      s"the filtered dimension should join before the fact table: $cbo")
  }

  test("labeled ingest: joins between cut frames plan as static broadcast hash joins") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog while rain falls on the quiet hills"
    val near = "the quick brown fox jumps over the lazy dog while snow falls on the quiet hills"
    val fresh = "crimson dawn breaks over silver rivers while fishermen cast their woven nets"
    val corpus = Seq(1L -> base).toDF("doc_id", "text")
    Dedup.writeSignatureStore(corpus, "pscut", 4)
    Dedup.writeLabelStore(corpus, "pscut", 0.5, 4)
    try {
      val run = JobProbe(spark) {
        Dedup.signatureStore("pscut", 0.5)
          .ingestLabeled(spark, Seq(10L -> near, 11L -> fresh).toDF("doc_id", "text")).collect()
      }
      // a join whose inputs are all cut frames (the classification,
      // attach, label and batch frames): sized by their measured rows,
      // so the static plan already broadcasts, before any stage runs
      def leaves(p: SparkPlanInfo): Seq[String] =
        if (p.children.isEmpty) Seq(p.nodeName) else p.children.flatMap(leaves)
      val cutJoins = run.initial.flatMap(JobProbe.nodes).filter { n =>
        n.nodeName.endsWith("Join") && leaves(n).forall(_ == "Scan ExistingRDD")
      }
      assert(cutJoins.nonEmpty)
      assert(cutJoins.forall(_.nodeName == "BroadcastHashJoin"),
        cutJoins.map(_.simpleString).mkString("\n"))
    } finally Seq("_bands", "_shingles", "_labels", "_remap", "_tombstones")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS pscut$t"))
  }
}
