package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{BucketedStore, Tables}
import graft.functions.{vectorCosine, vectorDot}
import graft.operators.Dedup

/** Approximate-nearest-neighbor search over embedding columns.
  *
  * s01 is the brute-force baseline: broadcast the query vector, one
  * codegen cosine per row, TakeOrderedAndProject for top-k — linear,
  * no shuffle, the right plan at any scale for a single query vector.
  * s02 is the scale path for pairwise search: OR-ed multi-table
  * banded LSH (`tables` keys of `bits` hyperplane sign bits each; a
  * pair is a candidate iff ANY table key collides) bounds per-bucket
  * quadratic work by 2^bits per table while the table count dials
  * per-pair recall 1-(1-p^bits)^tables toward 1 — the same
  * band-OR construction d02 uses for minhash. s05 MEASURES that
  * recall against the brute-force truth and gates on it.
  */
object Similarity {
  type QFn = (SparkSession, String) => DataFrame

  /** Default LSH shape: 48 tables x 4 bits (192 hash-derived
    * hyperplanes). At the 0.30-cosine threshold (per-bit agreement
    * p ~ 0.60) per-pair recall is 1-(1-p^4)^48 ~ 0.999; measured
    * recall on the gate corpus is 1.0 (s05). `bits` is the
    * scale dial: raise toward log2(n) as corpus density grows. */
  val LshTables = 48
  val LshBits = 4

  /** Deterministic hash-derived hyperplanes — kernel + derivation in
    * [[graft.functions.GraftVec.planeComponent]] (kept recomputable
    * in DuckDB SQL for the oracle). */
  private[operators] def planeComponent(p: Int, j: Int): Double =
    graft.functions.GraftVec.planeComponent(p, j)

  /** One bucket-collected candidate stream carrying `payload` columns
    * per vector. Pairs are generated inside each (table, key) bucket
    * and emitted exactly once — from their FIRST colliding table, an
    * allocation-free per-row predicate over the two key arrays — so
    * the multiplied candidate stream never needs a global distinct()
    * re-shuffle. Buckets are bounded by the 2^bits key space per
    * table (`bits` is the density dial; raise it toward log2(n) as
    * the corpus grows).
    */
  private def lshBucketedPairs(embeddings: DataFrame, tables: Int, bits: Int,
      payload: Seq[String]): DataFrame = {
    val cols = (Seq("vec_id", "keys") ++ payload).map(col)
    val keyed = embeddings.select(col("vec_id"), col("embedding"),
      graft.functions.lshBucketKeys(col("embedding"), tables, bits).as("keys"))
      .select(posexplode(col("keys")).as(Seq("tbl", "bkey")), struct(cols: _*).as("v"))
    keyed.groupBy(col("tbl"), col("bkey"))
      .agg(collect_list(col("v")).as("ds"))
      .filter(size(col("ds")) > 1)
      .select(col("tbl"), posexplode(col("ds")).as(Seq("i", "x")), col("ds"))
      .select(col("tbl"), col("x"),
        explode(slice(col("ds"), col("i") + 2, size(col("ds")))).as("y"))
      .filter(graft.functions.firstMatch(col("x.keys"), col("y.keys")) === col("tbl"))
  }

  /** Distinct candidate id pairs sharing >=1 of the `tables` LSH
    * bucket keys (minimal payload; used by the s05 recall contract).
    */
  def lshCandidatePairs(embeddings: DataFrame,
      tables: Int = LshTables, bits: Int = LshBits): DataFrame =
    lshBucketedPairs(embeddings, tables, bits, Nil)
      .select(least(col("x.vec_id"), col("y.vec_id")).as("id_a"),
        greatest(col("x.vec_id"), col("y.vec_id")).as("id_b"))

  /** Pairwise near-duplicate search: LSH-bucketed candidates with the
    * exact-cosine refine FUSED into the pair-generation row (the
    * embedding rides through the band shuffle) — one shuffle, no
    * refine joins, no distinct.
    */
  def nearDupPairs(embeddings: DataFrame, cosMin: Double,
      tables: Int = LshTables, bits: Int = LshBits): DataFrame =
    lshBucketedPairs(embeddings, tables, bits, Seq("embedding"))
      .select(least(col("x.vec_id"), col("y.vec_id")).as("id_a"),
        greatest(col("x.vec_id"), col("y.vec_id")).as("id_b"),
        round(vectorCosine(col("x.embedding"), col("y.embedding")), 6).as("cos"))
      .filter(col("cos") >= cosMin)
      .orderBy("id_a", "id_b")

  /** Thresholded KNN self-join: for EVERY vector, its top-`k` most
    * similar OTHER vectors among pairs with cosine >= `cosMin` — the
    * corpus-wide "nearest neighbors table" (near-dup triage, semantic
    * clustering seeds, hard-negative mining). Candidates come from the
    * same banded multi-table LSH as [[nearDupPairs]] (never all-pairs;
    * the s05/d05 recall contract covers the >=cosMin band), the pair
    * list is symmetrized with one zero-shuffle unionAll, and the
    * per-id top-k runs on the TopKPerKey custom operator — a bounded
    * heap per id, so the exchange after pair generation carries at
    * most k rows per id instead of every candidate (the window
    * row_number formulation would sort each id's full candidate list).
    * Ranking uses the ROUNDED cosine (6 dp) with the neighbor id as
    * the unique tiebreak, so the result is replay-exact on any engine.
    */
  def knnJoin(embeddings: DataFrame, cosMin: Double, k: Int): DataFrame = {
    // both directions emitted from ONE pair row (explode of a 2-struct
    // array), so the exact-cosine refine — the dominant CPU of the op —
    // runs once per unordered candidate pair, not once per union branch
    val sym = lshBucketedPairs(embeddings, LshTables, LshBits, Seq("embedding"))
      .select(col("x.vec_id").as("ida"), col("y.vec_id").as("idb"),
        round(vectorCosine(col("x.embedding"), col("y.embedding")), 6).as("cos"))
      .filter(col("cos") >= cosMin)
      .select(explode(array(
        struct(col("ida").as("id"), col("idb").as("nb"), col("cos")),
        struct(col("idb").as("id"), col("ida").as("nb"), col("cos")))).as("e"))
      .select(col("e.id").as("id"), col("e.nb").as("nb"), col("e.cos").as("cos"))
    TopK.topKPerKey(sym, Seq("id"), ord = "cos", tie = "nb", k = k)
      .select(col("id"), col("nb"), col("cos"))
  }

  /** Brute-force cosine top-k of `embeddings` vs the vector with
    * `queryId`: broadcast one row, codegen cosine per row, Spark plans
    * the order+limit as TakeOrderedAndProject (per-partition top-k,
    * driver merge — no full sort, no shuffle).
    */
  def cosineTopK(embeddings: DataFrame, queryId: Long, k: Int): DataFrame = {
    val q = embeddings.filter(col("vec_id") === queryId).select(col("embedding").as("qe"))
    embeddings.crossJoin(broadcast(q))
      .select(col("vec_id"),
        round(vectorCosine(col("embedding"), col("qe")), 6).as("cos"))
      .filter(col("vec_id") =!= queryId)
      .orderBy(desc("cos"), col("vec_id")).limit(k)
  }

  /** BATCH exact top-k — [[cosineTopK]] generalized from one
    * hardcoded query to a query DATAFRAME, the serving shape at
    * scale: ONE corpus scan answers every query. The query table
    * broadcasts (a query batch is KB–MB); the corpus side never
    * shuffles — the broadcast join expands each corpus row across the
    * queries, and per-query top-k runs on the bounded-heap TopKPerKey
    * operator, so the only exchange is k×queries rows (never the
    * expanded candidate stream). No per-query job loop anywhere.
    */
  def cosineTopKBatch(embeddings: DataFrame, queries: DataFrame, k: Int,
      excludeSelf: Boolean = false): DataFrame = {
    val q = queries.select(col("query_id"), col("embedding").as("qe"))
    val scored = embeddings.crossJoin(broadcast(q))
      .filter(if (excludeSelf) col("vec_id") =!= col("query_id") else lit(true))
      .select(col("query_id"), col("vec_id"),
        round(vectorCosine(col("embedding"), col("qe")), 6).as("cos"))
    TopK.topKPerKey(scored, Seq("query_id"), "cos", "vec_id", k)
      .select(col("query_id"), col("vec_id"), col("cos"))
  }

  /** BATCH stored-PQ search — [[pqSearchStored]] over a query batch:
    * the per-query ADC LUTs concatenate into ONE flat literal and the
    * existing AdcDist slot argument selects the segment, so a single
    * codes-only scan (still m bytes/vector, tombstone-filtered,
    * never the embeddings) serves every query: each code row fans out
    * across the query list via one generator, and per-query top-k
    * runs on the bounded-heap TopKPerKey operator. Queries collect to
    * the DRIVER like every other index-metadata path (Q×m×k doubles
    * — KB for serving-sized batches; shard the query table over
    * multiple calls beyond that).
    */
  def pqSearchStoredBatch(spark: SparkSession, path: String,
      queries: DataFrame, topK: Int, excludeSelf: Boolean = false): DataFrame = {
    val (m, k, dim, cbFlat) = readPqSidecars(spark, path)
    val qs = queries.select(col("query_id").cast("long"), col("embedding"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
      .sortBy(_._1)
    require(qs.nonEmpty, "empty query batch")
    qs.foreach { case (id, q) => require(q.length == dim,
      s"query $id dim ${q.length} != index dim $dim at $path") }
    // enforced LUT ceiling — see ivfPqSearchStoredBatch; here the
    // literal is Q × m × k doubles
    val lutDoubles = qs.length.toLong * m * k
    val lutCeil = batchLutMaxDoubles(spark)
    require(lutDoubles <= lutCeil,
      s"pqSearchStoredBatch: ${qs.length} queries needs a $lutDoubles-double " +
        s"LUT literal > ceiling $lutCeil (graft.index.batchLutMaxDoubles); " +
        "shard the query table over multiple calls and union the results")
    // same rotation crossing as the single-query path, per query
    val rot = opqRotationOpt(spark, path)
    val lutsFlat = qs.flatMap { case (_, q) =>
      adcLutFlat(rot.map(rotateQuery(_, q)).getOrElse(q), cbFlat, m, k) }
    val qids = array(qs.map(q => lit(q._1)): _*)
    val scored = readPqCodes(spark, path)
      .select(col("vec_id"), col("codes"),
        posexplode(qids).as(Seq("slot", "query_id")))
      .filter(if (excludeSelf) col("vec_id") =!= col("query_id") else lit(true))
      .select(col("query_id"), col("vec_id"),
        graft.functions.adcDist(col("codes"), col("slot"), lutsFlat, m, k).as("adc"))
      .withColumn("neg_adc", lit(0.0) - col("adc"))
    TopK.topKPerKey(scored, Seq("query_id"), "neg_adc", "vec_id", topK)
      .select(col("query_id"), col("vec_id"), round(col("adc"), 6).as("adc_dist"))
  }

  /** Measured recall of the banded-LSH candidate stage vs the
    * brute-force truth at `cosMin` — the index CONTRACT (pattern:
    * s04's recall gate). Brute truth is gate-corpus-sized by design;
    * at scale the contract runs on a sample.
    */
  /** `samplePct`: the exact-truth side runs on a deterministic
    * hash-sample of the vectors (d06's mod-p hash — replayable in the
    * oracle). The LSH candidate side stays FULL-corpus: recall is
    * estimated over sampled truth pairs, which is exactly how the
    * contract runs at 100 TB (all-pairs truth is quadratic; the
    * candidate structure being measured is unchanged). 100 = no
    * sampling. */
  def lshRecall(embeddings: DataFrame, cosMin: Double,
      tables: Int = LshTables, bits: Int = LshBits,
      samplePct: Int = 100): DataFrame = {
    val sampled =
      if (samplePct >= 100) embeddings
      else embeddings.filter(
        pmod(pmod(col("vec_id"), lit(1000003L)) * lit(427799L), lit(1000003L))
          % 100 < samplePct)
    val a = sampled.select(col("vec_id").as("id_a"), col("embedding").as("ea"))
    val b = sampled.select(col("vec_id").as("id_b"), col("embedding").as("eb"))
    val truth = a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .filter(round(vectorCosine(col("ea"), col("eb")), 6) >= cosMin)
      .select(col("id_a"), col("id_b"))
    val cands = lshCandidatePairs(embeddings, tables, bits)
    val nTrue = truth.count()
    val nFound = truth.join(cands, Seq("id_a", "id_b"), "left_semi").count()
    val recall = if (nTrue == 0) 1.0 else nFound.toDouble / nTrue
    embeddings.sparkSession.range(1).select(
      lit(nTrue).as("n_true"), lit(nFound).as("n_found"),
      round(lit(recall), 6).as("recall"), lit(recall >= 0.95).as("recall_ok"))
  }

  /** IVF-style ANN: coarse-quantize into cells (here: the label
    * column's partitions with mean centroids), score the query against
    * the tiny centroid table, then exact-search only the top-`nprobe`
    * cells. Index build is one shuffle of the exploded vectors
    * (one-time); each search scans ~nprobe/ncells of the data with a
    * broadcast probe list — the scale path when the query volume is
    * high. Centroids use exact decimal sums so results are
    * deterministic (and DuckDB-oracle-checkable).
    */
  def ivfTopK(embeddings: DataFrame, queryId: Long, nprobe: Int, k: Int): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val ex = embeddings.select(col("label"), col("vec_id"),
      posexplode(col("embedding")).as(Seq("pos", "v")))
    val cent = ex.groupBy(col("label"), col("pos"))
      .agg((sum(col("v").cast(DecimalType(20, 10))).cast("double") / count(lit(1))).as("c"))
    val qv = ex.filter(col("vec_id") === queryId)
      .select(col("pos"), col("v").cast("double").as("q"))
    val cd = cent.join(broadcast(qv), "pos")
      .groupBy(col("label"))
      .agg((sum(col("c") * col("q")) /
        (sqrt(sum(col("c") * col("c"))) * sqrt(sum(col("q") * col("q"))))).as("cos_qc"))
    val probes = cd.orderBy(desc("cos_qc"), col("label")).limit(nprobe).select(col("label"))
    val cand = embeddings.join(broadcast(probes), "label")
    val q = embeddings.filter(col("vec_id") === queryId).select(col("embedding").as("qe"))
    cand.crossJoin(broadcast(q))
      .select(col("vec_id"), round(vectorCosine(col("embedding"), col("qe")), 6).as("cos"))
      .filter(col("vec_id") =!= queryId)
      .orderBy(desc("cos"), col("vec_id")).limit(k)
  }

  /** Learned-centroid IVF: MLlib KMeans builds the coarse quantizer
    * (vs s03's label-derived cells), the query probes the `nprobe`
    * nearest centroids, and only those cells are exact-searched. The
    * output is the INDEX CONTRACT, not the vectors: recall@topK of the
    * pruned search vs the brute-force truth — which makes the
    * ML-trained index oracle-checkable (fixed seed → deterministic
    * centers → deterministic recall on a fixed corpus). Index build is
    * one MLlib job (one-time, amortized over queries); search scans
    * ~nprobe/k of the data. Driver-side work touches only the k
    * centroid vectors.
    */
  def kmeansIvfRecall(embeddings: DataFrame, queryId: Long, k: Int,
      nprobe: Int, topK: Int): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val spark = embeddings.sparkSession
    // pin partitioning + within-partition order before the fit:
    // KMeans' centroid updates sum floats per partition, so a
    // different defaultParallelism or shuffle fetch order would
    // perturb centers and flake the fixed-seed recall contract
    // cache: the fit's ~20 iteration jobs and the transform below all
    // re-read fv — without it each re-runs the repartition+sort+vector
    // conversion (MLlib itself warns when the fit input is uncached)
    val fv = embeddings.repartition(8, col("vec_id"))
      .sortWithinPartitions("vec_id")
      .withColumn("fv", array_to_vector(col("embedding")))
      .cache()
    val recall = try {
      val model = new KMeans().setK(k).setSeed(7L).setMaxIter(20)
        .setFeaturesCol("fv").fit(fv)
      val qd = embeddings.filter(col("vec_id") === queryId)
        .select(col("embedding")).head().getSeq[Float](0).map(_.toDouble).toArray
      def cosArr(a: Array[Double], b: Array[Double]): Double = {
        var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
        while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
        dot / (math.sqrt(na) * math.sqrt(nb))
      }
      val probes = model.clusterCenters.zipWithIndex
        .map { case (c, i) => (i, cosArr(c.toArray, qd)) }
        .sortBy { case (i, s) => (-s, i) }.take(nprobe).map(_._1)
      val q = embeddings.filter(col("vec_id") === queryId).select(col("embedding").as("qe"))
      val ivfTop = model.transform(fv)
        .filter(col("prediction").isin(probes: _*))
        .crossJoin(broadcast(q))
        .select(col("vec_id"), round(vectorCosine(col("embedding"), col("qe")), 6).as("cos"))
        .filter(col("vec_id") =!= queryId)
        .orderBy(desc("cos"), col("vec_id")).limit(topK)
      ivfTop.select("vec_id")
        .intersect(cosineTopK(embeddings, queryId, topK).select("vec_id"))
        .count().toDouble / topK
    } finally fv.unpersist()
    spark.range(1).select(
      lit(k).cast("bigint").as("k"),
      lit(nprobe).cast("bigint").as("nprobe"),
      lit(recall >= 0.5).as("recall_ok"))
  }

  /** Product quantization (Jégou et al., TPAMI 2011): split each
    * vector into `m` subvectors and code each against a per-subspace
    * codebook of `k` centroids — the memory layout behind
    * billion-scale ANN (m bytes per vector instead of 4·dim). The
    * codebook here is the first `k` vectors' subvectors (deterministic
    * — the standard structure with a data-sampled init; an MLlib
    * kmeans-per-subspace codebook drops into the same assignment
    * kernel, cf. s04's trained coarse quantizer). Assignment is a
    * zero-shuffle codegen column map: per subspace, argmin of the
    * in-order L2² distance over the broadcast codebook literals, ties
    * to the smallest centroid id via struct ordering. Output carries
    * the codes plus the exact reconstruction error the quantization
    * pays (the audit an ANN pipeline gates on). Driver-side work is
    * the k·dim-double codebook only.
    */
  private val PqDim = 64

  /** Codebook: the first `k` vectors, as driver-side double arrays
    * (k·dim doubles — tiny; a kmeans-per-subspace fit drops in here). */
  private def pqCodebook(embeddings: DataFrame, k: Int): Map[Long, Array[Double]] = {
    val cb = embeddings.filter(col("vec_id") < k)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    require(cb.size == k, s"codebook needs vec_ids 0..${k - 1}")
    cb
  }

  /** Flattened j-major codebook for the native kernel (k × dim). */
  private def pqFlat(cb: Map[Long, Array[Double]], k: Int): Array[Double] =
    (0 until k).flatMap(j => cb(j.toLong)).toArray

  /** TRAINED codebook for the same assignment kernel: one MLlib KMeans
    * per subspace over the sub-vectors (the production PQ training
    * step; s07's first-k data-sampled codebook is the
    * oracle-replayable stand-in). Seed and partitioning pinned like
    * s04 so the fit is deterministic on a fixed corpus. Returns the
    * flattened j-major (k × dim) layout [[graft.functions.pqAssign]]
    * consumes — PqSeamSpec proves it drops in and strictly tightens
    * reconstruction error vs the sampled codebook.
    */
  def pqKmeansCodebook(embeddings: DataFrame, m: Int = 8, k: Int = 16): Array[Double] = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val sub = PqDim / m
    val base = embeddings.repartition(8, col("vec_id"))
      .sortWithinPartitions("vec_id")
    val centers: Seq[Array[Array[Double]]] = (0 until m).map { s =>
      val fv = base.select(array_to_vector(
        slice(col("embedding").cast("array<double>"), s * sub + 1, sub)).as("fv"))
      new KMeans().setK(k).setSeed(7L).setMaxIter(20)
        .setFeaturesCol("fv").fit(fv)
        .clusterCenters.map(_.toArray)
    }
    // assemble j-major full-dim rows from the per-subspace centers
    (0 until k).flatMap(j => (0 until m).flatMap(s => centers(s)(j))).toArray
  }

  /** OPQ parametric rotation (Ge et al., CVPR'13 §4 "Optimized
    * Product Quantization", the non-iterative Gaussian solution):
    * PCA-decorrelate, then allocate eigen-dimensions to the m
    * subspaces balancing each subspace's PRODUCT of eigenvalues
    * (greedy largest-first on accumulated log-variance — optimal
    * under the independence assumption), so no subspace hogs the
    * corpus variance and every per-subspace codebook spends its k
    * centroids where the data actually varies. Real embedding
    * corpora are anisotropic — the reason unrotated PQ loses recall
    * at fixed m/k; the near-isotropic synthetic gate corpus is the
    * one place the rotation is a no-op (s10 measures in-cell recall
    * 1.0 without it).
    *
    * Learned DRIVER-SIDE on a deterministic hash-ordered sample
    * (`sampleN`×dim doubles ≈ 1 MB at the default — the
    * codebook-training bound; covariance + eigensolve are dim² work,
    * independent of corpus size). Deterministic end-to-end: cyclic
    * Jacobi with a fixed sweep order, index tie-breaks everywhere.
    * Returns the row-major dim×dim rotation R (rows = permuted
    * eigenvectors, orthonormal) — a KB sidecar to store beside the
    * codebook ([[writeOpqSidecar]]/[[readOpqSidecar]]); apply with
    * [[graft.functions.matVec]] (one codegen multiply fused into the
    * index-build scan, [[rotateEmbeddings]]), quantize the rotated
    * vectors through the same PqAssign/PqCodes kernels (their double
    * input path), and rotate the query with the same R — driver
    * arithmetic — before building search LUTs. Distances are
    * preserved exactly (R orthonormal), so search semantics are
    * unchanged; only the quantization grid improves.
    */
  def opqParametricRotation(embeddings: DataFrame, m: Int = 8,
      sampleN: Int = 2048): Array[Double] = {
    val sample = embeddings
      .orderBy(xxhash64(col("vec_id")), col("vec_id")).limit(sampleN)
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    val n = sample.length
    require(n > 1, s"OPQ rotation needs > 1 sample vectors, got $n")
    val d = sample.head.length
    require(d % m == 0, s"dim $d not divisible by m=$m")
    val mean = new Array[Double](d)
    sample.foreach { v =>
      var i = 0; while (i < d) { mean(i) += v(i); i += 1 }
    }
    var i = 0
    while (i < d) { mean(i) /= n; i += 1 }
    val cov = Array.ofDim[Double](d, d)
    sample.foreach { v =>
      var p = 0
      while (p < d) {
        val xp = v(p) - mean(p)
        var q = p
        while (q < d) { cov(p)(q) += xp * (v(q) - mean(q)); q += 1 }
        p += 1
      }
    }
    i = 0
    while (i < d) {
      var j = i
      while (j < d) { cov(i)(j) /= (n - 1); cov(j)(i) = cov(i)(j); j += 1 }
      i += 1
    }
    val (eigVals, eigVecs) = jacobiEigen(cov)
    // eigenvalue allocation: largest eigenvalue first, into the
    // subspace with the smallest accumulated log-variance (ties to
    // the lowest subspace index) that still has free slots
    val order = eigVals.indices.sortBy(idx => (-eigVals(idx), idx))
    val sub = d / m
    val cap = Array.fill(m)(sub)
    val load = new Array[Double](m)
    val rowsOf = Array.fill(m)(List.newBuilder[Int])
    order.foreach { e =>
      val s = (0 until m).filter(cap(_) > 0).minBy(x => (load(x), x))
      cap(s) -= 1
      load(s) += math.log(math.max(eigVals(e), 1e-12))
      rowsOf(s) += e
    }
    val r = new Array[Double](d * d)
    rowsOf.iterator.flatMap(_.result()).zipWithIndex.foreach { case (e, row) =>
      System.arraycopy(eigVecs(e), 0, r, row * d, d)
    }
    r
  }

  /** Cyclic Jacobi eigendecomposition of a symmetric matrix:
    * (eigenvalues, eigenvectors as rows). Fixed sweep order + sweep
    * cap → deterministic; d ≈ 64 means microseconds of driver work. */
  private def jacobiEigen(
      a0: Array[Array[Double]]): (Array[Double], Array[Array[Double]]) = {
    val d = a0.length
    val a = Array.tabulate(d, d)((i, j) => a0(i)(j))
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    var sweep = 0
    var off = Double.MaxValue
    while (sweep < 64 && off > 1e-11) {
      off = 0.0
      var p = 0
      while (p < d - 1) {
        var q = p + 1
        while (q < d) {
          val apq = a(p)(q)
          if (math.abs(apq) > off) off = math.abs(apq)
          if (math.abs(apq) > 1e-13) {
            val theta = (a(q)(q) - a(p)(p)) / (2.0 * apq)
            val t = (if (theta >= 0) 1.0 else -1.0) /
              (math.abs(theta) + math.sqrt(theta * theta + 1.0))
            val c = 1.0 / math.sqrt(t * t + 1.0)
            val s = t * c
            val app = a(p)(p); val aqq = a(q)(q)
            a(p)(p) = app - t * apq
            a(q)(q) = aqq + t * apq
            a(p)(q) = 0.0; a(q)(p) = 0.0
            var x = 0
            while (x < d) {
              if (x != p && x != q) {
                val axp = a(x)(p); val axq = a(x)(q)
                a(x)(p) = c * axp - s * axq; a(p)(x) = a(x)(p)
                a(x)(q) = s * axp + c * axq; a(q)(x) = a(x)(q)
              }
              val vxp = v(x)(p); val vxq = v(x)(q)
              v(x)(p) = c * vxp - s * vxq
              v(x)(q) = s * vxp + c * vxq
              x += 1
            }
          }
          q += 1
        }
        p += 1
      }
      sweep += 1
    }
    val vals = Array.tabulate(d)(i => a(i)(i))
    val vecs = Array.tabulate(d, d)((e, i) => v(i)(e)) // column e → row e
    (vals, vecs)
  }

  /** Embeddings rotated by the row-major d×d matrix `r` through the
    * codegen [[graft.functions.matVec]] kernel — `embedding` becomes
    * array<double>, which the PQ kernels' residual (double) path
    * consumes directly. Zero shuffles; the multiply fuses into
    * whatever scan feeds it. */
  def rotateEmbeddings(embeddings: DataFrame, r: Array[Double]): DataFrame = {
    val d = math.sqrt(r.length.toDouble).toInt
    require(d * d == r.length, s"rotation length ${r.length} is not square")
    embeddings.withColumn("embedding",
      graft.functions.matVec(col("embedding"), r, d))
  }

  /** The rotation as a KB text sidecar beside the codebook (`dim` on
    * the first line, then one row per line). */
  def writeOpqSidecar(spark: SparkSession, path: String, r: Array[Double]): Unit = {
    val d = math.sqrt(r.length.toDouble).toInt
    require(d * d == r.length, s"rotation length ${r.length} is not square")
    val p = new org.apache.hadoop.fs.Path(s"$path/opq_rotation.txt")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val body = (Seq(d.toString) ++ (0 until d).map(row =>
      (0 until d).map(j => r(row * d + j).toString).mkString(" ")))
      .mkString("\n")
    val out = fs.create(p, true)
    try out.write(body.getBytes("UTF-8"))
    finally out.close()
  }

  def readOpqSidecar(spark: SparkSession, path: String): Array[Double] = {
    val p = new org.apache.hadoop.fs.Path(s"$path/opq_rotation.txt")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(p)
    val lines =
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toVector
      finally in.close()
    val d = lines.head.trim.toInt
    val r = lines.tail.take(d).flatMap(_.trim.split(" ").map(_.toDouble)).toArray
    require(r.length == d * d, s"corrupt OPQ sidecar at $p")
    r
  }

  /** PQ assignment struct(codes, recon_err) via the native codegen
    * kernel (GraftVec.pqAssign): one primitive loop per row. In-order
    * L2 summation in dimension order and strict-< argmin match the
    * oracle's replayed float chain and (dist, j) tie-break. A first
    * cut built the m×k lattice as slice/zip_with/aggregate
    * higher-order expressions — interpreted lambdas, 3.2s at sf0.1;
    * the kernel runs the same math inside whole-stage codegen.
    */
  private def pqStruct(cb: Map[Long, Array[Double]], m: Int, k: Int): Column =
    graft.functions.pqAssign(col("embedding"), pqFlat(cb, k), m, k)

  def pqQuantize(embeddings: DataFrame, m: Int = 8, k: Int = 16): DataFrame = {
    val cb = pqCodebook(embeddings, k)
    embeddings.select(col("vec_id"), pqStruct(cb, m, k).as("pq"))
      .select(col("vec_id"),
        array_join(col("pq").getField("codes"), ",").as("codes"),
        round(col("pq").getField("recon_err"), 6).as("recon_err"))
      .orderBy("vec_id")
  }

  /** Quantize against ANY flattened j-major codebook (e.g. the
    * [[pqKmeansCodebook]] trained one) through the same kernel. */
  def pqQuantizeWith(embeddings: DataFrame, cbFlat: Array[Double],
      m: Int = 8, k: Int = 16): DataFrame =
    embeddings.select(col("vec_id"),
        graft.functions.pqAssign(col("embedding"), cbFlat, m, k).as("pq"))
      .select(col("vec_id"),
        array_join(col("pq").getField("codes"), ",").as("codes"),
        round(col("pq").getField("recon_err"), 6).as("recon_err"))
      .orderBy("vec_id")

  /** The query vector as a driver-side double array (one pushed-down
    * point lookup — the query comes from outside the search scan). */
  private def queryVec(embeddings: DataFrame, queryId: Long): Array[Double] =
    toDoubles(embeddings.filter(col("vec_id") === queryId)
      .select(col("embedding")).head().getSeq[Any](0))

  /** In-order L2² LUT row block: lut[s*k+j] = ||q_s − cb_{j,s}||²,
    * each accumulated left-to-right in dimension order — the float
    * chain every search path and the SQL oracle share. `cbFlat` is
    * j-major (k × dim). */
  private def adcLutFlat(q: Array[Double], cbFlat: Array[Double],
      m: Int, k: Int): Array[Double] = {
    val dim = q.length
    val sub = dim / m
    val a = new Array[Double](m * k)
    var s = 0
    while (s < m) {
      var j = 0
      while (j < k) {
        var d = 0.0
        var t = 0
        while (t < sub) {
          val diff = q(s * sub + t) - cbFlat(j * dim + s * sub + t)
          d += diff * diff
          t += 1
        }
        a(s * k + j) = d
        j += 1
      }
      s += 1
    }
    a
  }

  /** PQ asymmetric-distance search (ADC): score the FULL query vector
    * against the QUANTIZED corpus — per subspace, one lookup into the
    * broadcast m×k table of ||q_s − c_{s,j}||² distances, summed in
    * subspace order. This recomputes codes inline from the embedding
    * column (self-contained; the parity baseline for the STORED path
    * [[pqSearchStored]], which is what a 100 TB deployment scans).
    */
  def pqSearch(embeddings: DataFrame, queryId: Long, topK: Int,
      m: Int = 8, k: Int = 16): DataFrame = {
    val cb = pqCodebook(embeddings, k)
    val q = queryVec(embeddings, queryId)
    val lutFlat = adcLutFlat(q, pqFlat(cb, k), m, k)
    def lutLit(s: Int) = array((0 until k).map(j => lit(lutFlat(s * k + j))): _*)
    val codes = col("pq").getField("codes")
    val adc = (0 until m).map(s =>
      element_at(lutLit(s), codes.getItem(s).cast("int") + 1))
      .reduce(_ + _)
    embeddings.select(col("vec_id"), pqStruct(cb, m, k).as("pq"))
      .select(col("vec_id"), adc.as("adc"))
      .filter(col("vec_id") =!= queryId)
      .orderBy(col("adc"), col("vec_id")).limit(topK)
      .select(col("vec_id"), round(col("adc"), 6).as("adc_dist"))
  }

  /** Materialize the PQ index at `path`: the CODES table —
    * (vec_id, codes binary(m)), m bytes per vector — plus the KB-sized
    * codebook sidecar that makes the index self-contained on disk.
    * This is the storage layout PQ exists for (Jégou TPAMI'11; cf. the
    * reference's stored-index idea, physical/index_scan.rs): written
    * once, then every search reads m bytes/vector instead of 4·dim.
    * One codegen scan of the corpus, zero shuffles.
    */
  /** Sidecar memoization: an index's KB metadata (codebooks,
    * centroids, shape) is immutable once written — append/compact
    * touch only the codes — so a deployment holds it in memory and a
    * search pays ZERO driver-side reads. Keyed by index path;
    * invalidated by the write* builders (the only operations that
    * replace sidecars). */
  private val pqSidecarCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Int, Int, Int, Array[Double])]()
  private def readPqSidecars(spark: SparkSession, path: String)
      : (Int, Int, Int, Array[Double]) =
    pqSidecarCache.computeIfAbsent(path, _ => {
      val conf = spark.read.parquet(s"$path/meta_conf").head()
      val cbFlat = spark.read.parquet(s"$path/meta_cb").collect()
        .sortBy(_.getInt(0)).map(_.getDouble(1))
      (conf.getInt(0), conf.getInt(1), conf.getInt(2), cbFlat)
    })

  /** Cached OPQ rotation per index path; empty array = unrotated index
    * (the miss marker — ConcurrentHashMap can't hold nulls). */
  private val opqRotationCache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Double]]()

  /** Ceiling (in doubles) on the per-call ADC LUT literal the batch
    * stored-search paths ship in the plan — the driver-side
    * materialization bound that keeps "KB at serving batch sizes" an
    * enforced contract instead of an assertion
    * ([[graft.sources.BucketedStore.tombstoneBroadcastMax]] precedent). The default 1M
    * doubles (8 MB of plan literals ≈ 8192 queries at m=8,k=16) is the
    * point past which a single plan's LUT state stops being serving
    * metadata; shard the query table over multiple calls beyond it —
    * answers are per-query, so the union is identical. Tunable per
    * session via `graft.index.batchLutMaxDoubles` (specs set it low to
    * force the guard). */
  private[operators] def batchLutMaxDoubles(spark: SparkSession): Long =
    spark.conf.getOption("graft.index.batchLutMaxDoubles")
      .map(_.toLong).getOrElse(1L << 20)

  private def opqRotationOpt(spark: SparkSession, path: String): Option[Array[Double]] =
    Option(opqRotationCache.computeIfAbsent(path, _ =>
      // ONLY a genuinely absent sidecar means "plain index". A corrupt
      // or unreadable sidecar on an OPQ-built index must fail loudly —
      // caching it as a miss would silently search with UNROTATED
      // queries against rotated codes (wrong neighbors, no error).
      try readOpqSidecar(spark, path)
      catch { case _: java.io.FileNotFoundException => Array.emptyDoubleArray }))
      .filter(_.nonEmpty)

  /** q' = R q, driver arithmetic (R row-major d×d). */
  private def rotateQuery(r: Array[Double], q: Array[Double]): Array[Double] = {
    val d = q.length
    Array.tabulate(d) { i =>
      var s = 0.0; var j = 0
      while (j < d) { s += r(i * d + j) * q(j); j += 1 }
      s
    }
  }

  /** The catalog name of the index at `path`: the IVF-PQ index's
    * `codes` table, and the tombstone scope of the IVF-PQ and the flat
    * PQ index alike. A SHA-256 digest of the qualified path, so two
    * indexes never share a table or a tombstone set. */
  private[graft] def indexTable(spark: SparkSession, path: String): String = {
    val p = new org.apache.hadoop.fs.Path(path)
    val q = p.getFileSystem(spark.sparkContext.hadoopConfiguration).makeQualified(p)
    "graft_index_" + java.security.MessageDigest.getInstance("SHA-256")
      .digest(q.toString.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString
  }

  /** The preamble of every index build: a rebuild at `path` is a NEW
    * generation. It forgets the memoized sidecars, drops the previous
    * generation's tombstones (they retired content this build no longer
    * carries), and writes the OPQ rotation — or clears a previous
    * build's, so a plain rebuild over an OPQ path never rotates queries
    * against unrotated codes. Returns the vectors to quantize (rotated
    * under OPQ). */
  private def newIndexGeneration(embeddings: DataFrame, path: String, m: Int,
      opq: Boolean): DataFrame = {
    val spark = embeddings.sparkSession
    pqSidecarCache.remove(path)
    ivfSidecarCache.remove(path)
    opqRotationCache.remove(path)
    spark.sql(s"DROP TABLE IF EXISTS ${indexTable(spark, path)}_tombstones")
    if (opq) {
      val rMat = opqParametricRotation(embeddings, m)
      writeOpqSidecar(spark, path, rMat)
      rotateEmbeddings(embeddings, rMat)
    } else {
      val p = new org.apache.hadoop.fs.Path(s"$path/opq_rotation.txt")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) fs.delete(p, false)
      embeddings
    }
  }

  /** With `opq = true` the index is OPQ-built end-to-end
    * ([[opqParametricRotation]]): the rotation is learned from the
    * data, persisted beside the codebook ([[writeOpqSidecar]]), the
    * codebook and codes quantize the ROTATED vectors (same codegen
    * kernels — their double input path), and every search rotates its
    * query through the same sidecar before building LUTs. R is
    * orthonormal, so distances are preserved exactly and search
    * semantics are unchanged — only the quantization grid tightens on
    * anisotropic data. The IVF-PQ layout takes the same flag
    * ([[writeIvfPqIndex]]): there the rotation runs BEFORE coarse
    * assignment, so centroids and the residual codebook live in
    * rotated space and the stored searches rotate queries through the
    * same sidecar.
    */
  def writePqIndex(embeddings: DataFrame, path: String,
      m: Int = 8, k: Int = 16, opq: Boolean = false): Unit = {
    val spark = embeddings.sparkSession
    val src = newIndexGeneration(embeddings, path, m, opq)
    val cbFlat =
      if (opq) {
        // rotated vectors are array<double> (MatVec), so the first-k
        // codebook collect reads doubles — same data-sampled choice
        // as the unrotated branch
        val cb = src.filter(col("vec_id") < k)
          .select(col("vec_id"), col("embedding")).collect()
          .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
        require(cb.size == k, s"codebook needs vec_ids 0..${k - 1}")
        pqFlat(cb, k)
      } else pqFlat(pqCodebook(src, k), k)
    src.select(col("vec_id"),
        graft.functions.pqCodes(col("embedding"), cbFlat, m, k).as("codes"))
      .write.mode("overwrite").parquet(s"$path/codes")
    import spark.implicits._
    cbFlat.zipWithIndex.map { case (c, i) => (i, c) }.toSeq.toDF("pos", "c")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta_cb")
    // dim is MEASURED from the codebook (k rows of dim doubles), not a
    // constant: the stored conf must describe the data actually coded,
    // so a non-64-dim table can never write a self-inconsistent index
    Seq((m, k, cbFlat.length / k)).toDF("m", "k", "dim")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta_conf")
  }

  /** Search a [[writePqIndex]] index WITHOUT touching the embedding
    * table: load the KB-sized codebook sidecar (driver), build the m×k
    * LUT for the query, then one codegen scan of the codes table — m
    * byte loads + m adds per row, TakeOrdered top-k, zero shuffles.
    * Bit-identical to [[pqSearch]] (same codes, same LUT chains, same
    * summation order).
    */
  def pqSearchStored(spark: SparkSession, path: String, q: Array[Double],
      topK: Int, excludeId: Long = -1L): DataFrame = {
    val (m, k, dim, cbFlat) = readPqSidecars(spark, path)
    require(q.length == dim,
      s"query dim ${q.length} != index dim $dim at $path")
    // OPQ-built index: the query crosses into rotated space here —
    // one driver-side d² multiply — and nothing else changes
    val q1 = opqRotationOpt(spark, path).map(rotateQuery(_, q)).getOrElse(q)
    val lutFlat = adcLutFlat(q1, cbFlat, m, k)
    readPqCodes(spark, path)
      .filter(col("vec_id") =!= excludeId)
      .select(col("vec_id"),
        graft.functions.adcDist(col("codes"), lit(0), lutFlat, m, k).as("adc"))
      .orderBy(col("adc"), col("vec_id")).limit(topK)
      .select(col("vec_id"), round(col("adc"), 6).as("adc_dist"))
  }

  /** A [[writePqIndex]] index's codes minus its tombstoned vectors. */
  private def readPqCodes(spark: SparkSession, path: String): DataFrame =
    BucketedStore.dropTombstoned(spark, indexTable(spark, path),
      spark.read.parquet(s"$path/codes"), "vec_id")

  /** RETIRE vectors from a stored PQ / IVF-PQ index (takedown / TTL):
    * [[BucketedStore.delete]] into the index's tombstone scope. Lazy:
    * searches anti-join the KB tombstone set (broadcast under
    * [[BucketedStore.tombstoneBroadcastMax]], shuffle-hash beyond it —
    * the codes-only scan shape is unchanged), [[compactIvfPqIndex]]
    * drops the code rows physically, and the set survives compaction as
    * a suppression list, so a crash-replayed append of a retired vector
    * stays out. A rebuild at the path starts with no tombstones.
    */
  def deleteFromIvfPqIndex(vecIds: DataFrame, path: String): Unit = {
    val spark = vecIds.sparkSession
    BucketedStore.delete(spark, indexTable(spark, path), vecIds.select(col("vec_id").as("doc_id")))
  }

  /** IVF-PQ (Jégou et al.): the billion-scale ANN layout composed
    * end-to-end — coarse cells (s03's label quantizer, decimal-exact
    * centroids), product quantization of the RESIDUAL vectors (vector
    * minus its cell centroid), and per-cell asymmetric-distance search
    * over only the probed cells.
    *
    * Driver-side work is index METADATA only (ncells×dim centroids,
    * the k×dim residual codebook, the nprobe×m×k query LUTs — a few
    * KB); every per-vector step is one zero-shuffle codegen scan:
    * residual subtraction against a broadcast centroid map, PqAssign
    * on the residual, m LUT lookups + m−1 adds, TakeOrdered top-k. At
    * scale the codes are what's stored (m bytes/vector instead of
    * 4·dim) and a search touches ~nprobe/ncells of them.
    *
    * Every float chain is in-order (centroid cosine, residual L2,
    * LUT, ADC sum) so the DuckDB oracle replays the index build AND
    * the search bit-exactly.
    */
  /** Per-cell decimal-exact mean centroids, as driver-side metadata
    * (ncells × dim doubles — KBs). */
  private def cellCentroids(embeddings: DataFrame): Map[Int, Array[Double]] = {
    import org.apache.spark.sql.types.DecimalType
    val centRows = embeddings
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy(col("label"), col("pos"))
      .agg((sum(col("v").cast(DecimalType(20, 10))).cast("double") /
        count(lit(1))).as("c"))
      .collect()
    // dim measured from the data, not assumed (cf. writePqIndex)
    val dim = centRows.iterator.map(_.getInt(1)).max + 1
    centRows.groupBy(_.getInt(0)).map { case (l, rows) =>
      val a = new Array[Double](dim)
      rows.foreach(r => a(r.getInt(1)) = r.getDouble(2))
      l -> a
    }
  }

  /** Float or double array column rows to doubles — the OPQ-rotated
    * build feeds array<double> (MatVec) where the plain build feeds the
    * float embedding column. */
  private def toDoubles(s: Seq[Any]): Array[Double] =
    s.iterator.map {
      case f: java.lang.Float => f.toDouble
      case d: java.lang.Double => d.doubleValue
    }.toArray

  /** Residual codebook (j-major flat k × dim): vectors 0..k-1, each
    * minus ITS cell centroid. */
  private def residualCodebookFlat(embeddings: DataFrame,
      cents: Map[Int, Array[Double]], k: Int): Array[Double] = {
    val dim = cents.head._2.length
    val cbRows = embeddings.filter(col("vec_id") < k)
      .select(col("vec_id"), col("label"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getInt(1), toDoubles(r.getSeq[Any](2))))
    require(cbRows.length == k, s"residual codebook needs vec_ids 0..${k - 1}")
    cbRows.sortBy(_._1).flatMap { case (_, l, e) =>
      val c = cents(l); (0 until dim).map(t => e(t) - c(t))
    }
  }

  /** In-order cosine (dot/na/nb accumulated left-to-right) — the
    * probe-ranking chain the oracle replays. */
  private def cosArr(a: Array[Double], b: Array[Double]): Double = {
    var (dot, na, nb, i) = (0.0, 0.0, 0.0, 0)
    while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Probe order: centroid cosine desc, ties to the smaller cell id —
    * mirrors s03's probe CTE. */
  private def probeCells(cents: Map[Int, Array[Double]], q: Array[Double],
      nprobe: Int): Seq[Int] =
    cents.toSeq.map { case (l, c) => (l, cosArr(c, q)) }
      .sortBy { case (l, s) => (-s, l) }.take(nprobe).map(_._1)

  /** Per-probed-cell ADC LUT: ||(q − cent_cell)_s − rcb_{j,s}||² in
    * dimension order ([[adcLutFlat]] of the query RESIDUAL). */
  private def ivfLutFor(q: Array[Double], cents: Map[Int, Array[Double]],
      rcb: Array[Double], cell: Int, m: Int, k: Int): Array[Double] = {
    val qc = cents(cell)
    adcLutFlat(Array.tabulate(q.length)(t => q(t) - qc(t)), rcb, m, k)
  }

  def ivfPqSearch(embeddings: DataFrame, queryId: Long, nprobe: Int,
      topK: Int, m: Int = 8, k: Int = 16): DataFrame = {
    // --- index metadata (driver): centroids, residual codebook, LUTs
    val cents = cellCentroids(embeddings)
    val q = queryVec(embeddings, queryId)
    val rcb = residualCodebookFlat(embeddings, cents, k)
    ivfPqSearchPlan(embeddings, cents, rcb, q, queryId, nprobe, topK, m, k)
      .select(col("vec_id"), col("cell"), round(col("adc"), 6).as("adc_dist"))
  }

  /** The in-plan half of [[ivfPqSearch]] against PRE-COMPUTED index
    * metadata — one zero-shuffle scan of the probed cells. Shared by
    * the single-query path and the batched recall gate
    * ([[ivfPqRerankFoundSum]]), which amortizes the centroid/codebook
    * jobs across its whole query set. Returns (vec_id, cell, adc)
    * UN-rounded; callers round for display. */
  private def ivfPqSearchPlan(embeddings: DataFrame,
      cents: Map[Int, Array[Double]], rcb: Array[Double],
      q: Array[Double], queryId: Long, nprobe: Int, topK: Int,
      m: Int, k: Int): DataFrame = {
    val probes = probeCells(cents, q, nprobe)
    val centMap = map(probes.flatMap(l =>
      Seq(lit(l), array(cents(l).map(lit(_)): _*))): _*)
    val lutMap = map(probes.flatMap(l =>
      Seq(lit(l), array(ivfLutFor(q, cents, rcb, l, m, k).map(lit(_)): _*))): _*)
    val residual = transform(col("embedding"),
      (x, i) => x.cast("double") - element_at(element_at(centMap, col("label")), i + 1))
    val codes = graft.functions.pqAssign(residual, rcb, m, k).getField("codes")
    val adc = (0 until m).map(s =>
      element_at(element_at(lutMap, col("label")),
        lit(s * k) + codes.getItem(s).cast("int") + 1))
      .reduce(_ + _)
    embeddings.filter(col("label").isin(probes: _*))
      .select(col("vec_id"), col("label").cast("bigint").as("cell"), adc.as("adc"))
      .filter(col("vec_id") =!= queryId)
      .orderBy(col("adc"), col("vec_id")).limit(topK)
  }

  /** Batched IVFADC+R recall gate: Σ over `queryIds` of
    * [[ivfPqRerankRecall]]'s `n_found` (re-ranked shortlist ∩ in-cell
    * truth), with the per-call jobs AMORTIZED — centroids, residual
    * codebook, and all query vectors are computed ONCE per corpus
    * (three driver-metadata jobs), and every query's shortlist/truth/
    * re-rank chain lands in ONE union-count job instead of several
    * actions per query. Arithmetic is bit-identical to the per-query
    * path (same l2d2 chains, same ADC LUT floats, same (d2, vec_id)
    * orderings), so the sum equals the sum of per-query `n_found` —
    * PqStoredSpec asserts the equivalence. Built for s18's 8-pipeline
    * gate, where per-job driver latency, not data, was the cost (the
    * gate corpus is KB-sized by construction). */
  def ivfPqRerankFoundSum(embeddings: DataFrame, queryIds: Seq[Long],
      nprobe: Int, shortlist: Int, topK: Int,
      m: Int = 8, k: Int = 16): Long = {
    require(queryIds.nonEmpty, "need at least one query id")
    val cents = cellCentroids(embeddings)
    val rcb = residualCodebookFlat(embeddings, cents, k)
    val qvecs = embeddings
      .filter(col("vec_id").isin(queryIds.map(Long.box): _*))
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> toDoubles(r.getSeq[Any](1))).toMap
    require(qvecs.keySet == queryIds.toSet,
      s"missing query vectors: ${queryIds.toSet -- qvecs.keySet}")
    queryIds.map { qid =>
      val q = qvecs(qid)
      val probes = probeCells(cents, q, nprobe)
      // (r20 A/B: broadcast() hints on these shortlist-sized sides
      // benched 6.8 -> 10.6s — each hint forces a synchronous
      // broadcast-build job per TakeOrdered subplan, worse than the
      // AQE shuffle stages they replace. Left unhinted.)
      val short = ivfPqSearchPlan(embeddings, cents, rcb, q, qid,
        nprobe, shortlist, m, k).select("vec_id")
      val d2cell = embeddings.filter(col("label").isin(probes: _*))
        .filter(col("vec_id") =!= qid)
        .select(col("vec_id"), l2d2(q).as("d2"))
      val truthCell = d2cell.orderBy(col("d2"), col("vec_id")).limit(topK)
        .select("vec_id")
      d2cell.join(short, "vec_id")
        .orderBy(col("d2"), col("vec_id")).limit(topK).select("vec_id")
        .join(truthCell, Seq("vec_id"), "left_semi")
    }.reduce(_ unionAll _).count()
  }

  /** Materialize the IVF-PQ index at `path` — the layout the search
    * half of a 100 TB ANN deployment actually reads:
    *
    *   - `codes/`: (vec_id, cell, codes binary(m)), an external
    *     [[BucketedStore]] table bucketed on `cell` with one bucket per
    *     stored centroid — the inverted lists. Probing nprobe cells IS
    *     bucket pruning, so a search touches ~nprobe/ncells of m
    *     bytes/vector and never the 4·dim-byte embeddings. Appends,
    *     deletes, compaction and crash healing are the shared store's
    *     (one file per bucket per append, [[BucketedStore.stats]] sees
    *     the index like every other store).
    *   - `meta_cent/`, `meta_rcb/`, `meta_conf/`: KB-sized sidecars
    *     (per-cell centroids, residual codebook, shape).
    *
    * The codes table lives in the session catalog under a name derived
    * from `path`, so the index is searched by its path within the
    * session that built it. A rebuild at a reused path is a new
    * generation: it replaces the codes and drops the previous
    * generation's tombstones.
    *
    * Build is one codegen scan of the corpus (residual subtraction
    * against the broadcast centroid map, PqCodes kernel) plus the
    * centroid aggregation; written once, amortized over every query.
    */
  /** With `opq = true` the layout that ships at billion scale gets the
    * same end-to-end rotation as the flat index: the rotation is
    * learned from the data ([[opqParametricRotation]] — d² driver work
    * on a corpus-independent sample), persisted via the same sidecar,
    * and the vectors are rotated BEFORE coarse assignment, so the
    * stored centroids AND the residual codebook live in rotated space.
    * Every stored search ([[ivfPqSearchStored]] /
    * [[ivfPqSearchStoredBatch]]) and every append
    * ([[appendToIvfPqIndex]]) crosses into rotated space through the
    * cached sidecar before touching centroids or LUTs. R orthonormal
    * preserves distances exactly, so probe ranking and ADC semantics
    * are unchanged — only the quantization grid tightens.
    */
  def writeIvfPqIndex(embeddings: DataFrame, path: String,
      m: Int = 8, k: Int = 16, opq: Boolean = false): Unit = {
    val spark = embeddings.sparkSession
    val src = newIndexGeneration(embeddings, path, m, opq)
    val cents = cellCentroids(src)
    val dim = cents.head._2.length
    val rcb = residualCodebookFlat(src, cents, k)
    val centMap = map(cents.toSeq.sortBy(_._1).flatMap { case (l, c) =>
      Seq(lit(l), array(c.map(lit(_)): _*)) }: _*)
    val residual = transform(col("embedding"),
      (x, i) => x.cast("double") - element_at(element_at(centMap, col("label")), i + 1))
    BucketedStore.create(src.select(col("vec_id"), col("label").as("cell"),
        graft.functions.pqCodes(residual, rcb, m, k).as("codes")),
      indexTable(spark, path), cents.size, "cell", path = Some(s"$path/codes"))
    import spark.implicits._
    cents.toSeq.flatMap { case (l, c) =>
      c.zipWithIndex.map { case (v, p) => (l, p, v) } }
      .toDF("cell", "pos", "c")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta_cent")
    rcb.zipWithIndex.map { case (v, i) => (i / dim, i % dim, v) }.toSeq
      .toDF("j", "pos", "c")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta_rcb")
    Seq((m, k, dim)).toDF("m", "k", "dim")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta_conf")
  }

  /** Search a [[writeIvfPqIndex]] index — the embedding table is NEVER
    * touched. Driver loads the KB sidecars, ranks cells by in-order
    * centroid cosine, builds one m×k LUT per probed cell, and the scan
    * reads ONLY the files of the buckets the probed cells hash to
    * (bucket pruning = inverted-list selection; it holds on the
    * non-bucketed read the planner picks here too): per row, m byte
    * loads + m adds in the AdcDist kernel, TakeOrdered top-k, zero
    * shuffles. Bit-identical to [[ivfPqSearch]].
    */
  /** The KB-sized sidecars of a [[writeIvfPqIndex]] index:
    * (m, k, dim, per-cell centroids, flat residual codebook). */
  /** IVF sidecars memoized per path, like [[readPqSidecars]]. */
  private val ivfSidecarCache = new java.util.concurrent.ConcurrentHashMap[
    String, (Int, Int, Int, Map[Int, Array[Double]], Array[Double])]()
  private def readIvfSidecars(spark: SparkSession, path: String)
      : (Int, Int, Int, Map[Int, Array[Double]], Array[Double]) =
    ivfSidecarCache.computeIfAbsent(path, _ => {
      val conf = spark.read.parquet(s"$path/meta_conf").head()
      val (m, k, dim) = (conf.getInt(0), conf.getInt(1), conf.getInt(2))
      val cents: Map[Int, Array[Double]] =
        spark.read.parquet(s"$path/meta_cent").collect()
          .groupBy(_.getInt(0)).map { case (l, rows) =>
            val a = new Array[Double](dim)
            rows.foreach(r => a(r.getInt(1)) = r.getDouble(2))
            l -> a
          }
      val rcb: Array[Double] = {
        val a = new Array[Double](k * dim)
        spark.read.parquet(s"$path/meta_rcb").collect()
          .foreach(r => a(r.getInt(0) * dim + r.getInt(1)) = r.getDouble(2))
        a
      }
      (m, k, dim, cents, rcb)
    })

  /** The index's live code rows: its store table, refreshed, minus its
    * tombstoned vectors ([[BucketedStore.read]]). */
  private def readCodes(spark: SparkSession, path: String): DataFrame = {
    val t = indexTable(spark, path)
    BucketedStore.read(spark, t, t, "vec_id")
  }

  def ivfPqSearchStored(spark: SparkSession, path: String, q: Array[Double],
      nprobe: Int, topK: Int, excludeId: Long = -1L): DataFrame = {
    val (m, k, dim, cents, rcb) = readIvfSidecars(spark, path)
    require(q.length == dim, s"query dim ${q.length} != index dim $dim at $path")
    // OPQ-built index: centroids and residual codebook live in rotated
    // space — the query crosses here (one driver-side d² multiply)
    // BEFORE probe ranking, so coarse selection and LUTs agree
    val q1 = opqRotationOpt(spark, path).map(rotateQuery(_, q)).getOrElse(q)
    val probes = probeCells(cents, q1, nprobe)
    val lutsFlat = probes.toArray.flatMap(l => ivfLutFor(q1, cents, rcb, l, m, k))
    val slotOf = map(probes.zipWithIndex.flatMap { case (l, s) =>
      Seq(lit(l), lit(s)) }: _*)
    // a cell outside the probe map would make AdcDist yield null, and
    // ascending orderBy would rank null rows FIRST — so any future
    // isin-filter/slot-map mismatch must error loudly, not corrupt top-k
    val slot = coalesce(element_at(slotOf, col("cell")),
      raise_error(concat(lit("ivfPqSearchStored: cell outside probe map: "),
        col("cell").cast("string"))))
    readCodes(spark, path)
      .filter(col("cell").isin(probes: _*) && col("vec_id") =!= excludeId)
      .select(col("vec_id"), col("cell").cast("bigint").as("cell"),
        graft.functions.adcDist(col("codes"), slot, lutsFlat, m, k).as("adc"))
      .orderBy(col("adc"), col("vec_id")).limit(topK)
      .select(col("vec_id"), col("cell"), round(col("adc"), 6).as("adc_dist"))
  }

  /** BATCH IVF-PQ stored search — [[ivfPqSearchStored]] over a query
    * DATAFRAME: s09's bucket pruning composed with s13's
    * slot-indexed LUT trick, closing the set-at-a-time serving shape
    * for the layout that actually ships at billion scale.
    *
    *   - per-query probe lists come from the memoized centroid
    *     sidecar (driver metadata, KB);
    *   - the scan's cell filter is the UNION of every query's probed
    *     cells — bucket pruning still bounds IO at the buckets
    *     ∪probes hashes to, and stays codes-only (m bytes/vector,
    *     tombstone-filtered, never the embeddings);
    *   - the per-(query, probed-cell) ADC LUTs concatenate into ONE
    *     flat literal; a cell → [(slot, query_id)] map literal fans
    *     each code row out across exactly the queries that probe ITS
    *     cell (a generator — never the whole batch, never an NL
    *     join), and the existing AdcDist slot argument selects the
    *     LUT segment;
    *   - per-query top-k runs on the bounded-heap TopKPerKey
    *     operator, so the only exchange is k×queries rows.
    *
    * Driver state is Q × nprobe × m × k doubles — KB at serving
    * batch sizes; shard the query table over multiple calls beyond
    * that (same contract as [[pqSearchStoredBatch]]).
    */
  def ivfPqSearchStoredBatch(spark: SparkSession, path: String,
      queries: DataFrame, nprobe: Int, topK: Int,
      excludeSelf: Boolean = false): DataFrame = {
    val (m, k, dim, cents, rcb) = readIvfSidecars(spark, path)
    val qs = queries.select(col("query_id").cast("long"), col("embedding"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
      .sortBy(_._1)
    require(qs.nonEmpty, "empty query batch")
    qs.foreach { case (id, q) => require(q.length == dim,
      s"query $id dim ${q.length} != index dim $dim at $path") }
    // ENFORCED serving contract, not an honor-system comment: the LUT
    // literal is Q × nprobe × m × k doubles of plan state — past the
    // ceiling the plan itself becomes pathological, so fail loudly and
    // point at the escape hatch (chunk the batch; results are
    // per-query, so a union of chunked calls is identical).
    val lutDoubles = qs.length.toLong * math.min(nprobe, cents.size) * m * k
    val lutCeil = batchLutMaxDoubles(spark)
    require(lutDoubles <= lutCeil,
      s"ivfPqSearchStoredBatch: ${qs.length} queries x nprobe=$nprobe needs a " +
        s"$lutDoubles-double LUT literal > ceiling $lutCeil " +
        "(graft.index.batchLutMaxDoubles); shard the query table over " +
        "multiple calls and union the results")
    // same rotation crossing as the single-query path, per query —
    // BEFORE probe ranking (centroids live in rotated space)
    val rot = opqRotationOpt(spark, path)
    // slot layout: queries in id order, each query's probes in probe
    // order — lutsFlat(slot*m*k ..) is the LUT the slot column selects
    val slotted = qs.flatMap { case (qid, q0) =>
      val q = rot.map(rotateQuery(_, q0)).getOrElse(q0)
      probeCells(cents, q, nprobe).map(cell =>
        (qid, cell, ivfLutFor(q, cents, rcb, cell, m, k)))
    }.zipWithIndex
    val lutsFlat = slotted.flatMap(_._1._3)
    // the isin filter below is DERIVED from this map's keys, so a scan
    // row always finds its entry list (no silent explode-to-nothing)
    val cellEntries = slotted.groupBy(_._1._2)
    val probedCells = cellEntries.keys.toSeq.sorted
    val entryMap = map(probedCells.flatMap { cell =>
      Seq(lit(cell), array(cellEntries(cell).map { case ((qid, _, _), slot) =>
        struct(lit(slot).as("slot"), lit(qid).as("query_id")) }: _*))
    }: _*)
    val scored = readCodes(spark, path)
      .filter(col("cell").isin(probedCells: _*))
      .select(col("vec_id"), col("cell").cast("bigint").as("cell"), col("codes"),
        explode(element_at(entryMap, col("cell").cast("int"))).as("e"))
      .filter(if (excludeSelf) col("vec_id") =!= col("e.query_id") else lit(true))
      .select(col("e.query_id").as("query_id"), col("vec_id"), col("cell"),
        graft.functions.adcDist(col("codes"), col("e.slot"), lutsFlat, m, k).as("adc"))
      .withColumn("neg_adc", lit(0.0) - col("adc"))
    TopK.topKPerKey(scored, Seq("query_id"), "neg_adc", "vec_id", topK)
      .select(col("query_id"), col("vec_id"), col("cell"),
        round(col("adc"), 6).as("adc_dist"))
  }

  /** Assign `newVectors` to the stored quantizer: nearest sidecar
    * centroid + residual codes. One codegen scan, no shuffle. */
  private def assignToStoredCells(newVectors: DataFrame, path: String): DataFrame = {
    val spark = newVectors.sparkSession
    val (m, k, _, cents, rcb) = readIvfSidecars(spark, path)
    // OPQ-built index: appended vectors must cross into rotated space
    // exactly like build and search — the stored centroids/codebook ARE
    // rotated, so an unrotated append would code garbage residuals
    val src = opqRotationOpt(spark, path)
      .map(rotateEmbeddings(newVectors, _)).getOrElse(newVectors)
    val cellSeq = cents.toSeq.sortBy(_._1)
    // rank cells by cos(v, c) = dot/(|v||c|): |v| is row-constant, so
    // dot/|c| ranks identically; dot is the in-order left fold the
    // probe chain uses. Ties to the smaller cell via max(score, -cell).
    val scored = array(cellSeq.map { case (l, c) =>
      val dot = aggregate(
        zip_with(col("embedding"), array(c.map(lit(_)): _*),
          (x, y) => x.cast("double") * y),
        lit(0.0), (acc, v) => acc + v)
      struct((dot / lit(math.sqrt(c.map(x => x * x).sum))).as("s"),
        lit(-l).as("nl"))
    }: _*)
    val centMap = map(cellSeq.flatMap { case (l, c) =>
      Seq(lit(l), array(c.map(lit(_)): _*)) }: _*)
    val residual = transform(col("embedding"),
      (x, i) => x.cast("double") - element_at(element_at(centMap, col("cell")), i + 1))
    src
      .select(col("vec_id"), col("embedding"))
      .withColumn("cell", (lit(0) - array_max(scored).getField("nl")).cast("int"))
      .select(col("vec_id"), col("cell"),
        graft.functions.pqCodes(residual, rcb, m, k).as("codes"))
  }

  /** APPEND vectors to a [[writeIvfPqIndex]] index in place — the
    * maintenance half a continuously-ingesting deployment needs (the
    * signature store's append/compact loop, at the ANN layer).
    *
    * Assignment: nearest STORED centroid (max in-order cosine, ties to
    * the smaller cell — the probe-ranking rule), not any label column:
    * the stored sidecars ARE the quantizer, and an appended vector has
    * no say in the cell geometry. Residuals are coded against the
    * assigned cell's centroid with the stored residual codebook —
    * centroids and codebook are NOT retrained (the standard IVF append
    * contract; re-train + full rebuild is the rebalance operation, not
    * the append). The write is a [[BucketedStore.append]]: at most one
    * more file per touched bucket; searches started before see the old
    * lists, after see old+new.
    *
    * Replay-safe: [[BucketedStore.unseen]] drops the vectors the codes
    * table already holds and the tombstoned ones, so a batch replayed
    * after a crash — before or after a compaction — lands nothing
    * twice, and the codes table is its own replay guard (one job
    * commit, no window between two writes). The cost: an append reads
    * the stored `vec_id` column (8 bytes/vector) — a broadcast at
    * small scale, one exchange of ids at large. Compact with
    * [[maybeCompactIvfPqIndex]] on cadence.
    */
  def appendToIvfPqIndex(newVectors: DataFrame, path: String): Unit = {
    val spark = newVectors.sparkSession
    val t = indexTable(spark, path)
    BucketedStore.append(
      BucketedStore.unseen(spark, assignToStoredCells(newVectors, path), t, t, "vec_id"), t)
  }

  /** Compact an IVF-PQ index's inverted lists to one sorted file per
    * bucket, dropping tombstoned vectors physically
    * ([[BucketedStore.compact]]: the rewrite swaps in under the
    * unchanged catalog entry, and a crash at any point heals on the
    * next append or compaction). Sidecars untouched; searches prune
    * exactly as before. Schedule it in the ingest quiet window (same
    * caveat as the near-dup store compaction).
    */
  def compactIvfPqIndex(spark: SparkSession, path: String): Unit = {
    val t = indexTable(spark, path)
    BucketedStore.compact(spark, t, t, "vec_id")
  }

  /** Compaction CADENCE for the index ([[BucketedStore.maybeCompact]]):
    * compact only when some bucket holds more than `maxFilesPerBucket`
    * files — each append adds at most one file per touched bucket, so
    * the threshold bounds per-search file-open amplification while
    * amortizing the compaction over the appends that caused it.
    * Returns whether it compacted; [[graft.streaming.IndexStream]]
    * calls this per micro-batch when given a threshold.
    */
  def maybeCompactIvfPqIndex(spark: SparkSession, path: String,
      maxFilesPerBucket: Int): Boolean = {
    val t = indexTable(spark, path)
    BucketedStore.maybeCompact(spark, Seq(t), maxFilesPerBucket)(
      compactIvfPqIndex(spark, path))
  }

  /** Exact L2² distance to a broadcast query vector, as the IN-ORDER
    * (a−b)² chain (zip_with preserves element order, `aggregate`
    * folds left) — the DuckDB oracle replays it bit-exactly with
    * list_sum(list(... ORDER BY pos)). */
  private def l2d2(q: Array[Double]): Column =
    aggregate(
      zip_with(col("embedding"), array(q.map(lit(_)): _*), (x, y) => {
        val dd = x.cast("double") - y; dd * dd
      }),
      lit(0.0), (acc, v) => acc + v)

  /** Exact L2² top-k vs the vector with `queryId` — the ground truth
    * the PQ recall contract compares against. */
  def l2TopK(embeddings: DataFrame, queryId: Long, k: Int): DataFrame =
    embeddings
      .select(col("vec_id"), l2d2(queryVec(embeddings, queryId)).as("d2"))
      .filter(col("vec_id") =!= queryId)
      .orderBy(col("d2"), col("vec_id")).limit(k)

  /** Recall CONTRACT of the full IVFADC+R pipeline (Jégou TPAMI'11:
    * probe → ADC shortlist over codes → exact re-rank of the
    * shortlist), s05's pattern at the quantized layer. The gated
    * metric is IN-CELL recall@topK — the re-ranked result vs the
    * exact truth RESTRICTED to the probed cells — which isolates what
    * PQ distortion + the shortlist cut actually cost; probe COVERAGE
    * (fraction of the full truth inside probed cells) is reported
    * un-gated, because on this corpus it is a data property, not an
    * index property: the synthetic embeddings are near-isotropic, so
    * ANY cell pruning caps full recall at ~the probed fraction
    * (measured: label cells and trained KMeans cells both land at
    * ~nprobe/ncells). Every chain on both sides is in-order, so the
    * measured numbers are deterministic and the DuckDB oracle replays
    * the whole pipeline. At scale the contract runs on a query
    * sample, like s05.
    *
    * GATED as the s10 entry with the SAME m/k the shipped s08/s09
    * indexes use (m=8, k=16 — the defaults here match so the gated
    * metric describes the stored layout) and shortlist = 10·topK:
    * measured in-cell recall at that ratio is 1.0 on the sf0.01 gate
    * corpus (sweep: R=30→0.7, R=50→0.8, R=80+→1.0), so the 0.9 gate
    * trips on any codebook/kernel change that adds distortion while
    * tolerating corpus noise. The shortlist ratio is the dial: on
    * denser corpora R grows with the per-probe candidate count
    * (sf0.1: R=200 ≈ 13% of candidates → 0.9).
    */
  def ivfPqRerankRecall(embeddings: DataFrame, queryId: Long, nprobe: Int,
      shortlist: Int, topK: Int, gate: Double,
      m: Int = 8, k: Int = 16): DataFrame = {
    val cents = cellCentroids(embeddings)
    val q = queryVec(embeddings, queryId)
    val probes = probeCells(cents, q, nprobe)
    val short = ivfPqSearch(embeddings, queryId, nprobe, shortlist, m, k)
      .select("vec_id")
    // exact distances once over the probed cells: cell-truth AND the
    // re-rank read the same frame
    val d2cell = embeddings.filter(col("label").isin(probes: _*))
      .filter(col("vec_id") =!= queryId)
      .select(col("vec_id"), l2d2(q).as("d2"))
    val truthCell = d2cell.orderBy(col("d2"), col("vec_id")).limit(topK)
      .select("vec_id")
    val reranked = d2cell.join(short, "vec_id")
      .orderBy(col("d2"), col("vec_id")).limit(topK).select("vec_id")
    val nFound = reranked.join(truthCell, Seq("vec_id"), "left_semi").count()
    val coverage = l2TopK(embeddings, queryId, topK).select("vec_id")
      .join(embeddings.filter(col("label").isin(probes: _*)).select("vec_id"),
        Seq("vec_id"), "left_semi").count()
    val recall = nFound.toDouble / topK
    embeddings.sparkSession.range(1).select(
      lit(nprobe).cast("bigint").as("nprobe"),
      lit(shortlist).cast("bigint").as("n_short"),
      lit(topK).cast("bigint").as("n_topk"),
      lit(nFound).cast("bigint").as("n_found"),
      round(lit(recall), 6).as("recall"),
      lit(recall >= gate).as("recall_ok"),
      round(lit(coverage.toDouble / topK), 6).as("probe_coverage"))
  }

  /** Per-JVM-unique scratch root for the stored indexes the s08/s09
    * entries build then search: two concurrent JVMs (Verify while a
    * Bench is up) must never share an index directory — one scanning
    * codes mid-overwrite by the other would corrupt results. */
  private lazy val idxRoot: String = s"/tmp/graft_idx/run_" +
    s"${ProcessHandle.current().pid()}_${java.lang.Long.toHexString(System.nanoTime())}"
  private def idxPath(dir: String, name: String): String =
    s"$idxRoot/${new java.io.File(dir).getName}_$name"

  /** Index paths already built in THIS JVM: the s08/s09 entries build
    * once per (dataset, layout) and every later execution scans the
    * stored codes only — so a bench warmup pass pays the one-time
    * build and the timed pass measures what a deployment actually
    * repeats, the codes-only search ([[graft.Bench]] reports the build
    * as its own metric). */
  private val builtIdx = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private def buildOnce(path: String)(build: => Unit): String = {
    // mark built only once the build COMPLETES: if the write throws
    // (disk full mid-write), the path must stay unmarked so a later
    // execution retries instead of scanning a partial index forever.
    if (builtIdx.add(path)) {
      try build
      catch { case e: Throwable => builtIdx.remove(path); throw e }
    }
    path
  }

  /** Matryoshka coarse-to-fine retrieval: shortlist by PREFIX-dim
    * cosine (a scan that reads/multiplies only `dPrefix` of `dim`
    * floats per row — with a prefix-truncated stored column this is a
    * dim/dPrefix I/O cut, the matryoshka deployment shape), then
    * exact full-dim re-rank of the shortlist. Both stages are
    * broadcast-query TakeOrdered scans: zero shuffles, shortlist
    * rows carry the full vector so the re-rank re-reads nothing.
    */
  def matryoshkaTopK(embeddings: DataFrame, queryId: Long, k: Int,
      dPrefix: Int, shortlistN: Int): DataFrame = {
    val q = embeddings.filter(col("vec_id") === queryId)
      .select(col("embedding").as("qe"))
    embeddings.crossJoin(broadcast(q))
      .select(col("vec_id"), col("embedding"), col("qe"),
        round(vectorCosine(slice(col("embedding"), 1, dPrefix),
          slice(col("qe"), 1, dPrefix)), 6).as("cos_pre"))
      .filter(col("vec_id") =!= queryId)
      .orderBy(desc("cos_pre"), col("vec_id")).limit(shortlistN)
      .select(col("vec_id"),
        round(vectorCosine(col("embedding"), col("qe")), 6).as("cos"))
      .orderBy(desc("cos"), col("vec_id")).limit(k)
  }

  /** Quality CONTRACT for the matryoshka pipeline (s05/s10's pattern):
    * recall@k of the prefix-shortlist + re-rank result vs the full-dim
    * brute truth. On this gate corpus the embeddings are synthetic and
    * near-isotropic — the prefix carries only dPrefix/dim of the
    * energy, the hardest case for prefix retrieval (trained matryoshka
    * embeddings FRONT-LOAD energy precisely so this recall rises) — so
    * the gate bound is 0.5 at dPrefix=16/64, shortlist=5×k (measured:
    * 0.70, deterministic). At scale the contract runs on a query
    * sample, like s05.
    */
  def matryoshkaRecall(embeddings: DataFrame, queryId: Long, k: Int,
      dPrefix: Int, shortlistN: Int, minRecall: Double): DataFrame = {
    val full = cosineTopK(embeddings, queryId, k).select(col("vec_id"))
    val mat = matryoshkaTopK(embeddings, queryId, k, dPrefix, shortlistN)
      .select(col("vec_id"))
    val nHit = full.join(mat, Seq("vec_id"), "left_semi").count()
    val recall = nHit.toDouble / k
    embeddings.sparkSession.range(1).select(
      lit(dPrefix.toLong).as("d_prefix"), lit(shortlistN.toLong).as("n_shortlist"),
      lit(k.toLong).as("n_topk"), lit(nHit).as("n_hit"),
      round(lit(recall), 6).as("recall"), lit(recall >= minRecall).as("recall_ok"))
  }

  /** BATCH matryoshka search — [[matryoshkaTopK]]'s prefix-shortlist
    * + full-dim re-rank for a query TABLE in the s12 serving shape:
    * one corpus scan computes every query's dPrefix-dim cosine, the
    * bounded-heap TopKPerKey keeps shortlistN per query (full vectors
    * ride the heap rows so the re-rank needs NO second corpus scan or
    * join — payload is shortlistN x Q x dim floats, KB at serving
    * batch sizes), and a second TopKPerKey re-ranks by full-dim
    * cosine. Exchanges: k x Q and shortlistN x Q rows only.
    */
  def matryoshkaTopKBatch(embeddings: DataFrame, queries: DataFrame, k: Int,
      dPrefix: Int, shortlistN: Int): DataFrame = {
    val q = queries.select(col("query_id"), col("embedding").as("qe"),
      slice(col("embedding"), 1, dPrefix).as("qp"))
    val pre = embeddings
      .select(col("vec_id"), col("embedding"),
        slice(col("embedding"), 1, dPrefix).as("pe"))
      .crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"), col("embedding"), col("qe"),
        round(vectorCosine(col("pe"), col("qp")), 6).as("pcos"))
    val short = TopK.topKPerKey(pre, Seq("query_id"), "pcos", "vec_id", shortlistN)
      .select(col("query_id"), col("vec_id"),
        round(vectorCosine(col("embedding"), col("qe")), 6).as("cos"))
    TopK.topKPerKey(short, Seq("query_id"), "cos", "vec_id", k)
      .select(col("query_id"), col("vec_id"), col("cos"))
  }

  val entries: Seq[(String, QFn, Option[String])] = Seq(

    // ---- KMeans-trained IVF: oracle checks the index recall contract ----
    ("s04_similarity_kmeans_ivf", (s: SparkSession, d: String) =>
      kmeansIvfRecall(Tables.embeddings(s, d), 0L, 8, 3, 10), Some("""
      SELECT CAST(8 AS BIGINT) AS k, CAST(3 AS BIGINT) AS nprobe,
        true AS recall_ok""")),

    // ---- IVF ANN: centroid probe selection + cell-pruned exact search ----
    ("s03_similarity_ivf", (s: SparkSession, d: String) =>
      ivfTopK(Tables.embeddings(s, d), 0L, 3, 10), Some("""
      WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
      ex AS (SELECT label, vec_id, unnest(embedding) AS v,
               generate_subscripts(embedding, 1) AS pos FROM embeddings),
      cent AS (SELECT label, pos,
                 CAST(sum(CAST(v AS DECIMAL(20,10))) AS DOUBLE) / count(*) AS c
               FROM ex GROUP BY label, pos),
      qv AS (SELECT pos, CAST(v AS DOUBLE) AS qd FROM ex WHERE vec_id = 0),
      cd AS (SELECT label,
               sum(c * qd) / (sqrt(sum(c * c)) * sqrt(sum(qd * qd))) AS cos_qc
             FROM cent JOIN qv USING (pos) GROUP BY label),
      probes AS (SELECT label FROM cd ORDER BY cos_qc DESC, label LIMIT 3),
      cand AS (SELECT e.vec_id, e.embedding FROM embeddings e JOIN probes USING (label)),
      z AS (SELECT vec_id, unnest(embedding) AS a, unnest(qe) AS b FROM cand, q),
      sums AS (SELECT vec_id,
                 sum(CAST(a AS DOUBLE) * CAST(b AS DOUBLE)) AS dot,
                 sum(CAST(a AS DOUBLE) * CAST(a AS DOUBLE)) AS na,
                 sum(CAST(b AS DOUBLE) * CAST(b AS DOUBLE)) AS nb
               FROM z GROUP BY vec_id)
      SELECT vec_id, round(dot / (sqrt(na) * sqrt(nb)), 6) AS cos
      FROM sums WHERE vec_id <> 0
      ORDER BY cos DESC, vec_id LIMIT 10""")),

    // ---- brute-force cosine top-k vs query vector ----
    ("s01_similarity_topk", (s: SparkSession, d: String) =>
      cosineTopK(Tables.embeddings(s, d), 0L, 20), Some("""
      WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
      z AS (SELECT vec_id, unnest(embedding) AS a, unnest(qe) AS b FROM embeddings, q),
      sums AS (
        SELECT vec_id,
          sum(CAST(a AS DOUBLE) * CAST(b AS DOUBLE)) AS dot,
          sum(CAST(a AS DOUBLE) * CAST(a AS DOUBLE)) AS na,
          sum(CAST(b AS DOUBLE) * CAST(b AS DOUBLE)) AS nb
        FROM z GROUP BY vec_id)
      SELECT vec_id, round(dot / (sqrt(na) * sqrt(nb)), 6) AS cos
      FROM sums WHERE vec_id <> 0
      ORDER BY cos DESC, vec_id LIMIT 20""")),

    // ---- hybrid retrieval: 0.5*embedding-cosine + 0.5*trigram-jaccard
    //      vs query id 0 (documents and embeddings joined on id) ----
    ("h01_hybrid_retrieval", (s: SparkSession, d: String) => {
      // hashed shingles + fused jaccard kernel (no trigram strings);
      // parallelize the shingle map stage (single input file locally)
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("doc_id"), graft.functions.shingleHashes(col("text"), 3).as("sh"))
      val embs = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      val both = docs.join(embs, col("doc_id") === col("vec_id"))
      val q = both.filter(col("doc_id") === 0)
        .select(col("sh").as("qsh"), col("embedding").as("qe"))
      both.crossJoin(broadcast(q))
        .select(col("doc_id"),
          round(lit(0.5) * round(vectorCosine(col("embedding"), col("qe")), 6) +
            lit(0.5) * graft.functions.jaccardHashes(col("sh"), col("qsh")), 6).as("score"))
        .filter(col("doc_id") =!= 0)
        .orderBy(desc("score"), col("doc_id")).limit(20)
    }, Some("""
      WITH w AS (SELECT doc_id,
                   list_filter(string_split(trim(text), ' '), t -> t <> '') AS ws
                 FROM documents),
      tri0 AS (SELECT doc_id, ws,
                 unnest(generate_series(1, greatest(len(ws) - 2, 1))) AS i
               FROM w WHERE len(ws) > 0),
      tri AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS tg
              FROM tri0),
      qt AS (SELECT tg FROM tri WHERE doc_id = 0),
      inter AS (SELECT t.doc_id, count(*) AS ni FROM tri t JOIN qt USING (tg) GROUP BY 1),
      sizes AS (SELECT doc_id, count(*) AS n FROM tri GROUP BY 1),
      qn AS (SELECT count(*) AS nq FROM qt),
      jac AS (SELECT s.doc_id,
                CAST(coalesce(ni, 0) AS DOUBLE) / (n + nq - coalesce(ni, 0)) AS jaccard
              FROM sizes s LEFT JOIN inter i ON s.doc_id = i.doc_id, qn),
      qe AS (SELECT embedding AS qemb FROM embeddings WHERE vec_id = 0),
      z AS (SELECT vec_id, unnest(embedding) AS a, unnest(qemb) AS b FROM embeddings, qe),
      sums AS (SELECT vec_id,
                 sum(CAST(a AS DOUBLE) * CAST(b AS DOUBLE)) AS dot,
                 sum(CAST(a AS DOUBLE) * CAST(a AS DOUBLE)) AS na,
                 sum(CAST(b AS DOUBLE) * CAST(b AS DOUBLE)) AS nb
               FROM z GROUP BY vec_id),
      cos AS (SELECT vec_id, round(dot / (sqrt(na) * sqrt(nb)), 6) AS c FROM sums)
      SELECT j.doc_id, round(0.5 * c + 0.5 * jaccard, 6) AS score
      FROM jac j JOIN cos ON j.doc_id = cos.vec_id
      WHERE j.doc_id <> 0
      ORDER BY score DESC, j.doc_id LIMIT 20""")),

    // ---- multi-table banded-LSH pairwise similarity. Full DuckDB
    //      oracle: the SQL recomputes the 192 hash-derived
    //      hyperplanes, the 48 4-bit table keys, OR-ed bucket-equal
    //      candidates, and the exact-cosine refine — hash parity
    //      holds independent of recall (which s05 measures) ----
    ("s02_similarity_lsh", (s: SparkSession, d: String) =>
      nearDupPairs(Tables.embeddings(s, d), 0.3), Some(s"""
      WITH ${OracleSql.lshKeysCtes(LshTables, LshBits)},
      pairs AS (
        SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
        FROM lshkeys a JOIN lshkeys b
          ON a.tbl = b.tbl AND a.bkey = b.bkey AND a.vec_id < b.vec_id),
      z AS (SELECT p.id_a, p.id_b,
              unnest(ea.embedding) AS va, unnest(eb.embedding) AS vb
            FROM pairs p JOIN embeddings ea ON ea.vec_id = p.id_a
                         JOIN embeddings eb ON eb.vec_id = p.id_b),
      sums AS (SELECT id_a, id_b,
                 sum(CAST(va AS DOUBLE) * CAST(vb AS DOUBLE)) AS dot,
                 sum(CAST(va AS DOUBLE) * CAST(va AS DOUBLE)) AS na,
                 sum(CAST(vb AS DOUBLE) * CAST(vb AS DOUBLE)) AS nb
               FROM z GROUP BY id_a, id_b)
      SELECT id_a, id_b, round(dot / (sqrt(na) * sqrt(nb)), 6) AS cos
      FROM sums WHERE round(dot / (sqrt(na) * sqrt(nb)), 6) >= 0.3
      ORDER BY id_a, id_b""")),

    // ---- recall contract of the banded-LSH candidate stage vs the
    //      brute-force truth at cos>=0.3. The oracle recomputes BOTH
    //      sides in SQL (LSH keys + exhaustive pairs), so the measured
    //      recall itself is held to bit-exact parity ----
    // recall contract with the SAMPLED truth the 100 TB deployment
    // actually runs: exact all-pairs truth over a deterministic 50%
    // hash-sample (quadratic cost /4), candidates over the FULL
    // corpus — the measured structure is unchanged, the estimate is
    // over sampled truth pairs. Oracle applies the identical sample
    ("s05_lsh_recall", (s: SparkSession, d: String) =>
      lshRecall(Tables.embeddings(s, d), 0.3, samplePct = 50), Some(s"""
      WITH ${OracleSql.lshKeysCtes(LshTables, LshBits)},
      cand AS (
        SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
        FROM lshkeys a JOIN lshkeys b
          ON a.tbl = b.tbl AND a.bkey = b.bkey AND a.vec_id < b.vec_id),
      samp AS (SELECT vec_id, embedding FROM embeddings
               WHERE (vec_id % 1000003) * 427799 % 1000003 % 100 < 50),
      tz AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               unnest(a.embedding) AS x, unnest(b.embedding) AS y
             FROM samp a JOIN samp b ON a.vec_id < b.vec_id),
      ts AS (SELECT id_a, id_b,
               sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) AS dot,
               sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) AS na,
               sum(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)) AS nb
             FROM tz GROUP BY id_a, id_b),
      truth AS (SELECT id_a, id_b FROM ts
                WHERE round(dot / (sqrt(na) * sqrt(nb)), 6) >= 0.3),
      m AS (SELECT (SELECT count(*) FROM truth) AS n_true,
                   (SELECT count(*) FROM truth t JOIN cand c
                      USING (id_a, id_b)) AS n_found)
      SELECT CAST(n_true AS BIGINT) AS n_true, CAST(n_found AS BIGINT) AS n_found,
        round(CASE WHEN n_true = 0 THEN 1.0
                   ELSE CAST(n_found AS DOUBLE) / n_true END, 6) AS recall,
        (CASE WHEN n_true = 0 THEN 1.0
              ELSE CAST(n_found AS DOUBLE) / n_true END) >= 0.95 AS recall_ok
      FROM m""")),

    // ---- int8 scalar quantization of the embedding column (4x
    //      memory/IO cut for ANN at scale): per-vector max-abs scale,
    //      symmetric round-to-nearest codes in [-127,127], exact
    //      reconstruction-error audit. Zero-shuffle codegen column
    //      map + one partial-agg rollup; every float op is a
    //      correctly-rounded IEEE op so the oracle matches bit-exactly ----
    ("s06_quantize_int8", (s: SparkSession, d: String) => {
      val xd = transform(col("embedding"), x => x.cast("double"))
      val mx = array_max(transform(col("embedding"), x => abs(x.cast("double"))))
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("label"), xd.as("xd"), mx.as("mx"))
        .filter(col("mx") > 0)
        .withColumn("scale", lit(127.0) / col("mx"))
        .withColumn("codes",
          transform(col("xd"), x => round(x * col("scale")).cast("long")))
        .withColumn("csum",
          aggregate(col("codes"), lit(0L), (acc, c) => acc + c))
        .withColumn("err", array_max(zip_with(col("xd"), col("codes"),
          (x, c) => abs(x - c.cast("double") / col("scale")))))
      e.groupBy(col("label"))
        .agg(count(lit(1)).as("n"), sum(col("csum")).as("code_sum"),
          round(max(col("err")), 9).as("max_err"))
        .orderBy("label")
    }, Some("""
      WITH q AS (
        SELECT vec_id, label,
          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS xd,
          list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS mx
        FROM embeddings),
      sc AS (SELECT vec_id, label, xd, CAST(127 AS DOUBLE) / mx AS scale
             FROM q WHERE mx > 0),
      c AS (SELECT vec_id, label, scale, xd,
              list_transform(xd, x -> CAST(round(x * scale) AS BIGINT)) AS codes
            FROM sc),
      e AS (SELECT vec_id, label,
              CAST(list_sum(codes) AS BIGINT) AS csum,
              list_max(list_transform(range(1, len(xd) + 1),
                i -> abs(xd[i] - CAST(codes[i] AS DOUBLE) / scale))) AS err
            FROM c)
      SELECT label, count(*) AS n, CAST(sum(csum) AS BIGINT) AS code_sum,
        round(max(err), 9) AS max_err
      FROM e GROUP BY label ORDER BY label""")),

    // ---- product quantization: 8 subspaces x 16 centroids, codes +
    //      exact reconstruction error. Oracle replays the codebook
    //      (first-16 vectors), the in-order L2 sums (list(ORDER BY) +
    //      list_sum = the same left-to-right float chain), and the
    //      (dist, j) argmin tie-break ----
    ("s07_pq_quantize", (s: SparkSession, d: String) =>
      pqQuantize(Tables.embeddings(s, d), 8, 16), Some("""
      WITH ex AS (SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
                    CAST(unnest(embedding) AS DOUBLE) AS v
                  FROM embeddings),
      cent AS (SELECT vec_id AS j, pos, v AS c FROM ex WHERE vec_id < 16),
      d AS (SELECT e.vec_id, c.j, (e.pos - 1) // 8 AS s,
              list_sum(list((e.v - c.c) * (e.v - c.c) ORDER BY e.pos)) AS dist
            FROM ex e JOIN cent c USING (pos)
            GROUP BY e.vec_id, c.j, (e.pos - 1) // 8),
      pick AS (SELECT vec_id, s, j, dist,
                 row_number() OVER (PARTITION BY vec_id, s ORDER BY dist, j) AS rn
               FROM d)
      SELECT vec_id,
        array_to_string(list(j ORDER BY s), ',') AS codes,
        round(list_sum(list(dist ORDER BY s)), 6) AS recon_err
      FROM pick WHERE rn = 1 GROUP BY vec_id ORDER BY vec_id""")),

    // ---- PQ asymmetric-distance search over the STORED codes table:
    //      the entry materializes the index (codes = m bytes/vector +
    //      codebook sidecar), then the search scan reads codes ONLY —
    //      never the embedding column (PqStoredSpec asserts the
    //      ReadSchema). Oracle replays codes, the LUT's in-order float
    //      chains, and the subspace-order ADC sum ----
    ("s08_pq_search", (s: SparkSession, d: String) => {
      val e = Tables.embeddings(s, d)
      val path = buildOnce(idxPath(d, "pq")) { writePqIndex(e, idxPath(d, "pq"), 8, 16) }
      pqSearchStored(s, path, queryVec(e, 0L), 20, excludeId = 0L)
    }, Some("""
      WITH ex AS (SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
                    CAST(unnest(embedding) AS DOUBLE) AS v
                  FROM embeddings),
      cent AS (SELECT vec_id AS j, pos, v AS c FROM ex WHERE vec_id < 16),
      d AS (SELECT e.vec_id, c.j, (e.pos - 1) // 8 AS s,
              list_sum(list((e.v - c.c) * (e.v - c.c) ORDER BY e.pos)) AS dist
            FROM ex e JOIN cent c USING (pos)
            GROUP BY e.vec_id, c.j, (e.pos - 1) // 8),
      pick AS (SELECT vec_id, s, j, dist,
                 row_number() OVER (PARTITION BY vec_id, s ORDER BY dist, j) AS rn
               FROM d),
      lut AS (SELECT c.j, (c.pos - 1) // 8 AS s,
                list_sum(list((q.v - c.c) * (q.v - c.c) ORDER BY c.pos)) AS ld
              FROM cent c JOIN ex q ON q.pos = c.pos AND q.vec_id = 0
              GROUP BY c.j, (c.pos - 1) // 8),
      adc AS (SELECT p.vec_id, list_sum(list(l.ld ORDER BY p.s)) AS adc
              FROM pick p JOIN lut l ON l.s = p.s AND l.j = p.j
              WHERE p.rn = 1 GROUP BY p.vec_id)
      SELECT vec_id, round(adc, 6) AS adc_dist
      FROM adc WHERE vec_id <> 0
      ORDER BY adc, vec_id LIMIT 20""")),

    // ---- IVF-PQ over the STORED index: the entry materializes the
    //      inverted-list layout (codes bucketed by cell + metadata
    //      sidecars), then searches it — the files of the probed
    //      cells' buckets are the only files read, and the
    //      embedding column is never touched. The oracle replays the
    //      WHOLE index: decimal-exact centroids, probe ranking,
    //      residual codebook, per-vector residual codes, per-cell
    //      query LUTs, and the subspace-order ADC sums ----
    ("s09_ivfpq_search", (s: SparkSession, d: String) => {
      val e = Tables.embeddings(s, d)
      val path = buildOnce(idxPath(d, "ivfpq")) { writeIvfPqIndex(e, idxPath(d, "ivfpq"), 8, 16) }
      ivfPqSearchStored(s, path, queryVec(e, 0L), 3, 10, excludeId = 0L)
    }, Some("""
      WITH ex AS (SELECT label, vec_id, generate_subscripts(embedding, 1) AS pos,
                    CAST(unnest(embedding) AS DOUBLE) AS v
                  FROM embeddings),
      cent AS (SELECT label, pos,
                 CAST(sum(CAST(v AS DECIMAL(20,10))) AS DOUBLE) / count(*) AS c
               FROM ex GROUP BY label, pos),
      q AS (SELECT pos, v AS qd FROM ex WHERE vec_id = 0),
      cd AS (SELECT label,
               list_sum(list(c * qd ORDER BY pos)) /
                 (sqrt(list_sum(list(c * c ORDER BY pos))) *
                  sqrt(list_sum(list(qd * qd ORDER BY pos)))) AS cos_qc
             FROM cent JOIN q USING (pos) GROUP BY label),
      probes AS (SELECT label FROM cd ORDER BY cos_qc DESC, label LIMIT 3),
      resid AS (SELECT e.vec_id, e.label, e.pos, e.v - c.c AS r
                FROM ex e JOIN cent c ON e.label = c.label AND e.pos = c.pos),
      rcb AS (SELECT vec_id AS j, pos, r AS cr FROM resid WHERE vec_id < 16),
      cand AS (SELECT r.* FROM resid r JOIN probes USING (label)),
      dists AS (SELECT ca.vec_id, ca.label, cb.j, (ca.pos - 1) // 8 AS s,
                  list_sum(list((ca.r - cb.cr) * (ca.r - cb.cr) ORDER BY ca.pos)) AS dist
                FROM cand ca JOIN rcb cb USING (pos)
                GROUP BY ca.vec_id, ca.label, cb.j, (ca.pos - 1) // 8),
      codes AS (SELECT vec_id, label, s, j FROM (
                  SELECT vec_id, label, s, j,
                    row_number() OVER (PARTITION BY vec_id, s ORDER BY dist, j) AS rn
                  FROM dists) WHERE rn = 1),
      qres AS (SELECT c.label, c.pos, q.qd - c.c AS qr
               FROM cent c JOIN q USING (pos) JOIN probes p ON p.label = c.label),
      lut AS (SELECT qr.label, cb.j, (qr.pos - 1) // 8 AS s,
                list_sum(list((qr.qr - cb.cr) * (qr.qr - cb.cr) ORDER BY qr.pos)) AS dv
              FROM qres qr JOIN rcb cb USING (pos)
              GROUP BY qr.label, cb.j, (qr.pos - 1) // 8),
      adc AS (SELECT c.vec_id, c.label, list_sum(list(l.dv ORDER BY c.s)) AS adc
              FROM codes c JOIN lut l ON l.label = c.label AND l.s = c.s AND l.j = c.j
              GROUP BY c.vec_id, c.label)
      SELECT vec_id, CAST(label AS BIGINT) AS cell, round(adc, 6) AS adc_dist
      FROM adc WHERE vec_id <> 0
      ORDER BY adc, vec_id LIMIT 10""")),

    // ---- the PQ-layer quality CONTRACT (IVFADC+R, Jégou TPAMI'11):
    //      probe 3 cells, ADC-shortlist 100 over the quantized codes,
    //      exact re-rank, gate IN-CELL recall@10 >= 0.9 (measured 1.0
    //      at shortlist = 10x topK — see ivfPqRerankRecall's doc for
    //      the sweep). Same m/k as the stored s08/s09 indexes, so the
    //      gate describes the layout that ships. The oracle replays
    //      the ENTIRE pipeline — index build, probe ranking, residual
    //      codes, per-cell LUTs, ADC shortlist, exact re-rank, and the
    //      probe-coverage audit — bit-exactly in SQL ----
    ("s10_ivfpq_recall", (s: SparkSession, d: String) =>
      ivfPqRerankRecall(Tables.embeddings(s, d), 0L, 3, 100, 10, 0.9, 8, 16), Some("""
      WITH ex AS (SELECT label, vec_id, generate_subscripts(embedding, 1) AS pos,
                    CAST(unnest(embedding) AS DOUBLE) AS v
                  FROM embeddings),
      cent AS (SELECT label, pos,
                 CAST(sum(CAST(v AS DECIMAL(20,10))) AS DOUBLE) / count(*) AS c
               FROM ex GROUP BY label, pos),
      q AS (SELECT pos, v AS qd FROM ex WHERE vec_id = 0),
      cd AS (SELECT label,
               list_sum(list(c * qd ORDER BY pos)) /
                 (sqrt(list_sum(list(c * c ORDER BY pos))) *
                  sqrt(list_sum(list(qd * qd ORDER BY pos)))) AS cos_qc
             FROM cent JOIN q USING (pos) GROUP BY label),
      probes AS (SELECT label FROM cd ORDER BY cos_qc DESC, label LIMIT 3),
      resid AS (SELECT e.vec_id, e.label, e.pos, e.v - c.c AS r
                FROM ex e JOIN cent c ON e.label = c.label AND e.pos = c.pos),
      rcb AS (SELECT vec_id AS j, pos, r AS cr FROM resid WHERE vec_id < 16),
      cand AS (SELECT r.* FROM resid r JOIN probes USING (label)),
      dists AS (SELECT ca.vec_id, ca.label, cb.j, (ca.pos - 1) // 8 AS s,
                  list_sum(list((ca.r - cb.cr) * (ca.r - cb.cr) ORDER BY ca.pos)) AS dist
                FROM cand ca JOIN rcb cb USING (pos)
                GROUP BY ca.vec_id, ca.label, cb.j, (ca.pos - 1) // 8),
      codes AS (SELECT vec_id, label, s, j FROM (
                  SELECT vec_id, label, s, j,
                    row_number() OVER (PARTITION BY vec_id, s ORDER BY dist, j) AS rn
                  FROM dists) WHERE rn = 1),
      qres AS (SELECT c.label, c.pos, q.qd - c.c AS qr
               FROM cent c JOIN q USING (pos) JOIN probes p ON p.label = c.label),
      lut AS (SELECT qr.label, cb.j, (qr.pos - 1) // 8 AS s,
                list_sum(list((qr.qr - cb.cr) * (qr.qr - cb.cr) ORDER BY qr.pos)) AS dv
              FROM qres qr JOIN rcb cb USING (pos)
              GROUP BY qr.label, cb.j, (qr.pos - 1) // 8),
      adc AS (SELECT c.vec_id, list_sum(list(l.dv ORDER BY c.s)) AS adc
              FROM codes c JOIN lut l ON l.label = c.label AND l.s = c.s AND l.j = c.j
              GROUP BY c.vec_id, c.label),
      short AS (SELECT vec_id FROM adc WHERE vec_id <> 0
                ORDER BY adc, vec_id LIMIT 100),
      d2cell AS (SELECT e.vec_id,
                   list_sum(list((e.v - q.qd) * (e.v - q.qd) ORDER BY e.pos)) AS d2
                 FROM ex e JOIN q USING (pos) JOIN probes p ON p.label = e.label
                 WHERE e.vec_id <> 0 GROUP BY e.vec_id),
      truth_cell AS (SELECT vec_id FROM d2cell ORDER BY d2, vec_id LIMIT 10),
      rerank AS (SELECT d.vec_id FROM d2cell d JOIN short USING (vec_id)
                 ORDER BY d.d2, d.vec_id LIMIT 10),
      d2all AS (SELECT e.vec_id,
                  list_sum(list((e.v - q.qd) * (e.v - q.qd) ORDER BY e.pos)) AS d2
                FROM ex e JOIN q USING (pos) WHERE e.vec_id <> 0 GROUP BY e.vec_id),
      truth_full AS (SELECT vec_id FROM d2all ORDER BY d2, vec_id LIMIT 10),
      cov AS (SELECT count(*) AS n_cov FROM truth_full t
              JOIN (SELECT DISTINCT e2.vec_id FROM embeddings e2
                    JOIN probes p ON e2.label = p.label) pc USING (vec_id)),
      m AS (SELECT (SELECT count(*) FROM rerank r JOIN truth_cell USING (vec_id))
              AS n_found)
      SELECT CAST(3 AS BIGINT) AS nprobe, CAST(100 AS BIGINT) AS n_short,
        CAST(10 AS BIGINT) AS n_topk, CAST(n_found AS BIGINT) AS n_found,
        round(CAST(n_found AS DOUBLE) / 10, 6) AS recall,
        (CAST(n_found AS DOUBLE) / 10) >= 0.9 AS recall_ok,
        round(CAST(n_cov AS DOUBLE) / 10, 6) AS probe_coverage
      FROM m, cov""")),

    // ---- matryoshka prefix-retrieval contract: shortlist by
    //      16-of-64-dim cosine (the cheap scan), exact full-dim
    //      re-rank, gate recall@20 vs brute truth >= 0.5 (measured
    //      0.70 on the near-isotropic gate corpus — the floor case;
    //      see matryoshkaRecall's doc). Oracle replays both stages +
    //      the truth with the same round-6 tiebreak chain ----
    ("s11_matryoshka_recall", (s: SparkSession, d: String) =>
      matryoshkaRecall(Tables.embeddings(s, d), 0L, 20, 16, 100, 0.5), Some("""
      WITH qe AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
      prez AS (SELECT vec_id, unnest(list_slice(embedding, 1, 16)) AS a,
                 unnest(list_slice(qe, 1, 16)) AS b
               FROM embeddings, qe),
      pres AS (SELECT vec_id,
                 sum(CAST(a AS DOUBLE) * CAST(b AS DOUBLE)) AS dot,
                 sum(CAST(a AS DOUBLE) * CAST(a AS DOUBLE)) AS na,
                 sum(CAST(b AS DOUBLE) * CAST(b AS DOUBLE)) AS nb
               FROM prez GROUP BY vec_id),
      short AS (SELECT vec_id FROM pres WHERE vec_id <> 0
                ORDER BY round(dot / (sqrt(na) * sqrt(nb)), 6) DESC, vec_id
                LIMIT 100),
      z AS (SELECT vec_id, unnest(embedding) AS a, unnest(qe) AS b
            FROM embeddings, qe),
      sums AS (SELECT vec_id,
                 sum(CAST(a AS DOUBLE) * CAST(b AS DOUBLE)) AS dot,
                 sum(CAST(a AS DOUBLE) * CAST(a AS DOUBLE)) AS na,
                 sum(CAST(b AS DOUBLE) * CAST(b AS DOUBLE)) AS nb
               FROM z GROUP BY vec_id),
      fullc AS (SELECT vec_id, round(dot / (sqrt(na) * sqrt(nb)), 6) AS c
                FROM sums WHERE vec_id <> 0),
      rer AS (SELECT f.vec_id FROM fullc f JOIN short USING (vec_id)
              ORDER BY c DESC, vec_id LIMIT 20),
      brute AS (SELECT vec_id FROM fullc ORDER BY c DESC, vec_id LIMIT 20),
      m AS (SELECT count(*) AS n_hit FROM rer JOIN brute USING (vec_id))
      SELECT CAST(16 AS BIGINT) AS d_prefix, CAST(100 AS BIGINT) AS n_shortlist,
        CAST(20 AS BIGINT) AS n_topk, CAST(n_hit AS BIGINT) AS n_hit,
        round(CAST(n_hit AS DOUBLE) / 20, 6) AS recall,
        (CAST(n_hit AS DOUBLE) / 20) >= 0.5 AS recall_ok
      FROM m""")),

    // ---- BATCH exact search: 8 queries answered by ONE corpus scan —
    //      broadcast query table, per-query top-5 via the bounded-heap
    //      TopKPerKey operator (the only exchange is k×queries rows).
    //      The serving shape: no per-query job loop ----
    ("s12_batch_search", (s: SparkSession, d: String) => {
      val e = Tables.embeddings(s, d)
      val qs = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"), col("embedding"))
      cosineTopKBatch(e, qs, 5, excludeSelf = true)
        .orderBy(col("query_id"), desc("cos"), col("vec_id"))
    }, Some("""
      WITH q AS (SELECT vec_id AS query_id, embedding AS qe
                 FROM embeddings WHERE vec_id < 8),
      z AS (SELECT q.query_id, e.vec_id,
              unnest(e.embedding) AS a, unnest(q.qe) AS b
            FROM embeddings e, q),
      sums AS (SELECT query_id, vec_id,
                 sum(CAST(a AS DOUBLE) * CAST(b AS DOUBLE)) AS dot,
                 sum(CAST(a AS DOUBLE) * CAST(a AS DOUBLE)) AS na,
                 sum(CAST(b AS DOUBLE) * CAST(b AS DOUBLE)) AS nb
               FROM z GROUP BY query_id, vec_id),
      scored AS (SELECT query_id, vec_id,
                   round(dot / (sqrt(na) * sqrt(nb)), 6) AS cos
                 FROM sums WHERE vec_id <> query_id)
      SELECT query_id, vec_id, cos FROM (
        SELECT query_id, vec_id, cos,
          row_number() OVER (PARTITION BY query_id
                             ORDER BY cos DESC, vec_id) AS rn
        FROM scored) t
      WHERE rn <= 5
      ORDER BY query_id, cos DESC, vec_id""")),

    // ---- BATCH stored-PQ search: 4 queries' ADC LUTs concatenated
    //      into one flat literal, the AdcDist slot picking the
    //      segment — one codes-only scan (never the embeddings)
    //      serves the whole batch, per-query top-10 via TopKPerKey.
    //      The oracle replays codebook, per-query LUTs, and the
    //      subspace-order ADC sums for every (query, vector) pair ----
    ("s13_batch_pq_search", (s: SparkSession, d: String) => {
      val e = Tables.embeddings(s, d)
      val path = buildOnce(idxPath(d, "pq")) { writePqIndex(e, idxPath(d, "pq"), 8, 16) }
      val qs = e.filter(col("vec_id") < 4)
        .select(col("vec_id").as("query_id"), col("embedding"))
      pqSearchStoredBatch(s, path, qs, 10, excludeSelf = true)
        .orderBy(col("query_id"), col("adc_dist"), col("vec_id"))
    }, Some("""
      WITH ex AS (SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
                    CAST(unnest(embedding) AS DOUBLE) AS v
                  FROM embeddings),
      cent AS (SELECT vec_id AS j, pos, v AS c FROM ex WHERE vec_id < 16),
      d AS (SELECT e.vec_id, c.j, (e.pos - 1) // 8 AS s,
              list_sum(list((e.v - c.c) * (e.v - c.c) ORDER BY e.pos)) AS dist
            FROM ex e JOIN cent c USING (pos)
            GROUP BY e.vec_id, c.j, (e.pos - 1) // 8),
      pick AS (SELECT vec_id, s, j, dist,
                 row_number() OVER (PARTITION BY vec_id, s ORDER BY dist, j) AS rn
               FROM d),
      lut AS (SELECT q.vec_id AS query_id, c.j, (c.pos - 1) // 8 AS s,
                list_sum(list((q.v - c.c) * (q.v - c.c) ORDER BY c.pos)) AS ld
              FROM cent c JOIN ex q ON q.pos = c.pos AND q.vec_id < 4
              GROUP BY q.vec_id, c.j, (c.pos - 1) // 8),
      adc AS (SELECT l.query_id, p.vec_id,
                list_sum(list(l.ld ORDER BY p.s)) AS adc
              FROM pick p JOIN lut l ON l.s = p.s AND l.j = p.j
              WHERE p.rn = 1 GROUP BY l.query_id, p.vec_id)
      SELECT query_id, vec_id, adc_dist FROM (
        SELECT query_id, vec_id, round(adc, 6) AS adc_dist,
          row_number() OVER (PARTITION BY query_id
                             ORDER BY adc, vec_id) AS rn2
        FROM adc WHERE vec_id <> query_id) t
      WHERE rn2 <= 10
      ORDER BY query_id, adc_dist, vec_id""")),

    // ---- BATCH IVF-PQ stored search: 3 queries, nprobe=2 each —
    //      per-query probe lists from the centroid sidecar, ONE
    //      codes-only scan bucket-pruned to the UNION of probed
    //      cells, per-(query,cell) LUT segments selected by slot via
    //      a cell→(slot,query) generator fan-out, per-query top-5 on
    //      TopKPerKey. The oracle replays the whole index AND the
    //      per-query probe selection + ADC chains bit-exactly ----
    ("s14_batch_ivfpq_search", (s: SparkSession, d: String) => {
      val e = Tables.embeddings(s, d)
      val path = buildOnce(idxPath(d, "ivfpq")) { writeIvfPqIndex(e, idxPath(d, "ivfpq"), 8, 16) }
      val qs = e.filter(col("vec_id") < 3)
        .select(col("vec_id").as("query_id"), col("embedding"))
      ivfPqSearchStoredBatch(s, path, qs, 2, 5, excludeSelf = true)
        .orderBy(col("query_id"), col("adc_dist"), col("vec_id"))
    }, Some("""
      WITH ex AS (SELECT label, vec_id, generate_subscripts(embedding, 1) AS pos,
                    CAST(unnest(embedding) AS DOUBLE) AS v
                  FROM embeddings),
      cent AS (SELECT label, pos,
                 CAST(sum(CAST(v AS DECIMAL(20,10))) AS DOUBLE) / count(*) AS c
               FROM ex GROUP BY label, pos),
      q AS (SELECT vec_id AS query_id, pos, v AS qd FROM ex WHERE vec_id < 3),
      cd AS (SELECT query_id, label,
               list_sum(list(c * qd ORDER BY pos)) /
                 (sqrt(list_sum(list(c * c ORDER BY pos))) *
                  sqrt(list_sum(list(qd * qd ORDER BY pos)))) AS cos_qc
             FROM cent JOIN q USING (pos) GROUP BY query_id, label),
      probes AS (SELECT query_id, label FROM (
                   SELECT query_id, label,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY cos_qc DESC, label) AS rn
                   FROM cd) WHERE rn <= 2),
      resid AS (SELECT e.vec_id, e.label, e.pos, e.v - c.c AS r
                FROM ex e JOIN cent c ON e.label = c.label AND e.pos = c.pos),
      rcb AS (SELECT vec_id AS j, pos, r AS cr FROM resid WHERE vec_id < 16),
      pcells AS (SELECT DISTINCT label FROM probes),
      cand AS (SELECT r.* FROM resid r JOIN pcells USING (label)),
      dists AS (SELECT ca.vec_id, ca.label, cb.j, (ca.pos - 1) // 8 AS s,
                  list_sum(list((ca.r - cb.cr) * (ca.r - cb.cr) ORDER BY ca.pos)) AS dist
                FROM cand ca JOIN rcb cb USING (pos)
                GROUP BY ca.vec_id, ca.label, cb.j, (ca.pos - 1) // 8),
      codes AS (SELECT vec_id, label, s, j FROM (
                  SELECT vec_id, label, s, j,
                    row_number() OVER (PARTITION BY vec_id, s ORDER BY dist, j) AS rn
                  FROM dists) WHERE rn = 1),
      qres AS (SELECT p.query_id, c.label, c.pos, q.qd - c.c AS qr
               FROM probes p JOIN cent c ON c.label = p.label
               JOIN q ON q.query_id = p.query_id AND q.pos = c.pos),
      lut AS (SELECT qr.query_id, qr.label, cb.j, (qr.pos - 1) // 8 AS s,
                list_sum(list((qr.qr - cb.cr) * (qr.qr - cb.cr) ORDER BY qr.pos)) AS dv
              FROM qres qr JOIN rcb cb USING (pos)
              GROUP BY qr.query_id, qr.label, cb.j, (qr.pos - 1) // 8),
      adc AS (SELECT l.query_id, c.vec_id, c.label,
                list_sum(list(l.dv ORDER BY c.s)) AS adc
              FROM codes c JOIN lut l ON l.label = c.label AND l.s = c.s AND l.j = c.j
              GROUP BY l.query_id, c.vec_id, c.label)
      SELECT query_id, vec_id, cell, adc_dist FROM (
        SELECT query_id, vec_id, CAST(label AS BIGINT) AS cell,
          round(adc, 6) AS adc_dist,
          row_number() OVER (PARTITION BY query_id
                             ORDER BY adc, vec_id) AS rn
        FROM adc WHERE vec_id <> query_id) t
      WHERE rn <= 5
      ORDER BY query_id, adc_dist, vec_id""")),

    // ---- BATCH hybrid retrieval: h01's fused 0.5*cosine +
    //      0.5*trigram-jaccard score served for a whole query table
    //      in the s12 batch shape — ONE corpus pass (shingles and
    //      embeddings joined on id), the 4-row query table broadcast,
    //      per-query top-10 on the bounded-heap TopKPerKey operator
    //      so the only exchange is k x queries rows. The oracle
    //      replays both score legs per (query, doc) and the per-query
    //      window ----
    ("h02_batch_hybrid", (s: SparkSession, d: String) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("doc_id"), graft.functions.shingleHashes(col("text"), 3).as("sh"))
      val embs = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      val both = docs.join(embs, col("doc_id") === col("vec_id"))
      val q = both.filter(col("doc_id") < 4)
        .select(col("doc_id").as("query_id"),
          col("sh").as("qsh"), col("embedding").as("qe"))
      val scored = both.crossJoin(broadcast(q))
        .filter(col("doc_id") =!= col("query_id"))
        .select(col("query_id"), col("doc_id"),
          round(lit(0.5) * round(vectorCosine(col("embedding"), col("qe")), 6) +
            lit(0.5) * graft.functions.jaccardHashes(col("sh"), col("qsh")), 6)
            .as("score"))
      TopK.topKPerKey(scored, Seq("query_id"), "score", "doc_id", 10)
        .select(col("query_id"), col("doc_id"), col("score"))
        .orderBy(col("query_id"), desc("score"), col("doc_id"))
    }, Some("""
      WITH w AS (SELECT doc_id,
                   list_filter(string_split(trim(text), ' '), t -> t <> '') AS ws
                 FROM documents),
      tri0 AS (SELECT doc_id, ws,
                 unnest(generate_series(1, greatest(len(ws) - 2, 1))) AS i
               FROM w WHERE len(ws) > 0),
      tri AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS tg
              FROM tri0),
      q AS (SELECT doc_id AS query_id, tg FROM tri WHERE doc_id < 4),
      inter AS (SELECT q.query_id, t.doc_id, count(*) AS ni
                FROM tri t JOIN q USING (tg) GROUP BY 1, 2),
      sizes AS (SELECT doc_id, count(*) AS n FROM tri GROUP BY 1),
      qn AS (SELECT query_id, count(*) AS nq FROM q GROUP BY 1),
      jac AS (SELECT qn.query_id, s.doc_id,
                CAST(coalesce(i.ni, 0) AS DOUBLE) /
                  (s.n + qn.nq - coalesce(i.ni, 0)) AS jaccard
              FROM sizes s CROSS JOIN qn
              LEFT JOIN inter i
                ON i.doc_id = s.doc_id AND i.query_id = qn.query_id),
      qe AS (SELECT vec_id AS query_id, embedding AS qemb
             FROM embeddings WHERE vec_id < 4),
      z AS (SELECT qe.query_id, e.vec_id,
              unnest(e.embedding) AS a, unnest(qe.qemb) AS b
            FROM embeddings e, qe),
      sums AS (SELECT query_id, vec_id,
                 sum(CAST(a AS DOUBLE) * CAST(b AS DOUBLE)) AS dot,
                 sum(CAST(a AS DOUBLE) * CAST(a AS DOUBLE)) AS na,
                 sum(CAST(b AS DOUBLE) * CAST(b AS DOUBLE)) AS nb
               FROM z GROUP BY query_id, vec_id),
      cos AS (SELECT query_id, vec_id,
                round(dot / (sqrt(na) * sqrt(nb)), 6) AS c FROM sums),
      sc AS (SELECT j.query_id, j.doc_id,
               round(0.5 * c + 0.5 * jaccard, 6) AS score
             FROM jac j JOIN cos ON cos.query_id = j.query_id
                                AND cos.vec_id = j.doc_id
             WHERE j.doc_id <> j.query_id)
      SELECT query_id, doc_id, score FROM (
        SELECT query_id, doc_id, score,
          row_number() OVER (PARTITION BY query_id
                             ORDER BY score DESC, doc_id) AS rn
        FROM sc) t
      WHERE rn <= 10
      ORDER BY query_id, score DESC, doc_id""")),

    // ---- BATCH matryoshka search: 4 queries' 16-dim prefix
    //      shortlists (top-100) re-ranked by full-dim cosine to
    //      top-10, all from ONE corpus scan. The oracle replays both
    //      stages per query — prefix cosine window, shortlist
    //      semi-join, full-cosine window ----
    ("s15_batch_matryoshka", (s: SparkSession, d: String) => {
      val e = Tables.embeddings(s, d)
      val qs = e.filter(col("vec_id") < 4)
        .select(col("vec_id").as("query_id"), col("embedding"))
      matryoshkaTopKBatch(e, qs, 10, 16, 100)
        .orderBy(col("query_id"), desc("cos"), col("vec_id"))
    }, Some("""
      WITH qe AS (SELECT vec_id AS query_id, embedding AS qe
                  FROM embeddings WHERE vec_id < 4),
      prez AS (SELECT q.query_id, e.vec_id,
                 unnest(list_slice(e.embedding, 1, 16)) AS a,
                 unnest(list_slice(q.qe, 1, 16)) AS b
               FROM embeddings e, qe q),
      pres AS (SELECT query_id, vec_id,
                 sum(CAST(a AS DOUBLE) * CAST(b AS DOUBLE)) AS dot,
                 sum(CAST(a AS DOUBLE) * CAST(a AS DOUBLE)) AS na,
                 sum(CAST(b AS DOUBLE) * CAST(b AS DOUBLE)) AS nb
               FROM prez GROUP BY query_id, vec_id),
      short AS (SELECT query_id, vec_id FROM (
                  SELECT query_id, vec_id,
                    row_number() OVER (PARTITION BY query_id
                      ORDER BY round(dot / (sqrt(na) * sqrt(nb)), 6) DESC,
                               vec_id) AS rn
                  FROM pres WHERE vec_id <> query_id) t
                WHERE rn <= 100),
      z AS (SELECT q.query_id, e.vec_id,
              unnest(e.embedding) AS a, unnest(q.qe) AS b
            FROM embeddings e, qe q),
      sums AS (SELECT query_id, vec_id,
                 sum(CAST(a AS DOUBLE) * CAST(b AS DOUBLE)) AS dot,
                 sum(CAST(a AS DOUBLE) * CAST(a AS DOUBLE)) AS na,
                 sum(CAST(b AS DOUBLE) * CAST(b AS DOUBLE)) AS nb
               FROM z GROUP BY query_id, vec_id),
      fullc AS (SELECT s.query_id, s.vec_id,
                  round(dot / (sqrt(na) * sqrt(nb)), 6) AS c
                FROM sums s JOIN short USING (query_id, vec_id))
      SELECT query_id, vec_id, cos FROM (
        SELECT query_id, vec_id, c AS cos,
          row_number() OVER (PARTITION BY query_id
                             ORDER BY c DESC, vec_id) AS rn
        FROM fullc) t
      WHERE rn <= 10
      ORDER BY query_id, cos DESC, vec_id""")),

    // ---- RETRIEVE → RERANK: trigram-jaccard shortlist (top-20 per
    //      query, one corpus pass, s12 shape) re-scored by the
    //      cross-encoder Reranker seam (word-set-overlap F1 reference
    //      kernel) to top-5. The expensive pairwise stage never sees
    //      the corpus — only shortlistN x Q rows. Oracle replays the
    //      shortlist windows, the distinct-word intersection, and the
    //      single-division F1 ----
    ("r01_rerank", (s: SparkSession, d: String) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("doc_id"), col("text"),
          graft.functions.shingleHashes(col("text"), 3).as("sh"))
      val q = docs.filter(col("doc_id") < 4)
        .select(col("doc_id").as("query_id"), col("text").as("qtext"),
          col("sh").as("qsh"))
      val scored = docs.crossJoin(broadcast(q))
        .filter(col("doc_id") =!= col("query_id"))
        .select(col("query_id"), col("qtext"), col("doc_id"),
          col("text").as("dtext"),
          graft.functions.jaccardHashes(col("sh"), col("qsh")).as("jac"))
      val shortlist = TopK.topKPerKey(scored, Seq("query_id"), "jac", "doc_id", 20)
      val rer = TextOps.rerankBatch(shortlist)
        .select(col("query_id"), col("doc_id"), round(col("rerank"), 6).as("f1"))
      TopK.topKPerKey(rer, Seq("query_id"), "f1", "doc_id", 5)
        .select(col("query_id"), col("doc_id"), col("f1"))
        .orderBy(col("query_id"), desc("f1"), col("doc_id"))
    }, Some("""
      WITH w AS (SELECT doc_id,
                   list_filter(string_split(trim(text), ' '), t -> t <> '') AS ws
                 FROM documents),
      tri0 AS (SELECT doc_id, ws,
                 unnest(generate_series(1, greatest(len(ws) - 2, 1))) AS i
               FROM w WHERE len(ws) > 0),
      tri AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS tg
              FROM tri0),
      q AS (SELECT doc_id AS query_id, tg FROM tri WHERE doc_id < 4),
      inter AS (SELECT q.query_id, t.doc_id, count(*) AS ni
                FROM tri t JOIN q USING (tg) GROUP BY 1, 2),
      sizes AS (SELECT doc_id, count(*) AS n FROM tri GROUP BY 1),
      qn AS (SELECT query_id, count(*) AS nq FROM q GROUP BY 1),
      jac AS (SELECT qn.query_id, s.doc_id,
                CAST(coalesce(i.ni, 0) AS DOUBLE) /
                  (s.n + qn.nq - coalesce(i.ni, 0)) AS jc
              FROM sizes s CROSS JOIN qn
              LEFT JOIN inter i
                ON i.doc_id = s.doc_id AND i.query_id = qn.query_id
              WHERE s.doc_id <> qn.query_id),
      short AS (SELECT query_id, doc_id FROM (
                  SELECT query_id, doc_id,
                    row_number() OVER (PARTITION BY query_id
                                       ORDER BY jc DESC, doc_id) AS rn
                  FROM jac) t WHERE rn <= 20),
      dw AS (SELECT DISTINCT doc_id, unnest(ws) AS wd FROM w),
      nd AS (SELECT doc_id, count(*) AS n FROM dw GROUP BY 1),
      qw AS (SELECT doc_id AS query_id, wd FROM dw WHERE doc_id < 4),
      nq2 AS (SELECT query_id, count(*) AS n FROM qw GROUP BY 1),
      ovl AS (SELECT s.query_id, s.doc_id, count(*) AS ni
              FROM short s JOIN dw dd ON dd.doc_id = s.doc_id
                   JOIN qw q2 ON q2.query_id = s.query_id AND q2.wd = dd.wd
              GROUP BY 1, 2),
      f1t AS (SELECT s.query_id, s.doc_id,
                round(CAST(2 * coalesce(o.ni, 0) AS DOUBLE) /
                      (nd.n + nq2.n), 6) AS f1
              FROM short s JOIN nd ON nd.doc_id = s.doc_id
                   JOIN nq2 ON nq2.query_id = s.query_id
                   LEFT JOIN ovl o
                     ON o.query_id = s.query_id AND o.doc_id = s.doc_id)
      SELECT query_id, doc_id, f1 FROM (
        SELECT query_id, doc_id, f1,
          row_number() OVER (PARTITION BY query_id
                             ORDER BY f1 DESC, doc_id) AS rn
        FROM f1t) t WHERE rn <= 5
      ORDER BY query_id, f1 DESC, doc_id""")),

    // ---- corpus-wide thresholded KNN self-join: every vector's top-5
    //      neighbors at cos>=0.35, LSH candidates + TopKPerKey bounded
    //      heap. Oracle is the EXHAUSTIVE symmetric truth, so a hash
    //      match proves candidate recall 1.0 in the >=0.35 band AND
    //      the heap's (cos desc, nb asc) order matches the window
    //      row_number rule ----
    ("s16_knn_join", (s: SparkSession, d: String) =>
      knnJoin(Tables.embeddings(s, d), 0.35, 5)
        .orderBy(col("id"), desc("cos"), col("nb")), Some("""
      WITH p AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               unnest(a.embedding) AS x, unnest(b.embedding) AS y
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id),
      sums AS (
        SELECT id_a, id_b,
          sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) AS dot,
          sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) AS nrm_a,
          sum(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)) AS nrm_b
        FROM p GROUP BY id_a, id_b),
      cosym AS (
        SELECT id_a AS id, id_b AS nbr,
               round(dot / (sqrt(nrm_a) * sqrt(nrm_b)), 6) AS cos FROM sums
        UNION ALL
        SELECT id_b, id_a,
               round(dot / (sqrt(nrm_a) * sqrt(nrm_b)), 6) FROM sums),
      r AS (SELECT id, nbr, cos,
              row_number() OVER (PARTITION BY id
                                 ORDER BY cos DESC, nbr) AS rn
            FROM cosym WHERE cos >= 0.35)
      SELECT id, nbr AS nb, cos FROM r WHERE rn <= 5
      ORDER BY id, cos DESC, nbr""")),

    // ---- MMR diversified top-k: greedy maximal marginal relevance
    //      over a 12-candidate cosine shortlist (λ = 7/10, k = 5) —
    //      the rerank that stops a result page (or a sampled training
    //      batch) from being five copies of the same document. Oracle
    //      unrolls the identical greedy rounds ----
    ("s17_mmr_rerank", (s: SparkSession, d: String) =>
      mmrRerank(Tables.embeddings(s, d), 0L, 12, 5).orderBy("rank"),
      Some(mmrOracleSql(12, 5))),

    // ---- OPQ quality CONTRACT (the rotation's reason to exist):
    //      IVFADC+R recall on a deterministic ANISOTROPIC corpus —
    //      rank-3 signal on non-axis directions + small noise, the
    //      shape of real embedding corpora where unrotated PQ wastes
    //      its grid (the parquet embeddings are near-isotropic BY
    //      DESIGN, the one place the rotation is a no-op, so the gate
    //      needs its own corpus — seeded java.util.Random, whose
    //      nextGaussian algorithm is JVM-spec-pinned, so the corpus
    //      and every downstream double chain are bit-deterministic).
    //      The Spark side replays rotation → probe → ADC shortlist →
    //      exact re-rank TWICE (plain and OPQ-rotated through the
    //      same ivfPqRerankRecall pipeline as s10; R orthonormal
    //      preserves exact distances so both measure against the same
    //      truth) and gates BOTH recall_opq >= recall_plain and
    //      recall_opq >= 0.9. The eigensolve is driver-side d² work
    //      DuckDB cannot replay, so the oracle gates contract
    //      BOOLEANS only (q38/t20_approx's pattern) — never the raw
    //      found counts, which ride distributed float reduction
    //      order ----
    ("s18_opq_recall", (s: SparkSession, d: String) => {
      val corpus = opqGateCorpus(s).cache()
      val (fPlain, fOpq) = try {
        val rot = opqParametricRotation(corpus, 8)
        // rotated is re-read by the centroid, codebook, query-vector and
        // count jobs of its foundSum — cache so the MatVec rotation runs
        // once (KB-sized, unpersisted before its parent)
        val rotated = rotateEmbeddings(corpus, rot).cache()
        try {
          // batched gate: per corpus, ONE centroid job + ONE codebook
          // collect + ONE query-vector collect + ONE union-count — vs the
          // per-query ivfPqRerankRecall's ~9 actions × 4 queries × 2
          // corpora (bit-identical n_found sum; PqStoredSpec asserts)
          def sumFound(c: DataFrame): Long =
            ivfPqRerankFoundSum(c, Seq(100L, 101L, 102L, 103L), 2, 30, 10, 8, 16)
          // the plain and rotated gate measurements are INDEPENDENT job
          // chains over KB-sized cached frames — overlap them on two
          // threads so one's scheduling latency backfills the other's;
          // counts are unaffected by interleaving
          import scala.concurrent.{Await, Future}
          import scala.concurrent.duration.Duration
          import scala.concurrent.ExecutionContext.Implicits.global
          val a = Future(sumFound(corpus))
          val b = Future(sumFound(rotated))
          (Await.result(a, Duration.Inf), Await.result(b, Duration.Inf))
        } finally rotated.unpersist()
      } finally corpus.unpersist()
      // Gate CONTRACT columns only: the raw found counts depend on
      // distributed float reduction order and shortlist near-ties, so
      // pinning the measured integers (the old found_plain = 37)
      // would let a benign parallelism / JVM change flip 37→36 and
      // fail Verify while the actual contract still holds. plain_sane
      // is a tolerance band (the unrotated baseline must stay a real
      // competitor, recall ≥ 0.75), the other two are the contract.
      s.range(1).select(
        lit(4L * 10L).as("n_truth"),
        lit(fPlain >= 30L).as("plain_sane"),
        lit(fOpq >= fPlain).as("opq_ge_plain"),
        lit(fOpq.toDouble / 40.0 >= 0.9).as("recall_ok"))
    }, Some("""
      SELECT CAST(40 AS BIGINT) AS n_truth,
        true AS plain_sane, true AS opq_ge_plain, true AS recall_ok"""))
  )

  /** Deterministic anisotropic gate corpus for the OPQ recall
    * contract: n vectors of dim d carrying a rank-3 Gaussian signal on
    * three fixed non-axis directions (scales 3.0/2.0/1.5) plus 0.05
    * isotropic noise, coarse cells = vec_id % cells. Seeded
    * java.util.Random — bit-deterministic across JVMs per the spec of
    * nextGaussian. KB-sized (n·d floats ≈ 128 KB at the defaults):
    * this is gate input, not a data path.
    */
  def opqGateCorpus(s: SparkSession, n: Int = 512, d: Int = 64,
      cells: Int = 4, seed: Long = 7L): DataFrame = {
    import s.implicits._
    val rnd = new scala.util.Random(seed)
    val dirs = Array.fill(3)(Array.fill(d)(rnd.nextGaussian()))
      .map { v => val nn = math.sqrt(v.map(x => x * x).sum); v.map(_ / nn) }
    (0 until n).map { id =>
      val c = Array(3.0, 2.0, 1.5).map(_ * rnd.nextGaussian())
      (id.toLong, id % cells, Array.tabulate(d)(j =>
        (c(0) * dirs(0)(j) + c(1) * dirs(1)(j) + c(2) * dirs(2)(j) +
          0.05 * rnd.nextGaussian()).toFloat).toSeq)
    }.toDF("vec_id", "label", "embedding")
  }

  /** Greedy MMR (maximal marginal relevance) re-rank: from the top
    * `shortlistN` cosine candidates for `queryId`, select k items by
    * repeatedly maximizing (7·sim(q,d) − 3·max_{s∈S} sim(d,s)) / 10 —
    * relevance minus redundancy against what's already selected
    * (Carbonell & Goldstein 1998). λ is carried as the integer 7/10
    * (7.0·x − 3.0·y)/10.0 so both engines evaluate the SAME double
    * expression ((1 − 0.7) in binary is NOT 0.3 — spelling the
    * complement as a separate literal would diverge).
    *
    * Determinism: every similarity is engine-rounded at 6 BEFORE the
    * election (the s01 convention), the greedy compares the raw
    * double scores off those rounded inputs (identical arithmetic →
    * identical argmax), ties to the smaller vec_id; only the
    * REPORTED score rounds again at 6.
    *
    * SCALE: the corpus pays exactly one s01-shaped scan (shortlist);
    * the shortlist² pair-sim frame and the greedy election are
    * KB-bounded sidecars (ceiling ENFORCED at shortlistN ≤ 64 — the
    * batch-LUT discipline), so the serial k·N² loop never touches
    * data-volume rows.
    */
  def mmrRerank(embeddings: DataFrame, queryId: Long, shortlistN: Int,
      k: Int): DataFrame = {
    require(shortlistN >= 1 && shortlistN <= 64,
      s"MMR election collects N + N^2 sidecar rows: shortlistN " +
        s"$shortlistN > 64")
    require(k >= 1 && k <= shortlistN, s"need 1 <= k <= N, got k=$k")
    val spark = embeddings.sparkSession
    import spark.implicits._
    val cand = cosineTopK(embeddings, queryId, shortlistN)
    val ce = cand.join(embeddings, Seq("vec_id"))
      .select(col("vec_id"), col("cos").as("simq"), col("embedding"))
    val pairs = ce.select(col("vec_id").as("ia"), col("embedding").as("ea"))
      .join(ce.select(col("vec_id").as("ib"), col("embedding").as("eb")),
        col("ia") < col("ib"))
      .select(col("ia"), col("ib"),
        round(vectorCosine(col("ea"), col("eb")), 6).as("s"))
    val simq = ce.select(col("vec_id"), col("simq")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val sim = scala.collection.mutable.HashMap[(Long, Long), Double]()
    pairs.collect().foreach { r =>
      val (a, b, s0) = (r.getLong(0), r.getLong(1), r.getDouble(2))
      sim((a, b)) = s0; sim((b, a)) = s0
    }
    var remaining = simq.keySet.toSeq.sorted
    val picked = scala.collection.mutable.ArrayBuffer[(Long, Long, Double)]()
    while (picked.size < k && remaining.nonEmpty) {
      val best = remaining.map { id =>
        val ms = picked.map(p => sim((id, p._2)))
          .maxOption.getOrElse(0.0)
        (id, (7.0 * simq(id) - 3.0 * ms) / 10.0)
      }.minBy { case (id, sc) => (-sc, id) }
      picked += ((picked.size + 1L, best._1,
        java.math.BigDecimal.valueOf(best._2)
          .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()))
      remaining = remaining.filterNot(_ == best._1)
    }
    picked.toSeq.toDF("rank", "vec_id", "score")
  }

  /** s17's oracle: the identical shortlist + pairwise sims + k
    * unrolled greedy rounds (each round an argmax over the not-yet-
    * selected candidates with max-sim-to-selected redundancy). */
  private def mmrOracleSql(n: Int, k: Int): String = {
    val rounds = (2 to k).map { i =>
      val sel = (1 until i).map(j => s"SELECT vec_id FROM r$j")
        .mkString(" UNION ALL ")
      s"""r$i AS MATERIALIZED (
        SELECT vec_id, score FROM (
          SELECT c.vec_id,
            (7.0 * c.simq - 3.0 * coalesce(max(CASE WHEN y.ib IN ($sel)
               THEN y.s END), 0.0)) / 10.0 AS score
          FROM cand c LEFT JOIN sym y ON y.ia = c.vec_id
          WHERE c.vec_id NOT IN ($sel)
          GROUP BY c.vec_id, c.simq)
        ORDER BY score DESC, vec_id LIMIT 1)"""
    }.mkString(",\n")
    val out = (1 to k).map(i =>
      s"SELECT CAST($i AS BIGINT) AS rank, vec_id, round(score, 6) AS score FROM r$i")
      .mkString("\n      UNION ALL ")
    s"""
      WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
      zq AS (SELECT vec_id, unnest(embedding) AS a, unnest(qe) AS b
             FROM embeddings, q),
      s0 AS (SELECT vec_id,
               round(sum(CAST(a AS DOUBLE) * CAST(b AS DOUBLE)) /
                 (sqrt(sum(CAST(a AS DOUBLE) * CAST(a AS DOUBLE))) *
                  sqrt(sum(CAST(b AS DOUBLE) * CAST(b AS DOUBLE)))), 6)
                 AS simq
             FROM zq GROUP BY vec_id),
      cand AS MATERIALIZED (SELECT vec_id, simq FROM s0 WHERE vec_id <> 0
              ORDER BY simq DESC, vec_id LIMIT $n),
      ce AS (SELECT c.vec_id, e.embedding
             FROM cand c JOIN embeddings e USING (vec_id)),
      zp AS (SELECT x.vec_id AS ia, y.vec_id AS ib,
               unnest(x.embedding) AS a, unnest(y.embedding) AS b
             FROM ce x JOIN ce y ON x.vec_id < y.vec_id),
      ps AS (SELECT ia, ib,
               round(sum(CAST(a AS DOUBLE) * CAST(b AS DOUBLE)) /
                 (sqrt(sum(CAST(a AS DOUBLE) * CAST(a AS DOUBLE))) *
                  sqrt(sum(CAST(b AS DOUBLE) * CAST(b AS DOUBLE)))), 6)
                 AS s
             FROM zp GROUP BY 1, 2),
      sym AS MATERIALIZED (SELECT ia, ib, s FROM ps
             UNION ALL SELECT ib, ia, s FROM ps),
      r1 AS MATERIALIZED (
        SELECT vec_id, (7.0 * simq - 3.0 * 0.0) / 10.0 AS score
        FROM cand ORDER BY score DESC, vec_id LIMIT 1),
      $rounds
      $out
      ORDER BY rank"""
  }
}
