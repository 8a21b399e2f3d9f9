package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Similarity
import graft.sources.Tables

/** The stored-index contract for PQ search (the 100 TB scale shape):
  * the search half must read the CODES table — m bytes per vector —
  * and never the embedding column; IVF probing must land as bucket
  * pruning on the cell-bucketed codes table; and both stored paths must be
  * bit-identical to their inline (recompute-from-embeddings)
  * baselines.
  */
class PqStoredSpec extends AnyFunSuite {
  private lazy val spark = GraftTestSession.spark
  private lazy val emb = Tables.embeddings(spark, GraftTestSession.sf)

  private def tmp(name: String): String =
    java.nio.file.Files.createTempDirectory(name).toString

  test("pqSearchStored matches inline pqSearch bit-exactly") {
    val path = tmp("pqidx")
    Similarity.writePqIndex(emb, path, 8, 16)
    val q = emb.filter(col("vec_id") === 0L).select(col("embedding"))
      .head().getSeq[Float](0).map(_.toDouble).toArray
    val stored = Similarity.pqSearchStored(spark, path, q, 20, excludeId = 0L)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val inline = Similarity.pqSearch(emb, 0L, 20, 8, 16)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(stored === inline)
  }

  test("ivfPqRerankFoundSum equals the sum of per-query ivfPqRerankRecall n_found (s18's batched gate)") {
    // both corpora s18 actually gates: plain and OPQ-rotated — the
    // batched path must replay the per-query float chains bit-exactly
    val corpus = Similarity.opqGateCorpus(spark).cache()
    try {
      val rot = Similarity.opqParametricRotation(corpus, 8)
      val rotated = Similarity.rotateEmbeddings(corpus, rot)
      val qids = Seq(100L, 101L, 102L, 103L)
      for (c <- Seq(corpus, rotated)) {
        val perQuery = qids.map(q =>
          Similarity.ivfPqRerankRecall(c, q, 2, 30, 10, 0.0, 8, 16)
            .head().getAs[Long]("n_found")).sum
        val batched = Similarity.ivfPqRerankFoundSum(c, qids, 2, 30, 10, 8, 16)
        assert(batched === perQuery)
      }
    } finally { corpus.unpersist(); () }
  }

  test("OPQ stored index: tighter self-ADC on anisotropic data, batch parity, clean rebuild") {
    import spark.implicits._
    // the correlated corpus from the OPQ rotation gate: rank-3 signal
    // on non-axis directions + noise — the shape where unrotated PQ
    // wastes its grid
    val rnd = new scala.util.Random(7)
    val d = 64
    val dirs = Array.fill(3)(Array.fill(d)(rnd.nextGaussian()))
      .map { v => val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n) }
    val aniso = (0 until 512).map { id =>
      val c = Array(3.0, 2.0, 1.5).map(_ * rnd.nextGaussian())
      (id.toLong, Array.tabulate(d)(j =>
        (c(0) * dirs(0)(j) + c(1) * dirs(1)(j) + c(2) * dirs(2)(j) +
          0.05 * rnd.nextGaussian()).toFloat).toSeq)
    }.toDF("vec_id", "embedding")
    def qv(id: Long) = aniso.filter(col("vec_id") === id)
      .head().getSeq[Float](1).map(_.toDouble).toArray
    // self-ADC = the quantization error a search actually pays for a
    // vector against its own code; sum over probes, full result list
    def selfAdc(path: String): Double = (100L to 107L).map { id =>
      Similarity.pqSearchStored(spark, path, qv(id), 512)
        .filter(col("vec_id") === id).head().getDouble(1)
    }.sum

    val plain = tmp("pq-plain"); val opq = tmp("pq-opq")
    Similarity.writePqIndex(aniso, plain, 8, 16)
    Similarity.writePqIndex(aniso, opq, 8, 16, opq = true)
    val (sPlain, sOpq) = (selfAdc(plain), selfAdc(opq))
    info(f"self-ADC over 8 probes: unrotated $sPlain%.4f -> OPQ $sOpq%.4f")
    assert(sOpq < sPlain, s"OPQ must tighten the grid: $sOpq vs $sPlain")

    // batch path crosses the same rotation: per-query parity
    val queries = Seq((100L, qv(100L).map(_.toFloat).toSeq),
      (101L, qv(101L).map(_.toFloat).toSeq)).toDF("query_id", "embedding")
    val batch = Similarity.pqSearchStoredBatch(spark, opq, queries, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val singles = Seq(100L, 101L).flatMap { id =>
      Similarity.pqSearchStored(spark, opq, qv(id), 5)
        .collect().map(r => (id, r.getLong(0), r.getDouble(1)))
    }.toSet
    assert(batch === singles)

    // rebuilding the SAME path without opq must drop the stale
    // rotation — otherwise searches rotate queries against unrotated
    // codes
    Similarity.writePqIndex(aniso, opq, 8, 16)
    val rebuilt = Similarity.pqSearchStored(spark, opq, qv(100L), 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val freshPlain = Similarity.pqSearchStored(spark, plain, qv(100L), 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(rebuilt === freshPlain)
  }

  test("OPQ IVF-PQ stored index: tighter in-cell ADC, single/batch/append parity through rotation, clean rebuild") {
    import spark.implicits._
    // same correlated rank-3 corpus as the flat-PQ OPQ gate, plus the
    // label column the IVF layout coarse-partitions on
    val rnd = new scala.util.Random(11)
    val d = 64
    val dirs = Array.fill(3)(Array.fill(d)(rnd.nextGaussian()))
      .map { v => val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n) }
    val aniso = (0 until 512).map { id =>
      val c = Array(3.0, 2.0, 1.5).map(_ * rnd.nextGaussian())
      (id.toLong, (id % 4).toInt, Array.tabulate(d)(j =>
        (c(0) * dirs(0)(j) + c(1) * dirs(1)(j) + c(2) * dirs(2)(j) +
          0.05 * rnd.nextGaussian()).toFloat).toSeq)
    }.toDF("vec_id", "label", "embedding")
    def qv(id: Long) = aniso.filter(col("vec_id") === id)
      .head().getSeq[Float](2).map(_.toDouble).toArray
    // in-cell self-ADC: probe ALL cells so a vector's own cell is
    // always read — the adc of the vector itself is the residual
    // quantization error the search actually pays
    def selfAdc(path: String): Double = (100L to 107L).map { id =>
      Similarity.ivfPqSearchStored(spark, path, qv(id), 4, 512)
        .filter(col("vec_id") === id).head().getDouble(2)
    }.sum

    val plain = tmp("ivfpq-plain"); val opq = tmp("ivfpq-opq")
    Similarity.writeIvfPqIndex(aniso, plain, 8, 16)
    Similarity.writeIvfPqIndex(aniso, opq, 8, 16, opq = true)
    val (sPlain, sOpq) = (selfAdc(plain), selfAdc(opq))
    info(f"IVF in-cell self-ADC over 8 probes: unrotated $sPlain%.4f -> OPQ $sOpq%.4f")
    assert(sOpq < sPlain, s"OPQ must tighten the residual grid: $sOpq vs $sPlain")

    // batch path crosses the same rotation BEFORE probe ranking:
    // per-query parity with the single-query stored path
    val queries = Seq((100L, qv(100L).map(_.toFloat).toSeq),
      (101L, qv(101L).map(_.toFloat).toSeq)).toDF("query_id", "embedding")
    val batch = Similarity.ivfPqSearchStoredBatch(spark, opq, queries, 2, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val singles = Seq(100L, 101L).flatMap { id =>
      Similarity.ivfPqSearchStored(spark, opq, qv(id), 2, 5)
        .collect().map(r => (id, r.getLong(0), r.getLong(1), r.getDouble(2)))
    }.toSet
    assert(batch === singles)

    // append on an OPQ index crosses the same rotation: a re-appended
    // copy of a stored vector must land in a cell with the SAME adc
    // as the original (same rotated residual, same codes)
    val copy = Seq((90000L, qv(100L).map(_.toFloat).toSeq)).toDF("vec_id", "embedding")
    Similarity.appendToIvfPqIndex(copy, opq)
    val res = Similarity.ivfPqSearchStored(spark, opq, qv(100L), 4, 512)
      .filter(col("vec_id").isin(100L, 90000L))
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(res.keySet === Set(100L, 90000L))
    assert(res(90000L) === res(100L),
      s"appended copy must code identically through the rotation: $res")

    // rebuilding the SAME path without opq must drop the stale rotation
    Similarity.writeIvfPqIndex(aniso, opq, 8, 16)
    val rebuilt = Similarity.ivfPqSearchStored(spark, opq, qv(100L), 2, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val freshPlain = Similarity.ivfPqSearchStored(spark, plain, qv(100L), 2, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(rebuilt === freshPlain)
  }

  test("batch stored searches enforce the LUT ceiling; chunked calls return identical results") {
    val path = tmp("pqlutceil")
    Similarity.writePqIndex(emb, path, 8, 16)
    val qs = emb.filter(col("vec_id") < 4)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val unchunked = Similarity.pqSearchStoredBatch(spark, path, qs, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // 4 queries x 8 x 16 = 512 LUT doubles: a 256 ceiling must trip
    // with a message naming the conf and the escape hatch
    spark.conf.set("graft.index.batchLutMaxDoubles", "256")
    try {
      val e = intercept[IllegalArgumentException] {
        Similarity.pqSearchStoredBatch(spark, path, qs, 5)
      }
      assert(e.getMessage.contains("graft.index.batchLutMaxDoubles"), e.getMessage)
      assert(e.getMessage.contains("shard the query table"), e.getMessage)
      // the documented escape hatch: chunk the batch under the ceiling,
      // union the chunks — identical to the unchunked answer
      val chunked = Seq(0L -> 2L, 2L -> 4L).flatMap { case (lo, hi) =>
        Similarity.pqSearchStoredBatch(spark, path,
          qs.filter(col("query_id") >= lo && col("query_id") < hi), 5)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      }.toSet
      assert(chunked === unchunked)
      // the IVF batch path enforces the same ceiling
      val ivf = tmp("ivflutceil")
      Similarity.writeIvfPqIndex(emb, ivf, 8, 16)
      val e2 = intercept[IllegalArgumentException] {
        Similarity.ivfPqSearchStoredBatch(spark, ivf, qs, 2, 5)
      }
      assert(e2.getMessage.contains("graft.index.batchLutMaxDoubles"), e2.getMessage)
    } finally spark.conf.unset("graft.index.batchLutMaxDoubles")
  }

  test("ivfPqSearchStored matches inline ivfPqSearch bit-exactly") {
    val path = tmp("ivfpqidx")
    Similarity.writeIvfPqIndex(emb, path, 8, 16)
    val q = emb.filter(col("vec_id") === 0L).select(col("embedding"))
      .head().getSeq[Float](0).map(_.toDouble).toArray
    val stored = Similarity.ivfPqSearchStored(spark, path, q, 3, 10, excludeId = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val inline = Similarity.ivfPqSearch(emb, 0L, 3, 10, 8, 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(stored === inline)
  }

  test("stored search scan reads codes only — never the embedding column") {
    val path = tmp("ivfpqplan")
    Similarity.writeIvfPqIndex(emb, path, 8, 16)
    val q = emb.filter(col("vec_id") === 0L).select(col("embedding"))
      .head().getSeq[Float](0).map(_.toDouble).toArray
    val df = Similarity.ivfPqSearchStored(spark, path, q, 3, 10, excludeId = 0L)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    // the ONLY file scan is the codes table: m-byte codes + vec_id,
    // no embedding anywhere in the read schema
    assert(plan.contains("codes"), plan)
    assert(!plan.contains("embedding"), s"search must not read embeddings:\n$plan")
    // probing = bucket pruning on the cell-bucketed codes table (the
    // inverted lists): the scan reads only the probed cells' buckets
    val probes = Similarity.ivfPqSearchStored(spark, path, q, 3, 1000000)
      .collect().map(_.getLong(1).toInt).toSet
    IndexScan.assertReadsOnlyCells(spark, df, path, probes)
    // and the only exchange is the driver-side TakeOrdered collect —
    // a single zero-shuffle scan
    assert(!plan.contains("Exchange hashpartitioning"), plan)
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("IVF-PQ append: assigned to nearest stored centroid, found codes-only") {
    val path = tmp("ivfpqappend")
    Similarity.writeIvfPqIndex(emb, path, 8, 16)
    // append a vector that IS cell 0's stored centroid: nearest-cell
    // assignment must put it in cell 0 with a ~zero residual, and a
    // search with that centroid as the query must rank it FIRST — its
    // ADC is the per-subspace LUT minimum sum, the smallest achievable
    // in its cell
    val cent = spark.read.parquet(s"$path/meta_cent")
      .filter(col("cell") === 0).orderBy("pos").collect().map(_.getDouble(2))
    import spark.implicits._
    val newVec = Seq((90000L, cent.map(_.toFloat).toSeq)).toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>"))
    val filesBefore = graft.sources.BucketedStore
      .stats(spark, Similarity.indexTable(spark, path)).files
    Similarity.appendToIvfPqIndex(newVec, path)
    val df = Similarity.ivfPqSearchStored(spark, path, cent, 3, 10)
    val rows = df.collect()
    assert(rows.head.getLong(0) === 90000L, rows.mkString(", "))
    assert(rows.head.getLong(1) === 0L, "centroid vector must land in its own cell")
    // the append must not have broken the scale shape: still a
    // codes-only, partition-pruned, zero-shuffle scan
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!plan.contains("embedding"), plan)
    assert(!plan.contains("Exchange hashpartitioning"), plan)
    // and the appended file landed as one MORE file in the cell-0
    // inverted list (its bucket), not a rewrite
    val table = Similarity.indexTable(spark, path)
    assert(graft.sources.BucketedStore.stats(spark, table).files === filesBefore + 1)
    assert(graft.sources.BucketedStore.stats(spark, table).filesPerBucket >= 2,
      "expected the appended file beside the build's file in cell 0's bucket")
  }

  test("IVF-PQ compact: one file per cell directory, identical results") {
    val path = tmp("ivfpqcompact")
    Similarity.writeIvfPqIndex(emb, path, 8, 16)
    val batch = emb.filter(col("vec_id") < 20)
      .select((col("vec_id") + 90000L).as("vec_id"), col("embedding"))
    Similarity.appendToIvfPqIndex(batch, path)
    val q = emb.filter(col("vec_id") === 0L).select(col("embedding"))
      .head().getSeq[Float](0).map(_.toDouble).toArray
    def search() = Similarity.ivfPqSearchStored(spark, path, q, 3, 20, excludeId = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val before = search()
    // the appended copy of vec 0 rides the same embedding — the search
    // must surface it from the appended files
    assert(before.exists(_._1 == 90000L), before.mkString(", "))
    Similarity.compactIvfPqIndex(spark, path)
    assert(search() === before)
    // one file per inverted list: every bucket holds one file
    val st = graft.sources.BucketedStore.stats(spark, Similarity.indexTable(spark, path))
    assert(st.files > 0)
    assert(st.filesPerBucket === 1, s"$st after compact")
  }

  test("IVF-PQ compaction crash states heal on the next append, no code rows lost") {
    import org.apache.hadoop.fs.{FileUtil, Path}
    val conf = spark.sparkContext.hadoopConfiguration
    val batch = emb.filter(col("vec_id") < 20)
      .select((col("vec_id") + 90000L).as("vec_id"), col("embedding"))
    val n = emb.count()
    // the three states the codes swap can die in, each left on disk
    val crashStates: Seq[(String, (org.apache.hadoop.fs.FileSystem, Path, Path, Path) => Unit)] = Seq(
      "between the two renames" -> { (fs, codes, tmp, old) =>
        assert(fs.rename(codes, old))
        assert(FileUtil.copy(fs, old, fs, tmp, false, conf))
      },
      "after the swap, before cleanup" ->
        ((fs, codes, _, old) => assert(FileUtil.copy(fs, codes, fs, old, false, conf))),
      "mid-write of the tmp output" ->
        ((fs, codes, tmp, _) => assert(FileUtil.copy(fs, codes, fs, tmp, false, conf))))
    for ((state, crash) <- crashStates) {
      val path = tmp("ivfpqheal")
      Similarity.writeIvfPqIndex(emb, path, 8, 16)
      Similarity.compactIvfPqIndex(spark, path)
      val codes = new Path(s"$path/codes")
      val fs = codes.getFileSystem(conf)
      val (tmpDir, oldDir) = graft.sources.BucketedStore.swapPaths(codes, "compact")
      crash(fs, codes, tmpDir, oldDir)
      Similarity.appendToIvfPqIndex(batch, path)
      assert(!fs.exists(tmpDir) && !fs.exists(oldDir), s"$state: leftovers")
      assert(spark.read.parquet(s"$path/codes").count() === n + 20, state)
      Similarity.compactIvfPqIndex(spark, path)
      assert(spark.read.parquet(s"$path/codes").count() === n + 20, state)
    }
  }

  test("IVF-PQ delete: tombstoned vector stops ranking, compact drops its codes, stays dead") {
    val path = tmp("ivfpqdelete")
    Similarity.writeIvfPqIndex(emb, path, 8, 16)
    val q = emb.filter(col("vec_id") === 0L).select(col("embedding"))
      .head().getSeq[Float](0).map(_.toDouble).toArray
    def search() = Similarity.ivfPqSearchStored(spark, path, q, 3, 20)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val before = search()
    assert(before.exists(_._1 == 0L), "query vector should rank in its own search")
    import spark.implicits._
    Similarity.deleteFromIvfPqIndex(Seq(0L).toDF("vec_id"), path)
    val after = search()
    assert(!after.exists(_._1 == 0L), "tombstoned vector must stop ranking")
    // the rest of the ranking is untouched — before minus the deleted
    // vector is a prefix of after
    assert(after.take(before.size - 1) === before.filterNot(_._1 == 0L))
    // compact reclaims the bytes; the search answer is unchanged
    Similarity.compactIvfPqIndex(spark, path)
    assert(spark.read.parquet(s"$path/codes")
      .filter(col("vec_id") === 0L).count() === 0,
      "compaction must drop tombstoned code rows")
    assert(search() === after)
    // the tombstone filter must not break the scale shape: still
    // codes-only and shuffle-free (the anti-join is a broadcast)
    val df = Similarity.ivfPqSearchStored(spark, path, q, 3, 20)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!plan.contains("embedding"), plan)
    assert(!plan.contains("Exchange hashpartitioning"), plan)
    assert(plan.contains("BroadcastHashJoin LeftAnti".take(17)), plan)
    // flat PQ path honors the same sidecar
    val flat = tmp("pqdelete")
    Similarity.writePqIndex(emb, flat, 8, 16)
    assert(Similarity.pqSearchStored(spark, flat, q, 5)
      .collect().exists(_.getLong(0) == 0L))
    Similarity.deleteFromIvfPqIndex(Seq(0L).toDF("vec_id"), flat)
    assert(!Similarity.pqSearchStored(spark, flat, q, 5)
      .collect().exists(_.getLong(0) == 0L))
  }

  test("IVF-PQ compaction of a fully tombstoned index: searches find nothing, a later append is found") {
    val path = tmp("ivfpqallgone")
    Similarity.writeIvfPqIndex(emb, path, 8, 16)
    val cent = spark.read.parquet(s"$path/meta_cent")
      .filter(col("cell") === 0).orderBy("pos").collect().map(_.getDouble(2))
    Similarity.deleteFromIvfPqIndex(emb.select("vec_id"), path)
    Similarity.compactIvfPqIndex(spark, path)
    val table = Similarity.indexTable(spark, path)
    assert(graft.sources.BucketedStore.stats(spark, table).files === 0,
      "compaction must drop every tombstoned code row")
    assert(Similarity.ivfPqSearchStored(spark, path, cent, 3, 10).count() === 0)
    import spark.implicits._
    val newVec = Seq((90000L, cent.map(_.toFloat).toSeq)).toDF("vec_id", "embedding")
    Similarity.appendToIvfPqIndex(newVec, path)
    assert(Similarity.ivfPqSearchStored(spark, path, cent, 3, 10)
      .collect().map(_.getLong(0)).toSeq === Seq(90000L))
  }

  test("IVF-PQ delete past the broadcast ceiling: shuffle-hash fallback, codes-only, answers unchanged") {
    val path = tmp("ivfpqdelceil")
    Similarity.writeIvfPqIndex(emb, path, 8, 16)
    val q = emb.filter(col("vec_id") === 1L).select(col("embedding"))
      .head().getSeq[Float](0).map(_.toDouble).toArray
    import spark.implicits._
    Similarity.deleteFromIvfPqIndex(Seq(0L).toDF("vec_id"), path)
    def search() = Similarity.ivfPqSearchStored(spark, path, q, 3, 20)
    val viaBroadcast = search().collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(!viaBroadcast.exists(_._1 == 0L))
    // force the at-scale path: a mass takedown's tombstone set is past
    // any broadcast threshold — the read must fall back to a
    // shuffle-hash anti-join with answers and scan shape unchanged
    spark.conf.set("graft.tombstone.broadcastMaxBytes", "0")
    try {
      val df = search()
      assert(df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSeq === viaBroadcast, "fallback path must not change answers")
      val plan = df.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      assert(plan.contains("ShuffledHashJoin"),
        s"expected the shuffle-hash anti-join fallback in:\n$plan")
      assert(!plan.contains("embedding"), s"scan must stay codes-only:\n$plan")
    } finally spark.conf.unset("graft.tombstone.broadcastMaxBytes")
  }

  test("batch IVF-PQ search: per-query parity, codes-only scan pruned to the union of probe lists") {
    val path = tmp("ivfpqbatch")
    Similarity.writeIvfPqIndex(emb, path, 8, 16)
    val qs = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val df = Similarity.ivfPqSearchStoredBatch(spark, path, qs, 2, 5)
    val rows = df.collect()
    // per-query answers are bit-identical to the single-query stored
    // path (same probe lists, same LUT chains, same top-k)
    val queryVecs = (0L until 3L).map { qid =>
      qid -> emb.filter(col("vec_id") === qid).select(col("embedding"))
        .head().getSeq[Float](0).map(_.toDouble).toArray
    }
    queryVecs.foreach { case (qid, q) =>
      val single = Similarity.ivfPqSearchStored(spark, path, q, 2, 5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .sortBy(x => (x._3, x._1)).toSeq
      val batch = rows.filter(_.getLong(0) == qid)
        .map(r => (r.getLong(1), r.getLong(2), r.getDouble(3)))
        .sortBy(x => (x._3, x._1)).toSeq
      assert(batch === single, s"query $qid diverged from single-query search")
    }
    // the ONE scan reads exactly the UNION of the three probe lists —
    // pruning still holds set-at-a-time (a huge topK surfaces every
    // vector of every probed cell, so its cells ARE the probe union)
    val probedUnion = queryVecs.flatMap { case (_, q) =>
      Similarity.ivfPqSearchStored(spark, path, q, 2, 1000000)
        .collect().map(_.getLong(1))
    }.toSet
    // the exchange makes this plan adaptive — IndexScan unwraps
    // AQE/stage nodes to reach the actual FileSourceScanExec
    IndexScan.assertReadsOnlyCells(spark, df, path, probedUnion.map(_.toInt))
    // scale shape: one codes-only FileScan, generator fan-out (no
    // join), the only exchange is TopKPerKey's k×queries-bounded one
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert("FileScan parquet".r.findAllIn(plan).size === 1, plan.take(3000))
    assert(!plan.contains("embedding"), plan.take(3000))
    assert(!plan.contains("Join"), plan.take(3000))
    assert(plan.contains("Generate"), plan.take(3000))
    assert(plan.contains("TopKPerKey"), plan.take(3000))
  }

  test("stored IVF-PQ reads only the probed cells' files") {
    val path = tmp("ivfpqprune")
    Similarity.writeIvfPqIndex(emb, path, 8, 16)
    val q = emb.filter(col("vec_id") === 0L).select(col("embedding"))
      .head().getSeq[Float](0).map(_.toDouble).toArray
    val df = Similarity.ivfPqSearchStored(spark, path, q, 2, 10, excludeId = 0L)
    df.collect()
    // the files the executed scan actually read: with nprobe=2,
    // exactly the files of the 2 probed cells' buckets (inputFiles
    // would NOT do here — it lists the relation unpruned)
    val probes = Similarity.ivfPqSearchStored(spark, path, q, 2, 1000000)
      .collect().map(_.getLong(1).toInt).toSet
    assert(probes.size === 2)
    IndexScan.assertReadsOnlyCells(spark, df, path, probes)
  }
}
