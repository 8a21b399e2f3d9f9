package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{BucketedStore, Sinks, Tables}

/** Write-side checks: partition pruning on partitioned layout,
  * exchange-free joins on bucketed tables, format round-trips.
  */
class SinksSpec extends AnyFunSuite {
  private lazy val spark = GraftTestSession.spark
  private val sf = GraftTestSession.sf
  private def tmp(prefix: String) = Files.createTempDirectory(prefix).toString

  test("partitioned write → partition pruning on read") {
    val path = tmp("graft-part")
    val orders = Tables.orders(spark, sf)
    Sinks.writePartitioned(orders, path, "o_orderstatus")
    val back = spark.read.parquet(path).filter(col("o_orderstatus") === "O")
    assert(back.count() === orders.filter(col("o_orderstatus") === "O").count())
    val plan = back.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(o_orderstatus"), plan)
  }

  test("sorted one-file-per-bucket stores join with zero Sort under withSortedBucketScan") {
    // keenwa's IndexOnlyScanRule ordering half: a compacted
    // bucketed+sorted store must satisfy the merge join's required
    // ordering with NO Sort node. Spark 4's default re-sorts (multi-
    // file buckets concatenate, order not guaranteed); the scoped
    // legacy conf + one sorted file per bucket elides it. Both
    // behaviors asserted — the default IS the documented caveat.
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      import spark.implicits._
      val df = (1L to 1000L).map(i => (i, i * 7 % 100)).toDF("k", "v")
        // pmod task alignment -> exactly one sorted file per bucket
        .repartition(4, pmod(hash(col("k")), lit(4)))
      BucketedStore.create(df, "so_left", 4, "k")
      BucketedStore.create(df.select(col("k"), col("v").as("w")), "so_right", 4, "k")
      def planOf() = {
        val j = spark.table("so_left").join(spark.table("so_right"), "k")
        j.collect()
        j.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
      }
      val dflt = planOf()
      assert(dflt.contains("SortMergeJoin") && !dflt.contains("Exchange"), dflt)
      assert("\\bSort\\b".r.findAllIn(dflt).length === 2, dflt)
      Sinks.withSortedBucketScan(spark) {
        val elided = planOf()
        assert(elided.contains("SortMergeJoin") && !elided.contains("Exchange"), elided)
        assert("\\bSort\\b".r.findAllIn(elided).isEmpty,
          s"sorted-bucket store must satisfy the join ordering with no Sort:\n$elided")
      }
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS so_left")
      spark.sql("DROP TABLE IF EXISTS so_right")
    }
  }

  test("bucketed tables join with zero exchange") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      BucketedStore.create(Tables.orders(spark, sf), "b_orders", 8, "o_custkey")
      BucketedStore.create(Tables.customer(spark, sf), "b_customer", 8, "c_custkey")
      val j = spark.table("b_orders")
        .join(spark.table("b_customer"),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n"))
      j.collect()
      // the join itself must not shuffle either side (bucket
      // co-location); only the groupBy above it may exchange. Check
      // the AQE final plan only (the Initial Plan section repeats it).
      val plan = j.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
      assert(plan.contains("Bucketed: true"), plan)
      val joinPart = plan.substring(plan.indexOf("SortMergeJoin"))
      assert(!joinPart.contains("Exchange"), plan)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_customer")
    }
  }

  test("h02 doc↔embedding id join co-partitions via bucketing: zero id-keyed exchange") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // the SURVEY §5 claim under test: at scale the hybrid-retrieval
      // doc↔embedding join co-partitions via bucketing on id, so the
      // corpus-sized join never shuffles either side — only the
      // broadcast query fan-in and the k×Q TopKPerKey exchange remain
      BucketedStore.create(Tables.documents(spark, sf)
        .select(col("doc_id"), col("text")), "b_h02_docs", 8, "doc_id")
      BucketedStore.create(Tables.embeddings(spark, sf)
        .select(col("vec_id"), col("embedding")), "b_h02_embs", 8, "vec_id")
      val docs = spark.table("b_h02_docs").select(col("doc_id"),
        graft.functions.shingleHashes(col("text"), 3).as("sh"))
      val both = docs.join(spark.table("b_h02_embs"),
        col("doc_id") === col("vec_id"))
      val q = both.filter(col("doc_id") < 4)
        .select(col("doc_id").as("query_id"), col("sh").as("qsh"))
      val scored = both.crossJoin(broadcast(q))
        .filter(col("doc_id") =!= col("query_id"))
        .select(col("query_id"), col("doc_id"),
          graft.functions.jaccardHashes(col("sh"), col("qsh")).as("score"))
      val topk = graft.operators.TopK.topKPerKey(
        scored, Seq("query_id"), "score", "doc_id", 10)
      assert(topk.count() > 0)
      val plan = topk.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      // both sides read their bucketed layout...
      assert(plan.contains("Bucketed: true"), plan.take(4000))
      // ...the id join is a sort-merge over co-located buckets...
      assert(plan.contains("SortMergeJoin"), plan.take(4000))
      // ...and NO exchange is keyed on the join ids: the only
      // hash exchanges allowed are TopKPerKey's query_id-keyed one
      assert(!"hashpartitioning\\((doc_id|vec_id)".r.findFirstIn(plan).isDefined,
        s"id join must not shuffle on bucketed tables:\n${plan.take(4000)}")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS b_h02_docs")
      spark.sql("DROP TABLE IF EXISTS b_h02_embs")
    }
  }

  test("writeBucketed clears a dead table-write orphan, refuses foreign data") {
    import java.nio.file.{Files => JFiles, Paths}
    val warehouse = spark.catalog.getDatabase(spark.catalog.currentDatabase).locationUri
      .stripPrefix("file:")
    // (1) genuine orphan — only commit-protocol artifacts → cleared, write succeeds
    val orphan = Paths.get(warehouse, "b_orphan")
    JFiles.createDirectories(orphan)
    JFiles.write(orphan.resolve("part-00000-dead.parquet"), Array[Byte](1, 2, 3))
    JFiles.write(orphan.resolve("_SUCCESS"), Array[Byte]())
    try {
      BucketedStore.create(Tables.nation(spark, sf), "b_orphan", 2, "n_nationkey")
      assert(spark.table("b_orphan").count() === 25)
    } finally spark.sql("DROP TABLE IF EXISTS b_orphan")
    // (2) location holding a file we did not write → refuse, data intact
    val foreign = Paths.get(warehouse, "b_foreign")
    JFiles.createDirectories(foreign)
    val alien = foreign.resolve("live_data.csv")
    JFiles.write(alien, "not ours".getBytes("UTF-8"))
    try {
      val e = intercept[IllegalArgumentException] {
        BucketedStore.create(Tables.nation(spark, sf), "b_foreign", 2, "n_nationkey")
      }
      assert(e.getMessage.contains("refusing to delete"))
      assert(JFiles.exists(alien), "foreign file must survive the refusal")
    } finally {
      JFiles.delete(alien)
      JFiles.delete(foreign)
    }
  }

  test("binaryFile source feeds the multimodal decode path") {
    import spark.implicits._
    val dir = tmp("graft-bin")
    Seq("img-one", "img-two-longer", "img-3").zipWithIndex.foreach { case (payload, i) =>
      Files.write(java.nio.file.Paths.get(s"$dir/media$i.bin"), payload.getBytes("UTF-8"))
    }
    val bin = spark.read.format("binaryFile").load(dir)
    assert(bin.columns.toSet === Set("path", "modificationTime", "length", "content"))
    val media = bin.select(
      abs(hash(col("path"))).cast("bigint").as("doc_id"),
      col("content").as("payload"), lit("image").as("media_type"))
      .as[graft.operators.MediaRow]
    // same stubbed decode kernel as the m01 pipeline, real file source
    val widths = media.map(m => 64L + m.payload.length % 577L).collect().sorted
    assert(widths === Array(64L + 5, 64L + 7, 64L + 14))
  }

  test("parquet sink honors zstd compression") {
    val path = tmp("graft-zstd")
    Tables.nation(spark, sf).write.mode("overwrite")
      .option("compression", "zstd").parquet(path)
    val files = new java.io.File(path).listFiles().map(_.getName)
    assert(files.exists(_.endsWith(".zstd.parquet")), files.mkString(","))
    assert(spark.read.parquet(path).count() === 25)
  }

  test("compactParquet merges small files, preserves data") {
    val path = tmp("graft-compact")
    val li = Tables.lineitem(spark, sf)
    li.repartition(40).write.mode("overwrite").parquet(path) // 40 tiny files
    val before = new java.io.File(path).listFiles().count(_.getName.endsWith(".parquet"))
    assert(before === 40)
    val checksum = li.agg(sum(col("l_orderkey"))).collect().head.getLong(0)
    Sinks.compactParquet(spark, path, targetFileMB = 128)
    val after = new java.io.File(path).listFiles().count(_.getName.endsWith(".parquet"))
    assert(after < 5, s"expected few files, got $after")
    val back = spark.read.parquet(path)
    assert(back.count() === li.count())
    assert(back.agg(sum(col("l_orderkey"))).collect().head.getLong(0) === checksum)
  }

  test("compactParquet works through a scheme-qualified file: URI (FS API)") {
    // the compactor resolves paths via Hadoop FileSystem, so any
    // scheme (hdfs:, s3a:, gs:) rides the same code path as file:
    val local = tmp("graft-compact-uri")
    val path = "file:" + local
    Tables.nation(spark, sf).repartition(10).write.mode("overwrite").parquet(path)
    Sinks.compactParquet(spark, path, targetFileMB = 128)
    val after = new java.io.File(local).listFiles().count(_.getName.endsWith(".parquet"))
    assert(after === 1, s"expected 1 file, got $after")
    assert(spark.read.parquet(path).count() === 25)
  }

  test("compactParquet heals crash states, refuses partitioned layouts") {
    import org.apache.hadoop.fs.{FileUtil, Path}
    val path = tmp("graft-compact-guard")
    Tables.nation(spark, sf).repartition(5).write.mode("overwrite").parquet(path)
    val rows = spark.read.parquet(path).collect().map(_.toSeq).toSet
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = new Path(path)
    val fs = dir.getFileSystem(conf)
    val (tmpDir, oldDir) = BucketedStore.swapPaths(dir, "compact")
    // the three states a compaction swap can die in, each left on disk:
    // the next compaction heals it and compacts the original rows
    val crashStates: Seq[(String, () => Unit)] = Seq(
      "between the two renames" -> (() => {
        assert(fs.rename(dir, oldDir))
        assert(FileUtil.copy(fs, oldDir, fs, tmpDir, false, conf))
      }),
      "after the swap, before cleanup" ->
        (() => assert(FileUtil.copy(fs, dir, fs, oldDir, false, conf))),
      "mid-write of the tmp output" ->
        (() => assert(FileUtil.copy(fs, dir, fs, tmpDir, false, conf))))
    for ((state, crash) <- crashStates) {
      crash()
      Sinks.compactParquet(spark, path)
      assert(!fs.exists(tmpDir) && !fs.exists(oldDir), s"$state: leftovers")
      assert(spark.read.parquet(path).collect().map(_.toSeq).toSet === rows,
        state)
    }
    val part = tmp("graft-compact-part")
    Sinks.writePartitioned(Tables.nation(spark, sf), part, "n_regionkey")
    intercept[IllegalArgumentException] {
      Sinks.compactParquet(spark, part)
    }
    // partitioned data untouched by the refusal
    assert(spark.read.parquet(part).count() === 25)
  }

  test("z-ordered write clusters both dimensions per file") {
    val path = tmp("graft-zorder")
    val li = Tables.lineitem(spark, sf).select("l_partkey", "l_orderkey", "l_quantity")
    Sinks.writeZOrdered(li, path, "l_partkey", "l_orderkey", numFiles = 8)
    val files = new java.io.File(path).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath)
    assert(files.length >= 4)
    // per-file spans must be far tighter than the global span in BOTH
    // dimensions (that's what makes row-group skipping effective)
    def spans(col1: String): (Double, Double) = {
      val global = li.agg(max(col(col1)) - min(col(col1))).collect().head.getLong(0).toDouble
      val perFile = files.map { f =>
        val r = spark.read.parquet(f).agg(max(col(col1)) - min(col(col1))).collect().head
        r.getLong(0).toDouble
      }
      (perFile.sum / perFile.length, global)
    }
    // bound is loose: repartitionByRange samples with a seed derived
    // from the RDD id, so per-file spans vary a few percent run to run
    // (observed 0.55-0.62x of global) — the property under test is
    // "per-file span is a fraction of the global span in BOTH dims",
    // not an exact ratio
    val (avgP, globalP) = spans("l_partkey")
    val (avgO, globalO) = spans("l_orderkey")
    assert(avgP < globalP * 0.7, s"partkey clustering weak: $avgP vs $globalP")
    assert(avgO < globalO * 0.7, s"orderkey clustering weak: $avgO vs $globalO")
  }

  test("training shards: deterministic shuffled order, contiguous per shard, re-run identical") {
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val path = tmp("graft-shards")
    Sinks.writeTrainingShards(docs, path, 4)

    def shardFiles(p: String) = new java.io.File(p).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .map(_.getAbsolutePath).sorted
    val files = shardFiles(path)
    assert(files.length === 4, s"expected 4 shard files, got ${files.length}")

    // reading part files in name order replays the global shuffled
    // order: positions are contiguous across shards, (pos, id)-sorted
    // within each, and the union is exactly the corpus
    val seq = files.flatMap { f =>
      spark.read.parquet(f).select("shuffle_pos", "doc_id")
        .collect().map(r => (r.getLong(0), r.getLong(1)))
    }
    assert(seq.map(_._2).toSet === docs.collect().map(_.getLong(0)).toSet)
    assert(seq.toSeq === seq.sortBy(identity).toSeq,
      "concatenated shards must form one totally ordered shuffled sequence")
    // it's actually a shuffle, not id order
    assert(seq.map(_._2).toSeq !== seq.map(_._2).sorted.toSeq)
    // the 2^31-1 position domain + double mixing round: positions are
    // ~unique per doc (the old 1e6 domain collided ids mod P into
    // ascending-id runs — weak shuffling at billion-doc scale)
    assert(seq.map(_._1).distinct.length === seq.length,
      "positions must not collide at corpus size << 2^31")

    // reproducibility: a second write yields the byte-identical sequence
    val path2 = tmp("graft-shards2")
    Sinks.writeTrainingShards(docs, path2, 4)
    val seq2 = shardFiles(path2).flatMap { f =>
      spark.read.parquet(f).select("shuffle_pos", "doc_id")
        .collect().map(r => (r.getLong(0), r.getLong(1)))
    }
    assert(seq2.toSeq === seq.toSeq)

    // a different seed is a different epoch order over the same corpus
    val path3 = tmp("graft-shards3")
    Sinks.writeTrainingShards(docs, path3, 4, seed = 18L)
    val seq3 = shardFiles(path3).flatMap { f =>
      spark.read.parquet(f).select("doc_id").collect().map(_.getLong(0))
    }
    assert(seq3.toSet === seq.map(_._2).toSet)
    assert(seq3.toSeq !== seq.map(_._2).toSeq)
  }

  test("malformed JSON records: permissive capture vs dropmalformed") {
    import java.nio.file.{Files => JFiles, Paths}
    val dir = tmp("graft-badjson")
    JFiles.write(Paths.get(s"$dir/data.json"), Seq(
      """{"doc_id": 1, "text": "good row"}""",
      """{"doc_id": 2, "text": "also good"}""",
      """{"doc_id": "THREE", "text": 42""", // truncated + type-broken
      """not json at all"""
    ).mkString("\n").getBytes("UTF-8"))
    val schema = "doc_id LONG, text STRING, _corrupt_record STRING"
    // PERMISSIVE (the 100 TB default): bad rows land in _corrupt_record
    // instead of killing the job; the pipeline quarantines them
    // (cached: Spark disallows querying only _corrupt_record straight
    // off the raw files)
    val perm = spark.read.schema(schema)
      .option("mode", "PERMISSIVE").option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(dir).cache()
    try {
      assert(perm.count() === 4)
      assert(perm.filter(col("_corrupt_record").isNotNull).count() === 2)
      assert(perm.filter(col("_corrupt_record").isNull)
        .select("doc_id").collect().map(_.getLong(0)).sorted === Array(1L, 2L))
    } finally perm.unpersist()
    // DROPMALFORMED: quietly keep only parseable rows
    val dropped = spark.read.schema("doc_id LONG, text STRING")
      .option("mode", "DROPMALFORMED").json(dir)
    assert(dropped.count() === 2)
  }

  test("csv/json/orc round-trips preserve row counts") {
    val n = Tables.nation(spark, sf)
    val (c, jn, o) = (tmp("graft-csv"), tmp("graft-json"), tmp("graft-orc"))
    Sinks.writeCsv(n, c)
    Sinks.writeJson(n, jn)
    Sinks.writeOrc(n, o)
    assert(spark.read.option("header", "true").csv(c).count() === n.count())
    assert(spark.read.json(jn).count() === n.count())
    assert(spark.read.orc(o).count() === n.count())
  }
}
