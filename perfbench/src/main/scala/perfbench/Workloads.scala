package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.{Dedup, Search, Similarity}
import perfbench.Main.{Ctx, Out, Workload}

private object Rows {
  /** An op's rows as JSON-ready lists, for the checks. */
  def apply(out: Out): Map[String, Any] = Map("columns" -> out.cols, "rows" -> out.rows.toSeq.map(_.toSeq))
}

/** keenwa's query surface: every Relational and SqlMatrix entry with a
  * DuckDB oracle, in a seed-shuffled order. The whole list takes longer
  * than a run, so a run times the first `1.5 × seconds` queries of its
  * seed's order (at least 32; 0.5–0.7 s each on four cores): about
  * `seconds` of queries, the same on every commit for one seed. */
final class OlapSql(seconds: Double) extends Workload {
  private val entries = (graft.operators.Relational.entries ++ graft.operators.SqlMatrix.entries)
    .collect { case (name, fn, Some(sql)) => (name, fn, sql.trim) }
  private val queries = math.min(entries.size, math.max(32, math.round(1.5 * seconds).toInt))

  override def warmUp(ctx: Ctx): Unit =
    entries.take(3).foreach { case (_, fn, _) => fn(ctx.spark, ctx.inputDir).collect() }

  override def prepare(ctx: Ctx): Unit =
    ctx.check("oracle_sql") = entries.map(e => e._1 -> e._3).toMap

  def run(ctx: Ctx): Unit =
    new scala.util.Random(ctx.seed).shuffle(entries).take(queries).foreach {
      case (name, fn, _) =>
        ctx.timed("query", name) {
          ctx.collect(ctx.trace.span("operators.build")(fn(ctx.spark, ctx.inputDir)))
        }
    }
}

/** A stream of small document and vector batches into the maintained
  * stores, with a ranked search and an ANN search after every batch.
  * A run is one episode: fresh stores built from the seed corpus, then
  * every batch in order. */
final class StoreIngest extends Workload {
  private val Buckets = 8
  private val PostingBuckets = 16
  private val MaxFiles = 4
  private val JaccardMin = 0.5
  private val TopK = 10
  private val NProbe = 4

  private def in(base: String, p: String): String = Paths.get(base, p).toString
  private def batchFiles(base: String, kind: String): Seq[Path] =
    Files.list(Paths.get(base, kind)).iterator().asScala.toSeq.sortBy(_.toString)
      .map(_.resolve("part-0.parquet"))

  /** Data files under a directory tree, name → bytes. */
  private def files(dir: Path): Map[String, Long] =
    if (!Files.exists(dir)) Map.empty
    else Files.walk(dir).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet"))
      .map(p => p.toString -> Files.size(p)).toMap

  private def bytesUnder(dirs: Seq[Path]): Long =
    dirs.filter(Files.exists(_)).map(d => Files.walk(d).iterator().asScala
      .filter(Files.isRegularFile(_)).map(Files.size).sum).sum

  override def warmUp(ctx: Ctx): Unit = episode(ctx, Paths.get(ctx.inputDir, "warmup").toString, warm = true)
  def run(ctx: Ctx): Unit = episode(ctx, ctx.inputDir, warm = false)

  /** The three stores built from the seed corpus: (index path, postings table). */
  private def build(ctx: Ctx, base: String, ep: Path, tag: String): (String, String) = {
    val seedDocs = ctx.spark.read.parquet(in(base, "seed_documents.parquet"))
    ctx.trace.span("operators.build_signature_store")(Dedup.writeSignatureStore(seedDocs, s"sig_$tag", Buckets))
    ctx.trace.span("operators.build_postings_store")(
      Search.writePostingsStore(seedDocs, ep.resolve("postings").toString, s"post_$tag", PostingBuckets))
    val idx = ep.resolve("ivf").toString
    ctx.trace.span("operators.build_ivfpq_index")(
      Similarity.writeIvfPqIndex(ctx.spark.read.parquet(in(base, "seed_embeddings.parquet")), idx, 8, 16))
    (idx, s"post_$tag")
  }

  private def queries(ctx: Ctx, base: String, b: Int): DataFrame =
    ctx.spark.read.parquet(in(base, "search_vectors.parquet"))
      .filter(col("batch") === b).select(col("query_id"), col("embedding"))

  /** Build the stores from `base`'s seed corpus and stream its batches
    * in; the warm-up records nothing. */
  private def episode(ctx: Ctx, base: String, warm: Boolean): Unit = {
    val spark = ctx.spark
    val tag = if (warm) "warm" else "run"
    val ep = Files.createDirectories(ctx.workDir.resolve(s"episode-$tag"))
    val sig = s"sig_$tag"
    var stores: (String, String) = null
    ctx.timed("build", "stores") { stores = build(ctx, base, ep, tag); Main.NoRows }
    val (idx, post) = stores
    val docIn = Files.createDirectories(ep.resolve("doc_in"))
    val vecIn = Files.createDirectories(ep.resolve("vec_in"))
    def source(dir: Path, like: String): DataFrame =
      spark.readStream.schema(spark.read.parquet(in(base, like)).schema)
        .option("maxFilesPerTrigger", "1").parquet(dir.toString)
    val classified = ep.resolve("classified").toString
    val dq: StreamingQuery = graft.streaming.DedupStream.start(sig, source(docIn, "seed_documents.parquet"),
      JaccardMin, classified, ep.resolve("ckpt_dedup").toString, Some(MaxFiles))
    val iq: StreamingQuery = graft.streaming.IndexStream.start(idx, source(vecIn, "seed_embeddings.parquet"),
      ep.resolve("ckpt_index").toString, Some(MaxFiles))
    val warehouse = Paths.get(spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"))
    val sigDirs = Seq(warehouse.resolve(s"${sig}_bands"), warehouse.resolve(s"${sig}_shingles"))
    val terms = ctx.spark.read.parquet(in(base, "search_terms.parquet")).collect()
      .map(r => r.getInt(0) -> r.getSeq[String](1)).toMap
    val docBatches = batchFiles(base, "doc_batches")
    val vecBatches = batchFiles(base, "vec_batches")
    val inputBytes0 = Files.size(Paths.get(in(base, "seed_documents.parquet"))) +
      Files.size(Paths.get(in(base, "seed_embeddings.parquet")))
    var ingested = inputBytes0
    val perBatch = mutable.ArrayBuffer[Map[String, Any]]()
    def isSig(e: Probe.Execution) = e.description.contains(s"${sig}_bands") || e.description.contains(s"${sig}_shingles")
    try docBatches.indices.foreach { b =>
      val exec0 = { ctx.probe.drain(); ctx.probe.executions.size }
      val sigBefore = sigDirs.flatMap(d => files(d).keys).toSet
      ctx.timed("ingest", s"b$b") {
        val batch = ctx.trace.span("sources.stage") {
          Files.copy(docBatches(b), docIn.resolve(f"batch-$b%03d.parquet"), StandardCopyOption.REPLACE_EXISTING)
          Files.copy(vecBatches(b), vecIn.resolve(f"batch-$b%03d.parquet"), StandardCopyOption.REPLACE_EXISTING)
          spark.read.parquet(docBatches(b).toString)
        }
        ctx.trace.span("streaming.dedup_stream")(dq.processAllAvailable())
        ctx.trace.span("streaming.index_stream")(iq.processAllAvailable())
        ctx.trace.span("operators.append_postings")(Search.appendToPostingsStore(batch, post))
        ctx.trace.span("operators.compact_postings")(Search.maybeCompactPostingsStore(spark, post, MaxFiles))
        Main.NoRows
      }
      ingested += Files.size(docBatches(b)) + Files.size(vecBatches(b))
      // the batch's writes into the signature store, told apart by table name
      val execs = { ctx.probe.drain(); ctx.probe.executions.drop(exec0).toSeq }.filter(isSig)
      val (compactions, appends) = execs.partition(_.description.contains("_compact"))
      val sigAfter = sigDirs.flatMap(d => files(d)).toMap
      perBatch += Map(
        "batch" -> b,
        // a compaction rewrites every file, so a file of before is gone
        "sig_compacted" -> !sigBefore.subsetOf(sigAfter.keySet),
        "sig_files_appended" -> appends.map(_.filesOut).sum,
        "sig_compact_s" -> compactions.map(_.seconds).sum,
        "sig_bytes" -> sigAfter.values.sum)
      val bm25 = ctx.timed("search", s"bm25_b$b") {
        ctx.collect(ctx.trace.span("operators.build")(Search.rankedSearch(spark, post, terms(b), TopK)))
      }
      val ann = ctx.timed("search", s"ivfpq_b$b") {
        ctx.collect(ctx.trace.span("operators.build")(
          Similarity.ivfPqSearchStoredBatch(spark, idx, queries(ctx, base, b), NProbe, TopK)))
      }
      if (!warm) {
        if (bm25.rows != null) ctx.check(s"rows.bm25.b$b") = Rows(bm25)
        if (ann.rows != null) ctx.check(s"rows.ivfpq.b$b") = Rows(ann)
      }
    } finally {
      dq.stop()
      iq.stop()
    }
    val progress = Seq("dedup" -> dq, "index" -> iq).map { case (n, q) =>
      n -> q.recentProgress.filter(_.numInputRows > 0).map(p => p.durationMs.asScala.map { case (k, v) => k -> v.toLong }.toMap).toSeq
    }.toMap
    val storeBytes = bytesUnder(sigDirs ++ Seq(ep.resolve("postings"), warehouse.resolve(post),
      warehouse.resolve(s"${post}_docs"), Paths.get(idx)))
    val classifiedRows = spark.read.parquet(classified).select("micro_batch", "doc_id", "status", "match_id")
      .collect().map(_.toSeq).toSeq
    if (!warm) ctx.extra("episode") = Map(
      "batches" -> perBatch.toSeq,
      "progress" -> progress,
      "store_bytes" -> storeBytes,
      "input_bytes" -> ingested)
    if (!warm) ctx.check("classified") = classifiedRows
  }
}
