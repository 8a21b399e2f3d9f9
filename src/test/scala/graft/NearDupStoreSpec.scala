package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlanInfo
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, MediaDedup, NearDupStore}

/** The shared near-dup store protocol builds a batch's store rows once:
  * classification and every table append read the same cut rows, so
  * one ingest scans its batch once, whichever store it feeds. */
class NearDupStoreSpec extends AnyFunSuite {
  private lazy val spark = GraftTestSession.spark
  import spark.implicits._

  /** Parquet scans of `path` in a plan; a reused exchange runs its
    * subtree once, so its copy is not counted. */
  private def scans(p: SparkPlanInfo, path: String): Int =
    if (p.nodeName == "ReusedExchange") 0
    else (if (p.nodeName.startsWith("Scan parquet") &&
        p.metadata.get("Location").exists(_.contains(path))) 1 else 0) +
      p.children.map(scans(_, path)).sum

  /** Scans of the parquet files at `path` while `body` runs, read from
    * the final physical plan of every SQL execution it starts. */
  private def scansOf(path: String)(body: => Unit): Int =
    JobProbe(spark)(body).last.map(scans(_, path)).sum

  /** `batch` written to parquet and read back: the path ingest scans. */
  private def onDisk(batch: DataFrame): (DataFrame, String) = {
    val path = Files.createTempDirectory("graft-nds").toString + "/batch"
    batch.write.parquet(path)
    (spark.read.parquet(path), path)
  }

  /** One ingest of `batch` into `store`: scans of the batch's files, and
    * the statuses it returned. */
  private def ingestOnce(store: NearDupStore, batch: DataFrame): (Int, Map[Long, String]) = {
    val (b, path) = onDisk(batch)
    var out = Map.empty[Long, String]
    val n = scansOf(path) {
      out = store.ingest(spark, b).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    }
    (n, out)
  }

  private def drop(name: String, suffixes: String*): Unit =
    (suffixes :+ "_tombstones").foreach(s => spark.sql(s"DROP TABLE IF EXISTS $name$s"))

  test("signature store: one ingest reads its batch once") {
    val base = "the quick brown fox jumps over the lazy dog while rain falls on the quiet hills near the old stone bridge"
    val near = "the quick brown fox jumps over the lazy dog while snow falls on the quiet hills near the old stone bridge"
    val fresh = "crimson dawn breaks over silver rivers while fishermen cast their woven nets into deep cold waters beneath the sleeping cliffs"
    try {
      Dedup.writeSignatureStore(Seq(1L -> base).toDF("doc_id", "text"), "nds_sig", 4)
      val (n, out) = ingestOnce(Dedup.signatureStore("nds_sig", 0.5),
        Seq(10L -> near, 11L -> fresh).toDF("doc_id", "text"))
      assert(out === Map(10L -> "near", 11L -> "unique"))
      assert(spark.table("nds_sig_shingles").count() === 2L)
      assert(n === 1, s"the batch was scanned $n times")
    } finally drop("nds_sig", "_bands", "_shingles")
  }

  test("fingerprint store: one ingest reads its batch once") {
    val h = (0x9e3779b9L, 0x7f4a7c15L)
    try {
      MediaDedup.writeFingerprintStore(spark, "nds_fp",
        Seq((1L, h._1, h._2)).toDF("doc_id", "hash_hi", "hash_lo"), 6)
      val (n, out) = ingestOnce(MediaDedup.fingerprintStore("nds_fp", 6),
        Seq((10L, h._1, h._2 ^ 3L), (11L, 0x243f6a88L, 0x85a308d3L))
          .toDF("doc_id", "hash_hi", "hash_lo"))
      assert(out === Map(10L -> "near", 11L -> "unique"))
      assert(spark.table("nds_fp_fps").count() === 2L)
      assert(n === 1, s"the batch was scanned $n times")
    } finally drop("nds_fp", "_fpblocks", "_fps", "_fpdial")
  }

  test("video store: one ingest reads its batch once") {
    def frames(rows: (Long, Seq[Long])*) =
      rows.flatMap { case (id, fs) => fs.map(f => (id, 0L, f)) }
        .toDF("doc_id", "hash_hi", "hash_lo")
    try {
      MediaDedup.writeVideoSignatureStore(spark, "nds_v", frames(1L -> Seq(1, 2, 3)))
      val (n, out) = ingestOnce(MediaDedup.videoStore("nds_v", 2, 50),
        frames(10L -> Seq(1, 2, 9), 11L -> Seq(7, 8)))
      assert(out === Map(10L -> "near", 11L -> "unique"))
      assert(spark.table("nds_v_vdocs").count() === 2L)
      assert(n === 1, s"the batch was scanned $n times")
    } finally drop("nds_v", "_vframes", "_vdocs")
  }
}
