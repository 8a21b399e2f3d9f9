package graft

import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame

import graft.operators.{Cut, Search, Similarity}

/** Times postings and IVF-PQ appends the one-task path takes, up to
  * [[graft.sources.BucketedStore.append]]'s gate (650 docs and 600
  * vectors estimate just under 1 MB), through both write paths in one
  * JVM, alternating per rep. The aligned side sets
  * `coalescePartitions.minPartitionSize` to one byte, which closes the
  * gate and lets adaptive execution spread the aligned write over every
  * core: its best case. Batches are parquet files, as a crawl or a
  * file stream delivers them: docs of 200 words over a 5,000-word
  * vocabulary, 64-dim vectors.
  *
  * {{{ sbt "Test/runMain graft.AppendSizing 9" }}}   (reps, default 5)
  */
object AppendSizing {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(4)
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val reps = args.headOption.map(_.toInt).getOrElse(5)
    val tmp = Files.createTempDirectory("append-sizing").toString
    val rnd = new scala.util.Random(1)
    var next = 0L
    def onDisk(rows: DataFrame): DataFrame = {
      next += 1
      val p = s"$tmp/batch_$next"
      rows.repartition(4).write.parquet(p)
      spark.read.parquet(p)
    }
    def docs(from: Long, n: Int): DataFrame = onDisk((0 until n).map(i =>
      (from + i) -> Seq.fill(200)(s"w${rnd.nextInt(5000)}").mkString(" ")).toDF("doc_id", "text"))
    def vecs(from: Long, n: Int): DataFrame = onDisk((0 until n).map(i =>
      (from + i) -> Seq.fill(64)(rnd.nextFloat())).toDF("vec_id", "embedding"))
    def med(xs: Seq[Double]) = xs.sorted.apply(xs.size / 2)
    def time(body: => Unit): Double = { val t = System.nanoTime; body; (System.nanoTime - t) / 1e9 }

    Search.writePostingsStore(docs(0L, 500), s"$tmp/post", "sizing_post", nBuckets = 16)
    val idx = s"$tmp/ivf"
    Similarity.writeIvfPqIndex(vecs(0L, 4000).withColumn("label", ($"vec_id" % 16).cast("int")),
      idx, 8, 16)
    var ids = 1000000L
    Search.appendToPostingsStore(docs(ids, 50), "sizing_post")
    Similarity.appendToIvfPqIndex(vecs(ids, 200), idx)
    val gate = "spark.sql.adaptive.coalescePartitions.minPartitionSize"

    /** Medians of the one-task and aligned sides, and the one-task wins. */
    def ab(n: Int, make: (Long, Int) => DataFrame)(append: DataFrame => Unit): String = {
      val (one, aligned) = (ArrayBuffer[Double](), ArrayBuffer[Double]())
      for (r <- 0 until reps; closed <- if (r % 2 == 0) Seq(false, true) else Seq(true, false)) {
        ids += 100000
        val b = make(ids, n)
        if (closed) spark.conf.set(gate, "1") else spark.conf.unset(gate)
        val t = try time(append(b)) finally spark.conf.unset(gate)
        (if (closed) aligned else one) += t
      }
      val wins = one.zip(aligned).count { case (a, b) => a < b }
      f"one-task ${med(one.toSeq)}%.3f s, aligned ${med(aligned.toSeq)}%.3f s, one-task faster in $wins/$reps"
    }
    for (n <- Seq(100, 400, 650)) {
      val est = Search.postings(Cut(docs(0L, n))).queryExecution.optimizedPlan.stats.sizeInBytes
      println(f"[sizing] postings $n%4d docs (estimate ${est.toDouble / 1e6}%.2f MB): " +
        ab(n, docs)(Search.appendToPostingsStore(_, "sizing_post")))
    }
    for (n <- Seq(200, 400, 600))
      println(f"[sizing] ivfpq $n%4d vectors: " + ab(n, vecs)(Similarity.appendToIvfPqIndex(_, idx)))
    spark.stop()
  }
}
