package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{GraftHash, GraftVec}

/** The `functions` layer timed directly: graft's codegen kernels called
  * single-threaded on the run's generated texts and vectors, outside
  * Spark. Each figure is the median of five timed loops of about 0.1 s
  * after one untimed loop. */
object Kernels {
  private val Texts = 2000
  private val Vecs = 1000

  private def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)

  /** ns per unit of `f`, where one call of `f` covers `units` units. */
  private def time(units: Double)(f: => Unit): Double = {
    def loop(): Double = {
      var n = 0
      val t0 = System.nanoTime()
      while (System.nanoTime() - t0 < 100000000L) { f; n += 1 }
      (System.nanoTime() - t0).toDouble / (n * units)
    }
    loop()
    median(Seq.fill(5)(loop()))
  }

  def run(ctx: Main.Ctx): Map[String, Double] = {
    def input(names: String*): String =
      names.map(n => Paths.get(ctx.inputDir, n)).find(Files.exists(_)).get.toString
    val texts = ctx.spark.read.parquet(input("documents.parquet", "seed_documents.parquet"))
      .select("text").limit(Texts).collect().map(r => UTF8String.fromString(r.getString(0)))
    val vecs: Array[ArrayData] = ctx.spark.read.parquet(input("embeddings.parquet", "seed_embeddings.parquet"))
      .select("embedding").limit(Vecs).collect()
      .map(r => new GenericArrayData(r.getSeq[Float](0).map(Float.box).toArray[Any]))
    val kb = texts.map(_.numBytes()).sum / 1024.0
    var sink = 0L
    val hashes = texts.flatMap(t => GraftHash.shingleHashes(t, 3).toLongArray())

    val shingle = time(kb)(texts.foreach(t => sink += GraftHash.shingleHashes(t, 3).numElements()))
    val simhash = time(kb)(texts.foreach(t => sink ^= GraftHash.simhash64(t)))
    val minhash = {
      val buf = Array.fill(32)(Long.MaxValue)
      time(hashes.length.toDouble)(hashes.foreach(h => GraftHash.minhashUpdate(buf, h)))
    }
    val cosine = time((vecs.length - 1).toDouble) {
      var i = 1
      while (i < vecs.length) { sink += GraftVec.cosine(vecs(i - 1), vecs(i)).toLong; i += 1 }
    }
    val dim = vecs.head.numElements()
    val (m, k) = (8, 16)
    val rnd = new scala.util.Random(ctx.seed)
    val codebook = Array.fill(k * dim)(rnd.nextGaussian() * 0.1)
    val pq = time(vecs.length.toDouble)(vecs.foreach(v => sink += GraftVec.pqCodesBytes(v, codebook, m, k, false)(0)))
    val codes = vecs.map(v => GraftVec.pqCodesBytes(v, codebook, m, k, false))
    val luts = Array.fill(m * k)(rnd.nextDouble())
    val adc = time(codes.length.toDouble)(codes.foreach(c => sink += GraftVec.adcLookup(c, 0, luts, m, k).toLong))
    if (sink == 42L) println("")  // keeps the loops observable
    Map(
      "functions.shingle_hashes_ns_per_kb" -> shingle,
      "functions.simhash64_ns_per_kb" -> simhash,
      "functions.minhash_update_ns" -> minhash,
      "functions.cosine_ns_per_pair" -> cosine,
      "functions.pq_codes_ns_per_vec" -> pq,
      "functions.adc_lookup_ns" -> adc)
  }
}
