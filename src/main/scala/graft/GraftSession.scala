package graft

import org.apache.spark.sql.SparkSession

/** Session factory for the graft engine.
  *
  * Catalyst plays the role of keenwa's optimizer core
  * (reference: /root/reference/src/optimizer.rs:1, src/memo/mod.rs:1):
  * we declare logical plans with the DataFrame API and let Catalyst +
  * AQE do rule-based rewrite, cost-based join selection, and runtime
  * re-planning. This builder pins the confs that matter for that:
  * AQE (skew joins, partition coalescing), a shuffle-partition count
  * matched to local cores (scale knob: set ~= 2-3x cluster cores on a
  * real cluster), and UTC session time for oracle parity.
  *
  * It also sizes Spark's cache of compiled classes to graft's working
  * set ([[CodegenCacheEntries]]). That conf is static and
  * `CodeGenerator` reads it once, when the class is first initialized:
  * it takes effect only if it is on the builder of the JVM's first
  * session, before anything compiles. Every graft JVM (tests, Verify,
  * Plans, the tools, the benchmark harness) builds its session here.
  *
  * Local files go through [[graft.sources.GraftLocalFileSystem]] (and
  * [[graft.sources.GraftLocalFs]] for `FileContext`): Hadoop's local
  * filesystem forks a `chmod` child process for every file and
  * directory it creates when libhadoop is absent; these set the same
  * permission bits through `java.nio`. Hadoop caches one `file:`
  * filesystem per JVM, so one made before the JVM's first session
  * keeps Hadoop's class.
  */
object GraftSession {

  /** Entries in `CodeGenerator`'s compiled-class cache
    * (`spark.sql.codegen.cache.maxEntries`, Spark's default 100).
    * Measured with the cache unbounded on 4 cores: `store_ingest`
    * compiles 275–281 distinct classes over set-up and run (seeds 1–3),
    * `olap_sql` 448 (seed 1). At 100 each repeated store batch (an
    * ingest and its two searches) compiled 100–138 classes again; at
    * 200 the set-up's classes were evicted before the run reused them;
    * from 300 on every op compiled exactly what it compiled unbounded.
    * 500 holds both working sets with room for Guava's eviction, which
    * splits the bound over four segments; metaspace stayed within 1%
    * of 300's.
    */
  val CodegenCacheEntries: Int = 500

  /** Pre-configured builder; callers may override master/memory. */
  def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    SparkSession
      .builder()
      .master(master)
      .appName("graft")
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // cost-based optimization — the reference's core concern
      // (/root/reference/src/optimizer.rs:1, src/cost/simple.rs:1):
      // harmless without statistics; once tables carry ANALYZE stats,
      // CostBasedJoinReorder re-associates inner joins by cost
      // (join commute/assoc ~ src/rules/transformation.rs:1; PlanSpec
      // asserts a deliberately bad join order gets flipped)
      .config("spark.sql.cbo.enabled", "true")
      .config("spark.sql.cbo.joinReorder.enabled", "true")
      .config("spark.sql.cbo.planStats.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", "/tmp/graft-warehouse")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      // events.parquet carries TIMESTAMP(NANOS); Spark reads it as a
      // nanos-since-epoch long (exact) and Tables.events derives the
      // micro-truncated timestamp column alongside the raw ns long.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .config("spark.hadoop.fs.file.impl",
        classOf[graft.sources.GraftLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        classOf[graft.sources.GraftLocalFs].getName)

  def local(cores: Int = 32): SparkSession = {
    val s = builder(s"local[$cores]", cores).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
