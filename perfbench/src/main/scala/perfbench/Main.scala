package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** One benchmark run of one workload in one JVM, driven by `run.py`:
  *
  *   perfbench.Main <workload> <inputDir> <workDir> <seconds> <seed> <trace 0|1> <result.json>
  *
  * It sets up once, cold — session start, listeners, the workload's
  * preparation and its warm-up of the measured code paths on a small
  * input — and times that set-up from JVM start. It then runs the
  * workload's ops in a closed loop — one client, the next op sent when
  * the previous one returned — and writes timings, listener counters,
  * outputs to check and (traced) the spans as JSON. Checking the
  * outputs and turning timings into metrics is `run.py`'s job.
  */
object Main {
  final case class OpResult(kind: String, name: String, seconds: Double, digest: String, rows: Long)

  /** What an op returns: its output rows and column names to digest
    * (null when it returns none), and the error it failed with, if any. */
  final case class Out(rows: Array[Row], cols: Seq[String], error: String = null)

  val NoRows: Out = Out(null, Nil)

  /** Everything a workload needs from the harness. */
  final class Ctx(val spark: SparkSession, val inputDir: String, val workDir: Path, val seed: Long,
      val trace: Trace, val probe: Probe) {
    val results = mutable.ArrayBuffer[OpResult]()
    /** Outputs the checks need, by key. */
    val check = mutable.LinkedHashMap[String, Any]()
    val extra = mutable.LinkedHashMap[String, Any]()
    private var heapPeak = 0L
    def heapMb: Double = heapPeak / 1048576.0

    /** Heap occupancy right after the latest garbage collection, summed
      * over the heap pools: what the run retains, without the garbage a
      * sample between collections would catch. */
    def sampleHeap(): Unit =
      heapPeak = math.max(heapPeak, ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == MemoryType.HEAP).flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum)

    /** Collect `df` through the plans and spark layers: optimization and
      * physical planning are forced as their own spans, then the rows
      * are fetched (the action reuses the planned query execution). */
    def collect(df: DataFrame): Out = {
      trace.span("plans.optimize")(df.queryExecution.optimizedPlan)
      trace.span("plans.plan")(df.queryExecution.executedPlan)
      Out(trace.span("spark.execute")(df.collect()), df.columns.toSeq)
    }

    /** Time one op of the closed loop and record its result. */
    def timed(kind: String, name: String)(body: => Out): Out = {
      if (trace.paused) return body
      val t0 = System.nanoTime()
      // a failed op is recorded and counted, and the loop goes on
      val out = try trace.op(s"$kind:$name")(body) catch {
        case e: Exception =>
          System.err.println(s"[perfbench] $kind $name failed: $e")
          Out(null, Nil, e.toString)
      }
      val s = (System.nanoTime() - t0) / 1e9
      sampleHeap()
      val d = if (out.error != null) "error: " + out.error
        else if (out.rows != null) Json.digest(out.cols, out.rows) else ""
      results += OpResult(kind, name, s, d, if (out.rows == null) 0L else out.rows.length.toLong)
      out
    }
  }

  trait Workload {
    /** Runs once in the set-up, after the session started. */
    def prepare(ctx: Ctx): Unit = ()
    /** Runs last in the set-up, unrecorded: the measured code paths on
      * a small input, so the first timed ops do not pay class loading
      * and code generation alone. */
    def warmUp(ctx: Ctx): Unit = ()
    /** The measured ops: one pass over the op list (for olap_sql, its
      * first part). Each workload sizes it to take about `--seconds` on
      * four cores, the same work on every commit. */
    def run(ctx: Ctx): Unit
  }

  def session(workDir: Path): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors
    val s = graft.GraftSession.builder(s"local[$cores]", cores)
      .config("spark.sql.warehouse.dir", workDir.resolve("warehouse").toString)
      .config("spark.local.dir", workDir.resolve("local").toString)
      .config("spark.sql.streaming.checkpointLocation", workDir.resolve("checkpoints").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, inputDir, work, secondsArg, seedArg, traceArg, resultPath) = args
    val seconds = secondsArg.toDouble
    val traced = traceArg == "1"
    val workDir = Paths.get(work).toAbsolutePath
    val wl: Workload = workload match {
      case "olap_sql" => new OlapSql(seconds)
      case "store_ingest" => new StoreIngest
      case other => sys.error(s"unknown workload $other")
    }

    // ---- set-up, cold: timed from JVM start through the warm-up ----
    val n0 = System.nanoTime()
    val spark = session(Files.createDirectories(workDir))
    val sessionStart = (System.nanoTime() - n0) / 1e9
    val probe = new Probe(spark)
    spark.sparkContext.addSparkListener(probe)
    spark.listenerManager.register(probe)
    val ctx = new Ctx(spark, inputDir, workDir, seedArg.toLong, new Trace(traced, probe), probe)
    wl.prepare(ctx)
    ctx.trace.paused = true
    wl.warmUp(ctx)
    ctx.trace.paused = false
    val setup = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

    // ---- measurement --------------------------------------------------
    val t0 = System.nanoTime()
    wl.run(ctx)
    val measured = (System.nanoTime() - t0) / 1e9
    ctx.probe.drain()

    val out = mutable.LinkedHashMap[String, Any](
      "workload" -> workload,
      "setup_s" -> setup,
      "session_start_s" -> sessionStart,
      "measured_s" -> measured,
      "peak_heap_mb" -> ctx.heapMb,
      "counters" -> ctx.probe.snapshot(),
      "ops" -> Json.Raw(ctx.results.map { r =>
        Json.obj(Seq("kind" -> r.kind, "name" -> r.name, "s" -> r.seconds,
          "digest" -> r.digest, "rows" -> r.rows))
      }.mkString("[", ",", "]")),
      "check" -> ctx.check.toMap,
      "extra" -> ctx.extra.toMap)
    if (traced) {
      out("layer_self_s") = ctx.trace.selfSeconds()
      out("trace_overhead_s") = ctx.trace.overheadNs / 1e9
      out("kernels") = Kernels.run(ctx)
      Files.writeString(Paths.get(resultPath + ".trace.json"), ctx.trace.toJson)
    }
    Files.writeString(Paths.get(resultPath), Json.obj(out))
    ctx.spark.stop()
  }
}
