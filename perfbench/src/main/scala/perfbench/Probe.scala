package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters read from Spark's public listener interfaces — the `spark`,
  * `plans` and `sources` layers measured from outside the program.
  *
  * Task and job events feed the `spark.*` counters; every finished
  * query execution feeds the planner phase times (`qe.tracker`), plan
  * shape counts of the final adaptive plan, files scanned and files and
  * bytes written. Listener events are asynchronous: call [[drain]]
  * before reading a snapshot that must include an op's events.
  */
final class Probe(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private val c = mutable.LinkedHashMap[String, Double]().withDefaultValue(0.0)
  private val stageSubmit = mutable.Map[Int, Long]()
  private var activeJobs = 0
  private var busySince = 0L
  /** Query executions seen, with their duration and plan description:
    * store_ingest attributes writes and compactions by target name. */
  val executions = mutable.ArrayBuffer[Probe.Execution]()

  private def add(k: String, v: Double): Unit = c(k) += v

  def snapshot(): Map[String, Double] = synchronized(c.toMap)

  def drain(): Unit = org.apache.spark.GraftSparkBridge.waitListenerBus(spark.sparkContext, 60000L)

  // ---- spark layer -------------------------------------------------------
  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    add("spark.jobs", 1)
    if (activeJobs == 0) busySince = e.time
    activeJobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    activeJobs -= 1
    if (activeJobs == 0) add("spark.exec_s", (e.time - busySince) / 1e3)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    e.stageInfo.submissionTime.foreach(t => stageSubmit(e.stageInfo.stageId) = t)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    add("spark.tasks", 1)
    stageSubmit.get(e.stageId).foreach(t => add("spark.task_wait_s", math.max(0L, e.taskInfo.launchTime - t) / 1e3))
    val m = e.taskMetrics
    if (m != null) {
      add("spark.cpu_s", m.executorCpuTime / 1e9)
      add("spark.run_s", m.executorRunTime / 1e3)
      add("spark.gc_s", m.jvmGCTime / 1e3)
      add("spark.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add("spark.shuffle_read_bytes",
        (m.shuffleReadMetrics.localBytesRead + m.shuffleReadMetrics.remoteBytesRead).toDouble)
      add("spark.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      add("sources.input_bytes", m.inputMetrics.bytesRead.toDouble)
      add("sources.rows_read", m.inputMetrics.recordsRead.toDouble)
      add("sources.output_bytes", m.outputMetrics.bytesWritten.toDouble)
    }
  }

  // ---- plans and sources layers -----------------------------------------
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe, durationNs)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe, 0L)

  private def record(qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    def phase(n: String): Double = phases.get(n).map(p => (p.endTimeMs - p.startTimeMs) / 1e3).getOrElse(0.0)
    val nodes = Probe.finalNodes(qe.executedPlan)
    def metric(p: SparkPlan, name: String): Long = p.metrics.get(name).map(_.value).getOrElse(0L)
    val scanned = nodes.collect { case s: FileSourceScanExec => metric(s, "numFiles") }.sum
    val writes = nodes.collect { case w: DataWritingCommandExec => w }
    val filesOut = writes.map(metric(_, "numFiles")).sum
    val target = writes.map(_.cmd.toString.linesIterator.take(1).mkString).mkString(" ")
    synchronized {
      add("plans.analysis_s", phase("analysis"))
      add("plans.optimization_s", phase("optimization"))
      add("plans.planning_s", phase("planning"))
      add("plans.exchanges", nodes.count {
        case _: ShuffleExchangeLike | _: BroadcastExchangeLike => true
        case _ => false
      })
      add("plans.codegen_stages", nodes.count(_.isInstanceOf[WholeStageCodegenExec]))
      add("plans.graft_nodes", nodes.count(_.getClass.getName.startsWith("graft.")))
      add("sources.files_scanned", scanned)
      add("sources.output_files", filesOut)
      executions += Probe.Execution(durationNs / 1e9, target + " " + qe.logical.toString.take(400), filesOut)
    }
  }
}

object Probe {
  final case class Execution(seconds: Double, description: String, filesOut: Long)

  /** Every node of the plan that ran: the final adaptive plan, its query
    * stages and subqueries included. */
  def finalNodes(root: SparkPlan): Seq[SparkPlan] = {
    val out = mutable.ArrayBuffer[SparkPlan]()
    def walk(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case s: QueryStageExec => walk(s.plan)
      case other =>
        out += other
        other.children.foreach(walk)
        other.subqueries.foreach(walk)
    }
    walk(root)
    out.toSeq
  }
}
