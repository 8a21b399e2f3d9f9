package graft

import scala.collection.concurrent.TrieMap

import org.apache.spark.GraftSparkBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}

/** What the Spark work `body` started ran, read from the listener bus:
  * every SQL execution's plan as statically planned (`initial`) and as
  * it finally ran (`last`, adaptive updates applied), and every
  * completed stage's task count, records written and shuffle bytes
  * written. */
object JobProbe {
  final case class Stage(tasks: Int, recordsWritten: Long, shuffleWriteBytes: Long)

  final case class Run(initial: Seq[SparkPlanInfo], last: Seq[SparkPlanInfo],
      stages: Seq[Stage])

  /** `p` and every node under it. */
  def nodes(p: SparkPlanInfo): Seq[SparkPlanInfo] = p +: p.children.flatMap(nodes)

  def apply(spark: SparkSession)(body: => Unit): Run = {
    val initial = TrieMap.empty[Long, SparkPlanInfo]
    val last = TrieMap.empty[Long, SparkPlanInfo]
    val stages = TrieMap.empty[Int, Stage]
    val l = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val m = e.stageInfo.taskMetrics
        stages(e.stageInfo.stageId) = Stage(e.stageInfo.numTasks,
          m.outputMetrics.recordsWritten, m.shuffleWriteMetrics.bytesWritten)
      }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          initial(s.executionId) = s.sparkPlanInfo
          last.getOrElseUpdate(s.executionId, s.sparkPlanInfo)
        case u: SparkListenerSQLAdaptiveExecutionUpdate => last(u.executionId) = u.sparkPlanInfo
        case _ =>
      }
    }
    val sc = spark.sparkContext
    GraftSparkBridge.waitListenerBus(sc, 10000)
    sc.addSparkListener(l)
    try {
      body
      GraftSparkBridge.waitListenerBus(sc, 10000)
      Run(initial.toSeq.sortBy(_._1).map(_._2), last.toSeq.sortBy(_._1).map(_._2),
        stages.toSeq.sortBy(_._1).map(_._2))
    } finally sc.removeSparkListener(l)
  }
}
