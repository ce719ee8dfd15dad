package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.perfbench.Internals

final case class JobRec(id: Int, startMs: Long, endMs: Long, span: Long,
                        desc: String, stageIds: Seq[Int])

final case class StageRec(id: Int, attempt: Int, jobId: Int, startMs: Long,
                          endMs: Long, tasks: Int, runMs: Long, cpuNs: Long,
                          gcMs: Long, inputBytes: Long, inputRows: Long,
                          shuffleReadBytes: Long, shuffleWriteBytes: Long,
                          fetchWaitMs: Long, spillBytes: Long,
                          outputBytes: Long)

final case class ScanRec(endMs: Long, files: Long)

/** Work counts for the traced run, collected from outside the program: a
  * SparkListener the benchmark registers on the session it created. Jobs
  * carry the id of the benchmark span that was open on the driver thread
  * when they started (the `perfbench.span` local property). */
final class Probe extends SparkListener with AdaptiveSparkPlanHelper {
  private val jobStarts = new ConcurrentLinkedQueue[SparkListenerJobStart]()
  private val jobEnds = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val stageDone = new ConcurrentLinkedQueue[StageInfo]()
  private val scanQ = new ConcurrentLinkedQueue[ScanRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = jobStarts.add(e)
  override def onJobEnd(e: SparkListenerJobEnd): Unit = jobEnds.put(e.jobId, e.time)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stageDone.add(e.stageInfo)

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case end: SparkListenerSQLExecutionEnd =>
      Internals.queryExecution(end).foreach { qe =>
        val files = collectWithSubqueries(qe.executedPlan) {
          case s: FileSourceScanExec => s.metrics.get("numFiles").map(_.value).getOrElse(0L)
        }.sum
        if (files > 0) scanQ.add(ScanRec(end.time, files))
      }
    case _ =>
  }

  def jobs: Seq[JobRec] = jobStarts.asScala.toSeq.map { e =>
    val p = Option(e.properties)
    JobRec(e.jobId, e.time, Option(jobEnds.get(e.jobId)).getOrElse(e.time),
      p.flatMap(x => Option(x.getProperty(Probe.SpanKey))).map(_.toLong).getOrElse(0L),
      p.flatMap(x => Option(x.getProperty("spark.job.description"))).getOrElse(""),
      e.stageIds)
  }

  def stages: Seq[StageRec] = {
    val owner = jobStarts.asScala.toSeq.flatMap(j => j.stageIds.map(_ -> j.jobId))
      .groupBy(_._1).map { case (s, js) => s -> js.map(_._2).min }
    stageDone.asScala.toSeq.map { i =>
      val m = i.taskMetrics
      StageRec(i.stageId, i.attemptNumber(), owner.getOrElse(i.stageId, -1),
        i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L),
        i.numTasks, m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.fetchWaitTime, m.diskBytesSpilled,
        m.outputMetrics.bytesWritten)
    }
  }

  def scans: Seq[ScanRec] = scanQ.asScala.toSeq

  /** Wait until every event posted so far has been delivered. */
  def drain(spark: SparkSession): Unit = Internals.drainListenerBus(spark.sparkContext)
}

object Probe {
  val SpanKey = "perfbench.span"

  def attach(spark: SparkSession): Probe = {
    val p = new Probe
    spark.sparkContext.addSparkListener(p)
    p
  }
}
