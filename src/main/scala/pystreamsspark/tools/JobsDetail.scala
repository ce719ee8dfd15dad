package pystreamsspark.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.PlanBridge
import scala.collection.concurrent.TrieMap

/** Work breakdown per key, then per JOB (guide §1: attribute, then fix).
  *
  * Wall-clock on a contended host cannot attribute cost; this reports the
  * WORK a key schedules — jobs, stages, task time, shuffle bytes, input
  * bytes — which is host-load-independent. The KEY line totals the whole
  * run: jobs >> 1 means driver-sequenced passes; shuffle bytes >> the
  * napkin-math minimum means a structural pass to hunt down in the plan.
  * For driver-sequenced funnels (DML fixtures, CDC materialization,
  * iterative fits) the question is then WHICH of the 20+ jobs carries the
  * task time: one line per job follows, with its description (jobs the
  * code labels via setJobDescription show up named; unlabeled ones show
  * the callsite), so a 90-second key decomposes into "job 7, the rewrite
  * join, is 60 of it".
  *
  * Usage: runMain pystreamsspark.tools.JobsDetail <sfDir> <key...>
  */
object JobsDetail {
  def main(args: Array[String]): Unit = {
    val sfDir = args.head
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    case class J(var desc: String = "", var t0: Long = 0L, var t1: Long = 0L,
                 var stages: Int = 0, var tasks: Int = 0, var taskMs: Long = 0L,
                 var cpuNs: Long = 0L, var gcMs: Long = 0L,
                 var input: Long = 0L, var shufR: Long = 0L, var shufW: Long = 0L)
    val byJob = TrieMap.empty[Int, J]
    val stageToJob = TrieMap.empty[Int, Int]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val j = byJob.getOrElseUpdate(e.jobId, J())
        j.t0 = e.time
        j.desc = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(Option(e.properties)
            .flatMap(p => Option(p.getProperty("callSite.short"))))
          .getOrElse("?")
        e.stageIds.foreach(s => stageToJob(s) = e.jobId)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        byJob.get(e.jobId).foreach(_.t1 = e.time)
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        val i = s.stageInfo
        stageToJob.get(i.stageId).flatMap(byJob.get).foreach { j =>
          j.stages += 1
          j.tasks += i.numTasks
          j.taskMs += i.taskMetrics.executorRunTime
          j.cpuNs += i.taskMetrics.executorCpuTime
          j.gcMs += i.taskMetrics.jvmGCTime
          j.input += i.taskMetrics.inputMetrics.bytesRead
          j.shufR += i.taskMetrics.shuffleReadMetrics.totalBytesRead
          j.shufW += i.taskMetrics.shuffleWriteMetrics.bytesWritten
        }
      }
    })

    def mb(v: Long): String = f"${v / 1048576.0}%.1f"
    args.drop(1).foreach { name =>
      byJob.clear(); stageToJob.clear()
      val fn = graft.SparkEntry.queries(name)
      val t0 = System.nanoTime()
      val n = fn(spark, sfDir).count()
      val wall = (System.nanoTime() - t0) / 1e9
      PlanBridge.drainListenerBus(spark.sparkContext)
      val js = byJob.values
      println(f"KEY $name rows=$n wall=$wall%.2fs jobs=${byJob.size} " +
        f"stages=${js.map(_.stages).sum} tasks=${js.map(_.tasks).sum} " +
        f"taskTime=${js.map(_.taskMs).sum / 1000.0}%.1fs " +
        s"input=${mb(js.map(_.input).sum)}MB shufR=${mb(js.map(_.shufR).sum)}MB " +
        s"shufW=${mb(js.map(_.shufW).sum)}MB")
      byJob.toSeq.sortBy(_._1).foreach { case (id, j) =>
        println(f"  job=$id%3d wall=${(j.t1 - j.t0) / 1000.0}%6.2fs tasks=${j.tasks}%4d " +
          f"taskTime=${j.taskMs / 1000.0}%7.1fs cpu=${j.cpuNs / 1e9}%6.1fs " +
          f"gc=${j.gcMs / 1000.0}%5.1fs in=${mb(j.input)}%8sMB " +
          f"shR=${mb(j.shufR)}%8sMB shW=${mb(j.shufW)}%8sMB  ${j.desc.take(120)}")
      }
    }
    spark.stop()
  }
}
