package perfbench

import java.nio.file.{Files, Paths}

import scala.util.Random

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Work counts of one op must repeat exactly across traced runs: they
  * are what a change may claim on, where times only show noise. */
class ProbeSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val work = Files.createTempDirectory(
    Files.createDirectories(Paths.get("target")), "probe-spec")

  override def afterAll(): Unit = TableRwWorkload.deleteTree(work)

  private final class OneOp extends Workload {
    private def data = work.resolve("input").toString
    def setup(spark: SparkSession): Unit =
      if (!Files.exists(work.resolve("input")))
        spark.range(0, 20000, 1, 4).withColumn("g", col("id") % 7)
          .write.parquet(data)
    def pass(spark: SparkSession, rng: Random): Seq[Op] =
      Seq(Op("grouped", "key", ctx => {
        val df = ctx.phase("build")(ctx.spark.read.parquet(data).groupBy("g").agg(sum("id")))
        val fp = Fingerprint.of(df)
        ctx.phase("plan")(fp.queryExecution.executedPlan)
        val (n, _) = ctx.phase("execute")(Fingerprint.read(fp))
        if (n == 7) Outcome.Ok else Outcome.Wrong(s"$n groups")
      }))
  }

  private def tracedRun(i: Int): Map[String, Double] = {
    val cfg = RunConfig("probe-spec", 1, 0, trace = true, cores = 2, work.toString,
      work.resolve(s"run$i.json").toString, work.resolve(s"trace$i.json").toString, Nil)
    val r = Runner.run(cfg, new OneOp)
    assert(r.ops.map(_.status) == Seq("ok"))
    assert(Files.exists(work.resolve(s"trace$i.json")))
    Report.layers(r, r.probe.get, Map.empty).map { case (k, m) => k -> m.value }
  }

  test("driver.jobs, tasks.count and scan.files repeat exactly across traced runs") {
    val a = tracedRun(1)
    val b = tracedRun(2)
    for (k <- Seq("driver.jobs", "tasks.count", "scan.files")) {
      assert(a(k) > 0, s"$k was not counted")
      assert(a(k) == b(k), s"$k: ${a(k)} then ${b(k)}")
    }
  }
}
