package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.SparkSession

/** How one op's result compares with its independent reference. */
sealed trait Outcome
object Outcome {
  case object Ok extends Outcome
  final case class Wrong(detail: String) extends Outcome
  /** Checked after the run against the independent replay in run.py. */
  final case class Deferred(record: Map[String, Any]) extends Outcome
}

/** One call the workload times. `kind` groups ops for the metrics
  * (key, stream, commit, read, meta). */
final case class Op(name: String, kind: String, body: Ctx => Outcome)

/** What an op sees: the session, and phases it can mark for the trace. */
final class Ctx(val spark: SparkSession, tracer: Tracer) {
  /** Time `body` as a child span of the op. While it runs, Spark jobs
    * started from the driver thread carry the phase's span id. */
  def phase[A](name: String)(body: => A): A =
    tracer.span(name, "phase")(Runner.labelJobs(spark, tracer)(body))
}

final case class OpRecord(pass: Int, name: String, kind: String,
                          start: Long, end: Long, spanId: Long,
                          status: String, detail: String,
                          deferred: Option[Map[String, Any]],
                          persistedAfter: Int, storageMb: Double) {
  def secs: Double = (end - start) / 1e9
}

final case class Metric(value: Double, unit: String, n: Int, note: String = "")

/** A named set of ops, run pass after pass on one session. */
trait Workload {
  /** Whether a first, untimed pass warms the JVM and Spark before the
    * measured passes. Its ops are still checked and counted. */
  def warmup: Boolean = false
  def setup(spark: SparkSession): Unit
  /** Undo a discarded set-up round (the last round's state is kept). */
  def teardown(spark: SparkSession): Unit = ()
  def pass(spark: SparkSession, rng: Random): Seq[Op]
  /** End-of-run work outside the timed passes: outputs for run.py's
    * checks, and figures measured on the final state. */
  def finish(spark: SparkSession, ops: Seq[OpRecord]): Map[String, Metric] = Map.empty
  /** Per-layer figures only this workload can give. */
  def layers(ops: Seq[OpRecord], spans: Seq[Span], probe: Probe,
             passes: Int): Map[String, Metric] = Map.empty
}

final case class RunConfig(workload: String, seed: Long, seconds: Double,
                           trace: Boolean, cores: Int, workDir: String,
                           out: String, traceOut: String,
                           hashChecks: Seq[(String, String)])

final case class RunResult(setups: Seq[Double], passSecs: Seq[Double],
                           ops: Seq[OpRecord],
                           heapMb: Double, extra: Map[String, Metric],
                           spans: Seq[Span], probe: Option[Probe],
                           dataHash: String, sparkVersion: String) {
  /** Ops of the measured passes (a warm-up pass is numbered -1). */
  def measured: Seq[OpRecord] = ops.filter(_.pass >= 0)
}

object Runner {
  val SetupRounds = 3

  def labelJobs[A](spark: SparkSession, tracer: Tracer)(body: => A): A =
    if (!tracer.enabled) body
    else {
      val sc = spark.sparkContext
      val prev = sc.getLocalProperty(Probe.SpanKey)
      sc.setLocalProperty(Probe.SpanKey, tracer.current.toString)
      try body finally sc.setLocalProperty(Probe.SpanKey, prev)
    }

  def run(cfg: RunConfig, wl: Workload): RunResult = {
    val tracer = new Tracer(cfg.trace)
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime * 1000000L
    // Set up several times and report the median: the first round pays
    // JVM start, later rounds rebuild the session and the workload state.
    val setups = ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    var dataHash = ""
    for (round <- 0 until SetupRounds) {
      val t0 = if (round == 0) jvmStart else tracer.now
      spark = Session.create(cfg.cores, cfg.workDir)
      dataHash = DataHash.verify(cfg.hashChecks)
      wl.setup(spark)
      setups += (tracer.now - t0) / 1e9
      if (round < SetupRounds - 1) { wl.teardown(spark); spark.stop() }
    }
    val probe = if (cfg.trace) Some(Probe.attach(spark)) else None
    val ctx = new Ctx(spark, tracer)
    val ops = ArrayBuffer.empty[OpRecord]
    val passSecs = ArrayBuffer.empty[Double]
    val rng = new Random(cfg.seed)
    tracer.span("run", "run") {
      if (wl.warmup) {
        val plan = wl.pass(spark, rng)
        tracer.span("warmup", "pass") {
          plan.foreach(op => ops += runOp(cfg, ctx, tracer, spark, op, -1))
        }
      }
      // Measured passes run back to back; another starts only while it is
      // expected to end within the measuring time. A pass is never cut short.
      val start = tracer.now
      var pass = 0
      var last = 0.0
      while (pass == 0 || (tracer.now - start) / 1e9 + last <= cfg.seconds) {
        val plan = wl.pass(spark, rng)
        val p0 = tracer.now
        tracer.span(s"pass $pass", "pass") {
          plan.foreach(op => ops += runOp(cfg, ctx, tracer, spark, op, pass))
        }
        last = (tracer.now - p0) / 1e9
        passSecs += last
        pass += 1
      }
    }
    probe.foreach(_.drain(spark))
    val extra = wl.finish(spark, ops.toSeq)
    val layerExtra = probe.map(p => wl.layers(ops.filter(_.pass >= 0).toSeq, tracer.spans, p, passSecs.size))
      .getOrElse(Map.empty)
    val sparkVersion = spark.version
    // What the program keeps after its session is gone: process-wide state
    spark.stop()
    val result = RunResult(setups.toSeq, passSecs.toSeq, ops.toSeq,
      retainedHeapMb(), extra, tracer.spans, probe, dataHash, sparkVersion)
    Report.write(cfg, result, layerExtra)
    result
  }

  private def runOp(cfg: RunConfig, ctx: Ctx, tracer: Tracer, spark: SparkSession,
                    op: Op, pass: Int): OpRecord = {
    val sc = spark.sparkContext
    tracer.span(op.name, "op") {
      val id = tracer.current
      val t0 = tracer.now
      val res = try Right(labelJobs(spark, tracer)(op.body(ctx)))
                catch { case e: Throwable => Left(e) }
      val t1 = tracer.now
      val (status, detail, deferred) = res match {
        case Right(Outcome.Ok) => ("ok", "", None)
        case Right(Outcome.Wrong(d)) => ("wrong", d, None)
        case Right(Outcome.Deferred(r)) => ("deferred", "", Some(r))
        case Left(e) => ("error", s"${e.getClass.getName}: ${firstLine(e.getMessage)}", None)
      }
      if (status == "wrong" || status == "error")
        println(s"FAILED op=${op.name} pass=$pass status=$status $detail")
      val (persisted, storage) =
        if (cfg.trace)
          (sc.getPersistentRDDs.size,
           sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / 1048576.0)
        else (0, 0.0)
      OpRecord(pass, op.name, op.kind, t0, t1, id, status, detail, deferred,
        persisted, storage)
    }
  }

  private def firstLine(s: String): String =
    Option(s).map(_.linesIterator.take(1).mkString.take(500)).getOrElse("")

  /** Driver heap in use after full collections. */
  def retainedHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    mem.gc(); mem.gc()
    mem.getHeapMemoryUsage.getUsed / 1048576.0
  }
}

object Session {
  def create(cores: Int, workDir: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}

/** Content hash of the input files, checked against the hash recorded
  * when the inputs were made. */
object DataHash {
  def of(dir: String): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val root = java.nio.file.Paths.get(dir)
    val files = {
      val s = java.nio.file.Files.walk(root)
      try s.iterator().asScala.filter(p => java.nio.file.Files.isRegularFile(p))
        .filter(p => p.getFileName.toString.endsWith(".parquet")).toVector
      finally s.close()
    }
    val buf = new Array[Byte](1 << 20)
    files.map(p => root.relativize(p).toString -> p).sortBy(_._1).foreach { case (rel, p) =>
      md.update(rel.replaceAll("part-(\\d+)-[0-9a-f-]+", "part-$1").getBytes("UTF-8"))
      val in = java.nio.file.Files.newInputStream(p)
      try {
        var n = in.read(buf)
        while (n > 0) { md.update(buf, 0, n); n = in.read(buf) }
      } finally in.close()
    }
    md.digest().map("%02x".format(_)).mkString
  }

  /** Verify every (dir, expected hash); returns the combined hash. */
  def verify(checks: Seq[(String, String)]): String = {
    val got = checks.map { case (dir, want) =>
      val h = of(dir)
      if (want.nonEmpty && h != want)
        throw new IllegalStateException(s"input data at $dir changed: hash $h, expected $want")
      h
    }
    got.mkString("+")
  }

}
