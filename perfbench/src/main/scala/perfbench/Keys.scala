package perfbench

import java.nio.file.{Files, Paths}

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, MapType}

/** The action every timed op runs: the row count and the sum of a hash
  * of every output column, so no computed column can be pruned away the
  * way `count()` allows. */
object Fingerprint {
  private def hashable(name: String, t: DataType) = {
    val c = col("`" + name.replace("`", "``") + "`")
    t match {
      case _: MapType => to_json(c)
      case _ => c
    }
  }

  def of(df: DataFrame): DataFrame = {
    val cols = df.schema.fields.toSeq.map(f => hashable(f.name, f.dataType))
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    df.agg(count(lit(1)).as("n"), sum(pmod(h, lit(2147483647L))).as("h"))
  }

  def read(fp: DataFrame): (Long, Long) = {
    val r = fp.collect()(0)
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }
}

/** A verified result fingerprint, or why a key has none. */
final case class Expect(n: Long, h: Long, error: String)

/** Registered `SparkEntry.queries` keys. One op builds the key's
  * DataFrame (relational), plans the fingerprint action (plans) and runs
  * it (execute); its fingerprint must equal the one taken from the output
  * that matched the DuckDB oracle when the inputs were prepared. */
final class KeysWorkload(keys: Seq[String], dataDir: String,
                         expected: Map[String, Expect]) extends Workload {
  private val fns = graft.SparkEntry.queries
  def setup(spark: SparkSession): Unit =
    keys.foreach(k => require(fns.contains(k), s"unknown key $k"))

  def pass(spark: SparkSession, rng: Random): Seq[Op] =
    keys.map(k => Op(k, "key", ctx => runKey(ctx, k)))

  private def runKey(ctx: Ctx, key: String): Outcome = {
    val df = ctx.phase("build")(fns(key)(ctx.spark, dataDir))
    val fp = Fingerprint.of(df)
    ctx.phase("plan")(fp.queryExecution.executedPlan)
    val (n, h) = ctx.phase("execute")(Fingerprint.read(fp))
    expected.get(key) match {
      case Some(Expect(en, eh, "")) =>
        if (en == n && eh == h) Outcome.Ok
        else Outcome.Wrong(s"fingerprint ($n, $h) differs from the oracle-verified ($en, $eh)")
      case Some(Expect(_, _, err)) => Outcome.Wrong(s"no oracle match when prepared: $err")
      case None => Outcome.Wrong("no oracle-verified fingerprint")
    }
  }
}

object KeysWorkload {
  /** Run each key once, write its output for the oracle compare, and
    * record the fingerprint of exactly what was written. */
  def prepare(spark: SparkSession, keys: Seq[String], dataDir: String, outDir: String): Unit = {
    val fns = graft.SparkEntry.queries
    val oracle = graft.SparkEntry.oracleSql
    Files.createDirectories(Paths.get(outDir))
    val lines = keys.map { k =>
      try {
        val path = s"$outDir/$k"
        fns(k)(spark, dataDir).coalesce(1).write.mode("overwrite").parquet(path)
        val (n, h) = Fingerprint.read(Fingerprint.of(spark.read.parquet(path)))
        s"$k\t$n\t$h\t"
      } catch {
        case e: Throwable =>
          s"$k\t\t\t${e.getClass.getName}: ${String.valueOf(e.getMessage).replaceAll("\\s+", " ").take(300)}"
      }
    }
    Files.writeString(Paths.get(s"$outDir/fingerprints.tsv"), lines.mkString("", "\n", "\n"))
    val sql = keys.flatMap(k => oracle.get(k).map(k -> _)).toMap
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), Json(sql))
  }

  /** Reads `key \t n \t h \t error` lines written after the oracle compare. */
  def loadExpected(path: String): Map[String, Expect] =
    if (!Files.exists(Paths.get(path))) Map.empty
    else Files.readAllLines(Paths.get(path)).toArray(Array.empty[String]).toSeq
      .filter(_.nonEmpty).map { l =>
        val f = l.split("\t", -1)
        f(0) -> (if (f(3).isEmpty) Expect(f(1).toLong, f(2).toLong, "")
                 else Expect(0L, 0L, f(3)))
      }.toMap

  /** Task time of each key under `count()` and under the fingerprint
    * action, from one traced execution of each. */
  def compareActions(spark: SparkSession, keys: Seq[String], dataDir: String, out: String): Unit = {
    val fns = graft.SparkEntry.queries
    val probe = Probe.attach(spark)
    def taskSecs(body: => Unit): Double = {
      probe.drain(spark)
      val before = probe.stages.map(_.runMs).sum
      body
      probe.drain(spark)
      (probe.stages.map(_.runMs).sum - before) / 1e3
    }
    // warm both actions first: a first execution also compiles its code
    keys.foreach { k =>
      fns(k)(spark, dataDir).count()
      Fingerprint.read(Fingerprint.of(fns(k)(spark, dataDir)))
    }
    // the lower of two alternating executions of each action
    val lines = keys.map { k =>
      val runs = Seq.fill(2)((
        taskSecs(fns(k)(spark, dataDir).count()),
        taskSecs(Fingerprint.read(Fingerprint.of(fns(k)(spark, dataDir))))))
      f"$k\t${runs.map(_._1).min}%.3f\t${runs.map(_._2).min}%.3f"
    }
    Files.writeString(Paths.get(out), lines.mkString("key\tcount_task_s\tfingerprint_task_s\n", "\n", "\n"))
  }
}
