package perfbench

import org.apache.spark.sql.SparkSession

/** JVM side of the benchmark; run.py is the entry point users run.
  *
  *   run             --workload W --seed N --seconds S --trace 0|1 ...
  *   prepare-keys    --workload W --data DIR --out DIR
  *   compare-actions --workload W --data DIR --out FILE
  */
object Main {
  /** Graph loops, dedup funnels and similarity joins: the heaviest
    * families of registered keys. Near-twins of these keys are left out
    * so that one cold pass fits the benchmark's time budget (see
    * perfbench/README.md). */
  val DedupGraphKeys: Seq[String] = Seq(
    "q_cc_chain", "q_bfs_hops", "q_semantic_dedup", "q_dedup_keep_best",
    "q_minhash_dedup", "q_simhash_pairs", "q_jaccard_pairs")

  def keysOf(workload: String): Seq[String] = workload match {
    case "dedup-graph" => DedupGraphKeys
    case other => sys.error(s"workload $other has no query keys")
  }

  private def opts(args: Seq[String]): Map[String, String] =
    args.grouped(2).map {
      case Seq(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => sys.error(s"bad arguments near ${other.mkString(" ")}")
    }.toMap

  def main(argv: Array[String]): Unit = {
    val mode = argv.head
    val o = opts(argv.toSeq.tail)
    val cores = o.getOrElse("cores", Runtime.getRuntime.availableProcessors.toString).toInt
    val work = o("work")
    mode match {
      case "run" =>
        val w = o("workload")
        val hashChecks = o.getOrElse("hash", "").split(",").filter(_.nonEmpty).toSeq.map { kv =>
          val i = kv.lastIndexOf('=')
          kv.take(i) -> kv.drop(i + 1)
        }
        val cfg = RunConfig(w, o("seed").toLong, o("seconds").toDouble, o("trace") == "1",
          cores, work, o("out"), o.getOrElse("trace-out", ""), hashChecks)
        val wl: Workload = w match {
          case "dedup-graph" =>
            new KeysWorkload(keysOf(w), o("data"), KeysWorkload.loadExpected(o("expected")))
          case "table-rw" => new TableRwWorkload(s"${o("data")}/orders.parquet", o("tmp"))
          case "streams-x10" => new StreamsWorkload(o("data"), StreamsWorkload.loadExpected(o("expected")))
          case other => sys.error(s"unknown workload $other")
        }
        Runner.run(cfg, wl)
      case "prepare-keys" =>
        val spark = Session.create(cores, work)
        try KeysWorkload.prepare(spark, keysOf(o("workload")), o("data"), o("out"))
        finally spark.stop()
      case "compare-actions" =>
        val spark = Session.create(cores, work)
        try KeysWorkload.compareActions(spark, keysOf(o("workload")), o("data"), o("out"))
        finally spark.stop()
      case other => sys.error(s"unknown mode $other")
    }
  }
}
