package perfbench

import java.nio.file.{Files, Path, Paths}
import java.time.{LocalDateTime, ZoneOffset}

import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import pystreamsspark.io.SnapshotTable

/** A seeded stream of calls straight into `io.SnapshotTable` on two
  * clustered tables made from the sf0.01 `orders`: one rewritten copy-on-write and
  * one changed through deletion vectors (merge-on-read). Writes sit
  * beside reads, the version log grows through the run, and each pass
  * ends with a compaction of both tables.
  *
  * Every write's batch and parameters go to a JSON-lines log, and every
  * read records a cross-engine fingerprint of its rows; run.py replays
  * the log on its own and checks each read, the final and a sampled
  * time-travel state, and one change feed. */
final class TableRwWorkload(ordersPath: String, workDir: String) extends Workload {
  import TableRwWorkload._
  // A cold pass spends most of its time compiling the io paths' code,
  // which made pass_s spread by 39% (IQR/median) over ten runs.
  override def warmup: Boolean = true

  private var root: Path = _
  private var schema: org.apache.spark.sql.types.StructType = _
  private var keySpan = 0
  private var nextKey = FirstNewKey
  private var batchSeq = 0
  private val log = ArrayBuffer.empty[String]

  private def dir(t: String) = root.resolve(t).toString

  def setup(spark: SparkSession): Unit = {
    Files.createDirectories(Paths.get(workDir))
    root = Files.createTempDirectory(Paths.get(workDir), "table-rw-")
    val base = spark.read.parquet(ordersPath)
    schema = base.schema
    keySpan = base.agg(max(col("o_orderkey"))).collect()(0).getLong(0).toInt + 1
    val shaped = base.repartitionByRange(TableFiles, col("o_orderkey"))
      .sortWithinPartitions("o_orderkey")
    Tables.foreach(t => SnapshotTable.createClustered(spark, dir(t), shaped, Seq("o_orderkey")))
    nextKey = FirstNewKey
    batchSeq = 0
    log.clear()
  }

  /** Drops a discarded set-up round's tables. The last round's stay for
    * run.py's checks; run.py removes the whole temp dir at exit. */
  override def teardown(spark: SparkSession): Unit =
    if (root != null) { deleteTree(root); root = null }

  private def randomRow(rng: Random, key: Long): Row = Row(
    key, 1L + rng.nextInt(15000), Statuses(rng.nextInt(3)),
    rng.nextInt(50000000) / 100.0,
    BaseDay.plusDays(rng.nextInt(2500).toLong),
    Priorities(rng.nextInt(5)))

  /** Writes the batch to the replay log (outside the timed op) and
    * returns it as a local DataFrame. */
  private def batch(spark: SparkSession, rows: Seq[Row]): (DataFrame, String) = {
    batchSeq += 1
    val path = root.resolve(s"batch-$batchSeq.jsonl")
    Files.write(path, rows.map { r =>
      Json(ListMap("o_orderkey" -> r.getLong(0), "o_custkey" -> r.getLong(1),
        "o_orderstatus" -> r.getString(2), "o_totalprice" -> r.getDouble(3),
        "o_orderdate_ms" -> r.getAs[LocalDateTime](4).toEpochSecond(ZoneOffset.UTC) * 1000, "o_orderpriority" -> r.getString(5)))
    }.asJava)
    (spark.createDataFrame(rows.asJava, schema), path.toString)
  }

  private def logCommit(entry: Map[String, Any]): Unit = log += Json(entry)

  def pass(spark: SparkSession, rng: Random): Seq[Op] = {
    val perTable = Tables.flatMap { t =>
      val cow = t == "cow"
      val lo = rng.nextInt(keySpan - Window)
      val mod = 3 + rng.nextInt(5)
      val rem = rng.nextInt(mod)
      def pred(l: Int) = s"o_orderkey BETWEEN $l AND ${l + Window} AND o_orderkey % $mod = $rem"
      val dLo = rng.nextInt(keySpan - Window)
      val uLo = rng.nextInt(keySpan - Window)
      val mergeKeys = (Seq.fill(MergeUpdates)(1L + lo + rng.nextInt(Window)).distinct ++
        Seq.fill(MergeInserts) { nextKey += 1; nextKey })
      val mergeRows = mergeKeys.map(k => randomRow(rng, k))
      val appendRows = Seq.fill(AppendRows) { nextKey += 1; randomRow(rng, nextKey) }
        .sortBy(_.getLong(0))
      val rLo = rng.nextInt(keySpan - RangeWidth)
      val ttPick = rng.nextDouble()
      val cdcBack = 1 + rng.nextInt(4)
      Seq(
        Op(s"$t.merge", "commit", ctx => {
          val (df, path) = batch(ctx.spark, mergeRows)
          val v = SnapshotTable.merge(ctx.spark, dir(t), df, Seq("o_orderkey"))
          logCommit(Map("table" -> t, "op" -> "merge", "version" -> v, "batch" -> path))
          Outcome.Ok
        }),
        Op(s"$t.delete", "commit", ctx => {
          val v = if (cow) SnapshotTable.delete(ctx.spark, dir(t), pred(dLo))
                  else SnapshotTable.deleteVectors(ctx.spark, dir(t), pred(dLo))
          logCommit(Map("table" -> t, "op" -> "delete", "version" -> v,
            "lo" -> dLo, "hi" -> (dLo + Window), "mod" -> mod, "rem" -> rem))
          Outcome.Ok
        }),
        Op(s"$t.update", "commit", ctx => {
          val v = if (cow) SnapshotTable.update(ctx.spark, dir(t), pred(uLo), UpdateSets)
                  else SnapshotTable.updateVectors(ctx.spark, dir(t), pred(uLo), UpdateSets)
          logCommit(Map("table" -> t, "op" -> "update", "version" -> v,
            "lo" -> uLo, "hi" -> (uLo + Window), "mod" -> mod, "rem" -> rem))
          Outcome.Ok
        }),
        Op(s"$t.append", "commit", ctx => {
          val (df, path) = batch(ctx.spark, appendRows)
          val v = SnapshotTable.append(ctx.spark, dir(t), df.coalesce(1), numFiles = 0)
          logCommit(Map("table" -> t, "op" -> "append", "version" -> v, "batch" -> path))
          Outcome.Ok
        }),
        Op(s"$t.read", "read", ctx => {
          val v = SnapshotTable.latestVersion(dir(t))
          val df = ctx.phase("build")(SnapshotTable.read(ctx.spark, dir(t)))
          readCheck(ctx, t, "read", v, df, Map.empty)
        }),
        Op(s"$t.range_read", "read", ctx => {
          val v = SnapshotTable.latestVersion(dir(t))
          val df = ctx.phase("build")(SnapshotTable.readRange(ctx.spark, dir(t), "o_orderkey",
            rLo.toString, (rLo + RangeWidth).toString))
          readCheck(ctx, t, "range_read", v, df, Map("lo" -> rLo, "hi" -> (rLo + RangeWidth),
            "live_files" -> SnapshotTable.filePaths(dir(t)).size))
        }),
        Op(s"$t.time_travel", "read", ctx => {
          val latest = SnapshotTable.latestVersion(dir(t))
          val v = 1 + (ttPick * latest).toInt.min(latest - 1)
          val df = ctx.phase("build")(SnapshotTable.read(ctx.spark, dir(t), Some(v)))
          readCheck(ctx, t, "time_travel", v, df, Map.empty)
        }),
        Op(s"$t.cdc", "read", ctx => {
          val to = SnapshotTable.latestVersion(dir(t))
          val from = math.max(1, to - cdcBack)
          val df = ctx.phase("build")(SnapshotTable.changesBetween(ctx.spark, dir(t), from, to))
          val fp = df.groupBy("_change_type").agg(FpCols.head, FpCols.tail: _*)
          ctx.phase("plan")(fp.queryExecution.executedPlan)
          val rows = ctx.phase("execute")(fp.collect())
          Outcome.Deferred(Map("table" -> t, "op" -> "cdc", "from" -> from, "to" -> to,
            "fp" -> rows.map(r => r.getString(0) -> fpOf(r, 1)).toMap))
        }),
        Op(s"$t.latest_version", "meta", _ => { SnapshotTable.latestVersion(dir(t)); Outcome.Ok }),
        Op(s"$t.file_paths", "meta", _ => {
          if (SnapshotTable.filePaths(dir(t)).isEmpty) Outcome.Wrong("no live files")
          else Outcome.Ok
        }),
        Op(s"$t.schema_of", "meta", _ => {
          if (SnapshotTable.schemaOf(dir(t)).fieldNames.toSeq == schema.fieldNames.toSeq) Outcome.Ok
          else Outcome.Wrong("schema changed")
        }))
    }
    val compacts = Tables.map(t => Op(s"$t.compact", "commit", ctx => {
      val v = SnapshotTable.compact(ctx.spark, dir(t), TableFiles)
      logCommit(Map("table" -> t, "op" -> "compact", "version" -> v))
      Outcome.Ok
    }))
    perTable ++ compacts
  }

  private def readCheck(ctx: Ctx, t: String, op: String, v: Int, df: DataFrame,
                        args: Map[String, Any]): Outcome = {
    val fp = df.agg(FpCols.head, FpCols.tail: _*)
    ctx.phase("plan")(fp.queryExecution.executedPlan)
    val row = ctx.phase("execute")(fp.collect()(0))
    Outcome.Deferred(Map("table" -> t, "op" -> op, "version" -> v, "fp" -> fpOf(row, 0)) ++ args)
  }

  override def finish(spark: SparkSession, ops: Seq[OpRecord]): Map[String, Metric] = {
    val check = root.resolve("check")
    val rng = new Random(Tables.size + batchSeq)
    val entries = ArrayBuffer.empty[Map[String, Any]]
    var plainBytes = 0L
    Tables.foreach { t =>
      val latest = SnapshotTable.latestVersion(dir(t))
      val finalPath = check.resolve(s"$t-final").toString
      SnapshotTable.read(spark, dir(t)).coalesce(1).write.parquet(finalPath)
      plainBytes += treeBytes(Paths.get(finalPath), _ => true)
      val tv = 1 + rng.nextInt(latest)
      val ttPath = check.resolve(s"$t-v$tv").toString
      SnapshotTable.read(spark, dir(t), Some(tv)).coalesce(1).write.parquet(ttPath)
      val from = math.max(1, latest - 4)
      val cdcPath = check.resolve(s"$t-cdc").toString
      SnapshotTable.changesBetween(spark, dir(t), from, latest).coalesce(1).write.parquet(cdcPath)
      entries += Map("table" -> t, "final" -> finalPath, "final_version" -> latest,
        "tt" -> ttPath, "tt_version" -> tv, "cdc" -> cdcPath, "cdc_from" -> from, "cdc_to" -> latest)
    }
    Files.writeString(root.resolve("replay.json"), Json(ListMap(
      "orders" -> ordersPath, "commits" -> log.map(s => RawJson(s)), "states" -> entries)))
    val tableBytes = Tables.map(t => treeBytes(Paths.get(dir(t)), _ => true)).sum
    val logBytes = Tables.map(t => treeBytes(Paths.get(dir(t)), p => !p.toString.endsWith(".parquet"))).sum
    val live = Tables.map(t => SnapshotTable.filePaths(dir(t)).size).sum
    def lat(kind: String, target: Int) = {
      val xs = ops.filter(o => o.kind == kind && o.pass >= 0).map(_.secs)
      if (xs.isEmpty) Metric(0.0, "s", 0)
      else { val (v, p) = Stats.tail(xs, target); Metric(v, "s", xs.size, s"p$p") }
    }
    Map(
      "commit_p50_s" -> lat("commit", 50), "commit_p90_s" -> lat("commit", 90),
      "read_p50_s" -> lat("read", 50), "read_p90_s" -> lat("read", 90),
      "storage_amp" -> Metric(tableBytes.toDouble / plainBytes, "ratio", 1,
        "table bytes / live rows written once as plain parquet"),
      "io.log_kb" -> Metric(logBytes / 1024.0, "KB", 1, "non-data files under both tables"),
      "io.files_live" -> Metric(live.toDouble, "count", 1))
  }

  override def layers(ops: Seq[OpRecord], spans: Seq[Span], probe: Probe,
                      passes: Int): Map[String, Metric] = {
    def callMedian(suffix: String) = {
      // the io call alone: a read's build phase, a write's whole op
      val xs = ops.filter(_.name.endsWith(suffix)).map { o =>
        spans.find(s => s.parent == o.spanId && s.name == "build").map(_.dur / 1e9)
          .getOrElse(o.secs)
      }
      if (xs.isEmpty) Metric(0.0, "s", 0) else Metric(Stats.median(xs), "s", xs.size, "median per call")
    }
    val commitOps = ops.filter(_.kind == "commit")
    val written = probe.stages.filter(st => commitOps.exists(o =>
      st.startMs * 1000000L >= o.start - 1000000L && st.endMs * 1000000L <= o.end + 1000000L))
      .map(_.outputBytes).sum
    // files a range read scanned, as a share of the table's live files
    val rangeFrac = {
      val rs = ops.filter(_.name.endsWith(".range_read"))
      val fr = rs.flatMap { o =>
        val files = probe.scans.filter(s => s.endMs * 1000000L >= o.start - 1000000L &&
          s.endMs * 1000000L <= o.end + 1000000L).map(_.files).sum
        o.deferred.flatMap(_.get("live_files")).map(l => files.toDouble / l.asInstanceOf[Int])
      }
      if (fr.isEmpty) Metric(0.0, "ratio", 0) else Metric(Stats.median(fr), "ratio", fr.size, "median")
    }
    Map(
      "io.meta_s" -> Metric(ops.filter(_.kind == "meta").map(_.secs).sum / math.max(1, passes), "s", passes),
      "io.merge_s" -> callMedian(".merge"), "io.delete_s" -> callMedian(".delete"),
      "io.update_s" -> callMedian(".update"), "io.append_s" -> callMedian(".append"),
      "io.bytes_written_mb" -> Metric(written / 1048576.0 / math.max(1, passes), "MB", passes),
      "io.read_s" -> callMedian(".read"), "io.range_read_s" -> callMedian(".range_read"),
      "io.timetravel_s" -> callMedian(".time_travel"), "io.cdc_s" -> callMedian(".cdc"),
      "io.range_files_frac" -> rangeFrac, "io.compact_s" -> callMedian(".compact"))
  }
}

/** Raw JSON text embedded as-is by [[Json]]. */
final case class RawJson(text: String) { override def toString: String = text }

object TableRwWorkload {
  val Tables = Seq("cow", "mor")
  val TableFiles = 8
  // sized for the sf0.01 orders table (15k rows, dense keys): a window
  // lies within one of the eight files
  val Window = 400
  val RangeWidth = 2000
  val MergeUpdates = 40
  val MergeInserts = 10
  val AppendRows = 20
  val FirstNewKey = 2000000000L
  val BaseDay: LocalDateTime = LocalDateTime.of(1995, 1, 1, 0, 0)
  val Statuses = Seq("F", "O", "P")
  val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val UpdateSets = Seq("o_totalprice" -> "o_totalprice + 1.25", "o_orderpriority" -> "'1-URGENT'")

  /** Sums both engines compute identically over the orders columns
    * (`o_orderdate` is a timestamp without time zone, read as UTC). */
  val FpCols = Seq(
    count(lit(1)).as("n"), sum(col("o_orderkey")).as("k"), sum(col("o_custkey")).as("c"),
    sum(floor(col("o_totalprice") * 100)).as("p"), sum(ascii(col("o_orderstatus"))).as("s"),
    sum(ascii(col("o_orderpriority"))).as("r"), sum(unix_seconds(col("o_orderdate").cast("timestamp"))).as("d"))

  def fpOf(r: Row, from: Int): Seq[Long] =
    (from until from + FpCols.size).map(i => if (r.isNullAt(i)) 0L else r.getAs[Number](i).longValue)

  def treeBytes(p: Path, keep: Path => Boolean): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(f => Files.isRegularFile(f) && keep(f)).map(Files.size).sum
      finally s.close()
    }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists) finally s.close()
  }
}
