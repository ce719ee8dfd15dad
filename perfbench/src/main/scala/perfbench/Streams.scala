package perfbench

import scala.util.Random

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions.col

import pystreamsspark.streams.Stream

final case class LineRow(l_orderkey: Long, l_partkey: Long, l_quantity: Double,
                         l_extendedprice: Double, l_discount: Double,
                         l_returnflag: String, l_linestatus: String)

final case class FlagAgg(key: String, qty: Long, price: Long, n: Long)

/** Typed `pystreams` pipelines over the amplified lineitem, orders and
  * documents.
  * Each result is rendered to a canonical string and compared with the
  * string run.py renders from the pipeline's DuckDB twin. */
final class StreamsWorkload(dataDir: String, expected: Map[String, String]) extends Workload {
  import StreamsWorkload._
  def setup(spark: SparkSession): Unit = ()

  def pass(spark: SparkSession, rng: Random): Seq[Op] =
    Pipelines.map { case (n, f) =>
      Op(n, "stream", ctx => {
        val got = f(ctx, dataDir)
        expected.get(n) match {
          case Some(want) if want == got => Outcome.Ok
          case Some(want) => Outcome.Wrong(s"got $got, twin gives $want")
          case None => Outcome.Wrong("no SQL twin result")
        }
      })
    }

  /** Per-layer time of each pipeline family, summed per pass. */
  override def layers(ops: Seq[OpRecord], spans: Seq[Span], probe: Probe,
                      passes: Int): Map[String, Metric] = {
    def perPass(names: Set[String]) =
      Metric(ops.filter(o => names(o.name)).map(_.secs).sum / math.max(1, passes), "s", passes)
    Map(
      "streams.reduce_s" -> perPass(Set("map_filter_sum")),
      "streams.group_s" -> perPass(Set("group_reduce")),
      "streams.flatmap_s" -> perPass(Set("flatmap_wordcount")),
      "streams.order_s" -> perPass(Set("distinct_sorted_take", "zip_takewhile_skip")))
  }
}

object StreamsWorkload {
  val TakeWhileBelow = 300000L
  val SkipFirst = 100L

  private def lines(ctx: Ctx, dir: String): Dataset[LineRow] = {
    import ctx.spark.implicits._
    ctx.spark.read.parquet(s"$dir/lineitem.parquet")
      .select("l_orderkey", "l_partkey", "l_quantity", "l_extendedprice",
        "l_discount", "l_returnflag", "l_linestatus").as[LineRow]
  }

  val Pipelines: Seq[(String, (Ctx, String) => String)] = Seq(
    "map_filter_sum" -> { (ctx, dir) =>
      import ctx.spark.implicits._
      val s = ctx.phase("build")(Stream(lines(ctx, dir)).filter(_.l_discount > 0.05)
        .map(r => math.floor(r.l_extendedprice * 100).toLong))
      ctx.phase("execute")(s.sum).toString
    },
    "group_reduce" -> { (ctx, dir) =>
      import ctx.spark.implicits._
      val s = ctx.phase("build")(Stream(lines(ctx, dir))
        .map(r => FlagAgg(r.l_returnflag + "|" + r.l_linestatus,
          math.floor(r.l_quantity * 100).toLong, math.floor(r.l_extendedprice * 100).toLong, 1L))
        .groupByKey(_.key)
        .reduceByKey((a, b) => FlagAgg(a.key, a.qty + b.qty, a.price + b.price, a.n + b.n)))
      ctx.phase("execute")(s.collect()).map(_._2).sortBy(_.key)
        .map(a => s"${a.key}:${a.qty}:${a.price}:${a.n}").mkString(";")
    },
    "flatmap_wordcount" -> { (ctx, dir) =>
      import ctx.spark.implicits._
      val s = ctx.phase("build")(Stream(ctx.spark.read.parquet(s"$dir/documents.parquet")
          .select(col("text")).as[String])
        .flatMap(_.split(' ').filter(_.nonEmpty).toSeq)
        .groupByKey(identity).countByKey()
        .map { case (w, c) => (c, w) }
        .sortedDesc)
      ctx.phase("execute")(s.take(10)).map { case (c, w) => s"$w:$c" }.mkString(";")
    },
    "distinct_sorted_take" -> { (ctx, dir) =>
      import ctx.spark.implicits._
      val s = ctx.phase("build")(Stream(lines(ctx, dir)).map(_.l_partkey).distinct.sorted)
      ctx.phase("execute")(s.take(20)).mkString(",")
    },
    "zip_takewhile_skip" -> { (ctx, dir) =>
      import ctx.spark.implicits._
      // takeWhile and skip stamp encounter order with jobs of their own,
      // so building this stream already runs Spark jobs
      val s = ctx.phase("build")(Stream(ctx.spark.read.parquet(s"$dir/orders.parquet")
          .select(col("o_orderkey")).as[Long]).sorted
        .zipWithIndex.filter(_._2 % 7 == 0).map(_._1)
        .takeWhile(_ < TakeWhileBelow).skip(SkipFirst))
      val (n, sum) = ctx.phase("execute")(
        s.map(k => (1L, k)).fold((0L, 0L))((a, b) => (a._1 + b._1, a._2 + b._2)))
      s"$n:$sum"
    })

  def loadExpected(path: String): Map[String, String] = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(p)) Map.empty
    else java.nio.file.Files.readAllLines(p).toArray(Array.empty[String]).toSeq
      .filter(_.nonEmpty).map { l => val f = l.split("\t", 2); f(0) -> f(1) }.toMap
  }
}
