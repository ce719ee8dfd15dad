package pystreamsspark.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.PlanBridge
import pystreamsspark.plans.{AsofJoinPlan, AsofJoinStrategy}

/** Facade over the native broadcast as-of join operator
  * ([[pystreamsspark.plans.BroadcastAsofJoinExec]]) with the same
  * signature and byte-identical semantics as [[AsofJoin.asofJoin]]'s
  * union+window formulation — all three directions (backward / forward
  * / nearest) and the optional `tolerance` distance cutoff. The right
  * side broadcasts and every probe is a per-key binary search — zero
  * exchanges and zero sorts on the (big) left side. Use it when the
  * right side is a small dimension timeline; for same-scale sides use
  * the window formulation.
  *
  * The right side is re-projected through fresh aliases before the plan
  * is built: that (a) mints new expression IDs so `left` and `right`
  * may share a lineage (self-join safe), and (b) renames every right
  * column into the `asof_`-prefixed output namespace so the plan's
  * `left.output ++ right.output` can never collide.
  */
object NativeAsof {
  def asofJoin(
      left: DataFrame,
      right: DataFrame,
      by: Seq[String],
      leftTime: String,
      rightTime: String,
      valueCols: Seq[String],
      prefix: String = "asof_",
      direction: String = "backward",
      tolerance: Option[Double] = None): DataFrame = {
    require(by.nonEmpty, "native as-of join needs at least one by-key")
    val (forward, nearest) = direction match {
      case "backward" => (false, false)
      case "forward" => (true, false)
      case "nearest" => (false, true)
      case other => throw new IllegalArgumentException(
        s"native as-of supports backward|forward|nearest, got $other")
    }
    val spark = left.sparkSession
    if (!spark.experimental.extraStrategies.contains(AsofJoinStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ AsofJoinStrategy

    val r = right.select(
      by.map(c => col(c).as(s"__r_$c")) ++
        Seq(col(rightTime).as("__r_time")) ++
        valueCols.map(c => col(c).as(s"$prefix$c")): _*)
    val lPlan = left.queryExecution.analyzed
    val rPlan = r.queryExecution.analyzed
    def attr(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
        name: String) =
      plan.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(s"no column $name in ${plan.output.map(_.name)}"))
    val node = AsofJoinPlan(
      lPlan, rPlan,
      leftKeys = by.map(attr(lPlan, _)),
      rightKeys = by.map(c => attr(rPlan, s"__r_$c")),
      leftTime = attr(lPlan, leftTime),
      rightTime = attr(rPlan, "__r_time"),
      rightTieBreak = valueCols.map(c => attr(rPlan, s"$prefix$c")),
      forward = forward,
      nearest = nearest,
      tolerance = tolerance)
    PlanBridge.ofRows(spark, node)
      .select((left.columns.toSeq ++ valueCols.map(c => s"$prefix$c")).map(col): _*)
  }

  /** Broadcast interpolation join — [[AsofJoin.interpolationJoin]]'s
    * small-dimension-timeline plan shape: the quote timeline broadcasts
    * once, each probe row binary-searches BOTH surrounding neighbors in
    * one pass (the backward/forward rows are adjacent in the sorted
    * index), and the lerp runs as a plain projection on top — zero
    * exchanges and zero sorts on the (big) probe side. The arithmetic
    * is the identical IEEE op sequence as the window formulation
    * (double-cast epochs → subtract → divide → multiply → add), so both
    * forms and the DuckDB oracle agree bit-for-bit.
    */
  def interpolationJoin(
      left: DataFrame,
      right: DataFrame,
      by: Seq[String],
      leftTime: String,
      rightTime: String,
      valueCol: String,
      prefix: String = "interp_"): DataFrame = {
    require(by.nonEmpty, "broadcast interpolation join needs at least one by-key")
    val spark = left.sparkSession
    if (!spark.experimental.extraStrategies.contains(AsofJoinStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ AsofJoinStrategy

    // tie-break = the double-cast value itself: among quotes sharing a
    // (key, time), backward carries the greatest value and forward the
    // smallest — the window formulation's (__t, __side, __v) sort rules
    val r = right.select(
      by.map(c => col(c).as(s"__r_$c")) ++
        Seq(col(rightTime).as("__r_time"),
          col(valueCol).cast("double").as("__r_value")): _*)
    val lPlan = left.queryExecution.analyzed
    val rPlan = r.queryExecution.analyzed
    def attr(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
        name: String) =
      plan.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(s"no column $name in ${plan.output.map(_.name)}"))
    // second right-row copy: fresh exprIds (stable — stored on the plan
    // node), renamed into a __f_ namespace so name lookups stay unique
    val fwdAttrs = rPlan.output.map(a =>
      a.newInstance().withName("__f" + a.name.stripPrefix("__r")))
    val node = AsofJoinPlan(
      lPlan, rPlan,
      leftKeys = by.map(attr(lPlan, _)),
      rightKeys = by.map(c => attr(rPlan, s"__r_$c")),
      leftTime = attr(lPlan, leftTime),
      rightTime = attr(rPlan, "__r_time"),
      rightTieBreak = Seq(attr(rPlan, "__r_value")),
      forward = false,
      nearest = false,
      tolerance = None,
      emitBoth = true,
      fwdOutput = fwdAttrs)
    val joined = PlanBridge.ofRows(spark, node)
    def micros(c: org.apache.spark.sql.Column) =
      if (left.schema(leftTime).dataType ==
          org.apache.spark.sql.types.TimestampType) unix_micros(c)
      else c.cast("double")
    // the SHARED lerp builder (AsofJoin.interpExpr): one definition of
    // the IEEE op sequence, so the two forms and the oracle cannot drift
    val interp = AsofJoin.interpExpr(col(leftTime), col("__r_time"),
      col("__f_time"), col("__r_value"), col("__f_value"), micros)
    joined
      .withColumn(s"$prefix$valueCol", interp)
      .select((left.columns.toSeq :+ s"$prefix$valueCol").map(col): _*)
  }
}
