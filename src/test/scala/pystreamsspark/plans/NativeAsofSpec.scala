package pystreamsspark.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._
import pystreamsspark.SparkSpec
import pystreamsspark.io.Tables
import pystreamsspark.operators.{AsofJoin, NativeAsof}

/** The native as-of join operator (AsofJoinPlan → AsofJoinStrategy →
  * BroadcastAsofJoinExec) must be byte-identical to the union+window
  * formulation on every input shape — ties on (key, time), duplicate
  * right rows, keys missing on either side, null times — and its
  * physical plan must be the broadcast shape: the custom exec node, one
  * broadcast exchange, and no shuffle or sort on the probe side.
  */
class NativeAsofSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def finalPlan(p: SparkPlan): SparkPlan = p match {
    case a: AdaptiveSparkPlanExec => a.executedPlan
    case other => other
  }

  private def sameResult(native: DataFrame, window: DataFrame): Unit = {
    val n = native.collect()
    val w = window.collect()
    assert(n.length == w.length, s"row counts differ: ${n.length} vs ${w.length}")
    n.zip(w).foreach { case (a, b) => assert(a == b, s"row differs: $a vs $b") }
  }

  private def eventsAsof(direction: String): (DataFrame, DataFrame) = {
    val s = spark
    import s.implicits._
    val ev = Tables.events(s, sf)
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"user_id", $"ts", $"value")
    val left = ev.select($"event_id", $"user_id", $"ts")
    def run(f: (DataFrame, DataFrame, Seq[String], String, String, Seq[String], String, String) => DataFrame) =
      f(left, purchases, Seq("user_id"), "ts", "ts", Seq("value"), "asof_", direction)
        .select($"event_id", $"user_id", $"ts", $"asof_value")
        .orderBy($"event_id")
    (run(NativeAsof.asofJoin(_, _, _, _, _, _, _, _)),
      run(AsofJoin.asofJoin(_, _, _, _, _, _, _, _)))
  }

  test("backward on events matches the window formulation") {
    val (native, window) = eventsAsof("backward")
    sameResult(native, window)
  }

  test("forward on events matches the window formulation") {
    val (native, window) = eventsAsof("forward")
    sameResult(native, window)
  }

  test("nearest on events matches the window formulation") {
    val (native, window) = eventsAsof("nearest")
    sameResult(native, window)
  }

  /** left: 400 probes over 12 keys (keys 10/11 absent on the right),
    * integer times in a tight range so (key, time) ties are common,
    * plus null times; right: 300 quotes over keys 0..9 with heavy
    * (key, time) duplication, distinct tie-break values, null times
    * AND null VALUES — a matched row with a null value must emit null
    * (row semantics), not an older row's value. */
  private def adversarialData: (DataFrame, DataFrame) = {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(42)
    val leftRows = (1 to 400).map { i =>
      (i.toLong, rnd.nextInt(12).toLong,
        if (rnd.nextInt(20) == 0) None else Some(rnd.nextInt(40).toLong))
    }
    val rightRows = (1 to 300).map { i =>
      (rnd.nextInt(10).toLong,
        if (rnd.nextInt(25) == 0) None else Some(rnd.nextInt(40).toLong),
        if (rnd.nextInt(15) == 0) None else Some(i.toDouble))
    }
    (leftRows.toDF("probe_id", "k", "t"), rightRows.toDF("k", "t", "v"))
  }

  test("adversarial shapes: ties, duplicates, missing keys, null times") {
    val s = spark
    import s.implicits._
    val (left, right) = adversarialData
    for (direction <- Seq("backward", "forward", "nearest")) {
      val native = NativeAsof.asofJoin(left, right, Seq("k"), "t", "t",
          Seq("v"), direction = direction)
        .orderBy($"probe_id")
      val window = AsofJoin.asofJoin(left, right, Seq("k"), "t", "t",
          Seq("v"), direction = direction)
        .orderBy($"probe_id")
      sameResult(native, window)
    }
    // tolerance: every direction, cutoff tight enough (times span 0..39)
    // that matches are dropped for real on both sides
    for (direction <- Seq("backward", "forward", "nearest")) {
      val native = NativeAsof.asofJoin(left, right, Seq("k"), "t", "t",
          Seq("v"), direction = direction, tolerance = Some(4.0))
        .orderBy($"probe_id")
      val window = AsofJoin.asofJoin(left, right, Seq("k"), "t", "t",
          Seq("v"), direction = direction, tolerance = Some(4.0))
        .orderBy($"probe_id")
      sameResult(native, window)
      // the cutoff must bite: strictly fewer matches than unlimited
      val unlimited = NativeAsof.asofJoin(left, right, Seq("k"), "t", "t",
        Seq("v"), direction = direction)
      val matchedTol = native.filter($"asof_v".isNotNull).count()
      val matchedAll = unlimited.filter($"asof_v".isNotNull).count()
      assert(matchedTol < matchedAll,
        s"$direction tolerance dropped nothing: $matchedTol vs $matchedAll")
    }
  }

  test("self-join lineage and multi-key, multi-value columns work") {
    val s = spark
    import s.implicits._
    val base = Seq(
      (1L, "a", 1L, 10.0, "x"), (1L, "a", 3L, 30.0, "y"),
      (1L, "b", 2L, 20.0, "z"), (2L, "a", 5L, 50.0, "w"),
      (2L, "a", 5L, 60.0, "v")).toDF("k1", "k2", "t", "v1", "v2")
    // same DataFrame on both sides: fresh right-side exprIds must keep
    // the plan resolvable
    val native = NativeAsof.asofJoin(base, base, Seq("k1", "k2"), "t", "t",
        Seq("v1", "v2"))
      .orderBy($"k1", $"k2", $"t", $"v1")
    val window = AsofJoin.asofJoin(base, base, Seq("k1", "k2"), "t", "t",
        Seq("v1", "v2"))
      .orderBy($"k1", $"k2", $"t", $"v1")
    sameResult(native, window)
    // the (2, a, 5) tie must resolve to the greatest (v1, v2) tuple
    val tied = native.filter($"k1" === 2).collect()
    assert(tied.forall(r => r.getDouble(r.fieldIndex("asof_v1")) == 60.0))
  }

  test("every left row survives when the right side is empty") {
    val s = spark
    import s.implicits._
    val left = Seq((1L, 1L, 1L), (2L, 1L, 2L)).toDF("id", "k", "t")
    val right = Seq.empty[(Long, Long, Double)].toDF("k", "t", "v")
    val out = NativeAsof.asofJoin(left, right, Seq("k"), "t", "t", Seq("v"))
      .orderBy($"id").collect()
    assert(out.length == 2 && out.forall(_.isNullAt(3)))
  }

  test("broadcast variant matches the window formulation: every direction × tolerance") {
    val s = spark
    import s.implicits._
    val (left, right) = adversarialData
    for (direction <- Seq("backward", "forward", "nearest");
         tol <- Seq(None, Some(4.0))) {
      val native = NativeAsof.asofJoin(left, right, Seq("k"), "t", "t",
          Seq("v"), direction = direction, tolerance = tol)
        .orderBy($"probe_id")
      val window = AsofJoin.asofJoin(left, right, Seq("k"), "t", "t",
          Seq("v"), direction = direction, tolerance = tol)
        .orderBy($"probe_id")
      sameResult(native, window)
    }
  }

  test("broadcast handles multi-column string keys (var-length UnsafeRow grouping)") {
    val s = spark
    import s.implicits._
    // string + long compound keys, including null key fields on both
    // sides (null keys must group together, as PARTITION BY does) —
    // exercises var-length UnsafeRow byte-equality in the build map
    val left = Seq(
      (1L, Some("alpha"), 1L, 5L), (2L, Some("alpha"), 1L, 9L),
      (3L, Some("beta"), 2L, 7L), (4L, None, 1L, 6L),
      (5L, Some("gamma"), 9L, 3L)
    ).toDF("probe_id", "k1", "k2", "t")
    val right = Seq(
      (Some("alpha"), 1L, 4L, 10.0), (Some("alpha"), 1L, 8L, 20.0),
      (Some("beta"), 2L, 7L, 30.0), (None.asInstanceOf[Option[String]], 1L, 2L, 40.0)
    ).toDF("k1", "k2", "t", "v")
    for (direction <- Seq("backward", "forward", "nearest")) {
      val native = NativeAsof.asofJoin(left, right, Seq("k1", "k2"),
          "t", "t", Seq("v"), direction = direction)
        .orderBy($"probe_id")
      val window = AsofJoin.asofJoin(left, right, Seq("k1", "k2"),
          "t", "t", Seq("v"), direction = direction)
        .orderBy($"probe_id")
      sameResult(native, window)
    }
  }

  test("two as-of joins over ONE reused broadcast: exchange reuse fires and the per-plan index cache keeps them apart") {
    val s = spark
    import s.implicits._
    val ev = Tables.events(s, sf)
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"user_id", $"ts", $"value")
    val left = ev.select($"event_id", $"user_id", $"ts")
    // same broadcast dimension, two DIFFERENT as-of joins (backward and
    // forward) in one query: the planner should broadcast `purchases`
    // ONCE and reuse it; the executor-side index memo must then key on
    // (broadcast id, plan id) so the two execs cannot collide
    val back = NativeAsof.asofJoin(left, purchases, Seq("user_id"),
      "ts", "ts", Seq("value"), prefix = "back_", direction = "backward")
    val fwd = NativeAsof.asofJoin(left, purchases, Seq("user_id"),
      "ts", "ts", Seq("value"), prefix = "fwd_", direction = "forward")
    val q = back.join(fwd.select($"event_id".as("e2"), $"fwd_value"),
        $"event_id" === $"e2")
      .select($"event_id", $"user_id", $"ts", $"back_value", $"fwd_value")
      .orderBy($"event_id")
    val got = q.collect()
    val plan = finalPlan(q.queryExecution.executedPlan).toString
    assert(plan.contains("ReusedExchange"),
      s"broadcast of the shared dimension was not reused:\n$plan")
    // both joins carry their OWN direction's semantics despite the
    // shared broadcast value: compare against the window formulation
    val wBack = AsofJoin.asofJoin(left, purchases, Seq("user_id"),
      "ts", "ts", Seq("value"), prefix = "back_", direction = "backward")
    val wFwd = AsofJoin.asofJoin(left, purchases, Seq("user_id"),
      "ts", "ts", Seq("value"), prefix = "fwd_", direction = "forward")
    val want = wBack.join(wFwd.select($"event_id".as("e2"), $"fwd_value"),
        $"event_id" === $"e2")
      .select($"event_id", $"user_id", $"ts", $"back_value", $"fwd_value")
      .orderBy($"event_id")
      .collect()
    assert(got.length == want.length)
    got.zip(want).foreach { case (a, b) => assert(a == b, s"$a vs $b") }
  }

  test("broadcast interpolation matches the window interpolation on events") {
    val s = spark
    import s.implicits._
    val ev = Tables.events(s, sf)
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"user_id", $"ts", $"value")
    val left = ev.select($"event_id", $"user_id", $"ts")
    def run(df: DataFrame) =
      df.select($"event_id", $"user_id", $"ts", $"interp_value")
        .orderBy($"event_id")
    sameResult(
      run(NativeAsof.interpolationJoin(left, purchases, Seq("user_id"),
        "ts", "ts", "value")),
      run(AsofJoin.interpolationJoin(left, purchases, Seq("user_id"),
        "ts", "ts", "value")))
  }

  test("broadcast interpolation on adversarial shapes: ties, nulls, missing keys") {
    val s = spark
    import s.implicits._
    val (left, right) = adversarialData
    val native = NativeAsof.interpolationJoin(left, right, Seq("k"),
        "t", "t", "v")
      .orderBy($"probe_id")
    val window = AsofJoin.interpolationJoin(left, right, Seq("k"),
        "t", "t", "v")
      .orderBy($"probe_id")
    sameResult(native, window)
  }

  test("broadcast interpolation plan: zero probe-side shuffles and sorts") {
    val s = spark
    import s.implicits._
    val ev = Tables.events(s, sf)
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"user_id", $"ts", $"value")
    val q = NativeAsof.interpolationJoin(
      ev.select($"event_id", $"user_id", $"ts"), purchases,
      Seq("user_id"), "ts", "ts", "value")
    q.collect()
    val plan = finalPlan(q.queryExecution.executedPlan).toString
    assert(plan.contains("BroadcastAsofJoin"), s"exec missing:\n$plan")
    assert(plan.contains("BroadcastExchange"), s"no broadcast exchange:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning") &&
      !plan.contains("Exchange rangepartitioning"),
      s"probe side shuffled:\n$plan")
    assert(!plan.contains("Sort ["), s"probe side sorted:\n$plan")
  }

  test("broadcast plan: one broadcast exchange, ZERO shuffles and sorts") {
    val s = spark
    import s.implicits._
    val ev = Tables.events(s, sf)
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"user_id", $"ts", $"value")
    val q = NativeAsof.asofJoin(
      ev.select($"event_id", $"user_id", $"ts"), purchases,
      Seq("user_id"), "ts", "ts", Seq("value"))
    q.collect()
    val plan = finalPlan(q.queryExecution.executedPlan).toString
    assert(plan.contains("BroadcastAsofJoin"), s"exec missing:\n$plan")
    assert(plan.contains("BroadcastExchange"), s"no broadcast exchange:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning") &&
      !plan.contains("Exchange rangepartitioning"),
      s"probe side shuffled:\n$plan")
    assert(!plan.contains("Sort ["), s"probe side sorted:\n$plan")
  }
}
