package pystreamsspark.relational

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import pystreamsspark.io.Tables
import pystreamsspark.operators.{AsofJoin, NativeAsof, RangeJoin}
import Det._

/** Join surface (SURVEY.md §2.4). All equi-joins are declarative so
  * Catalyst/AQE pick broadcast vs shuffled strategies; dimension sides are
  * hinted with `broadcast()` where we know they stay small at any scale
  * factor (customer segments, literal band tables).
  */
object JoinQueries {

  /** TPC-H Q3 shape: filtered dim (customer seg) broadcast into orders,
    * then into lineitem; group on orderkey; global top-10 by revenue →
    * TakeOrderedAndProject (no full sort at scale). */
  def q3JoinTopk(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val cutoff = lit("1995-06-30").cast("timestamp")
    val cust = Tables.customer(spark, sfDir).filter($"c_mktsegment" === "BUILDING")
    val ord  = Tables.orders(spark, sfDir).filter($"o_orderdate" < cutoff)
    val li   = Tables.lineitem(spark, sfDir).filter($"l_shipdate" > cutoff)
    li.join(ord.join(broadcast(cust), $"o_custkey" === $"c_custkey"),
            $"l_orderkey" === $"o_orderkey")
      .groupBy($"l_orderkey", $"o_orderdate", $"o_orderpriority")
      .agg(dsum($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("revenue"))
      .orderBy($"revenue".desc, $"l_orderkey".asc)
      .limit(10)
  }

  val q3JoinTopkSql: String =
    s"""SELECT l_orderkey, o_orderdate, o_orderpriority,
       |  ${sqlSum("l_extendedprice * (1.0 - l_discount)")} AS revenue
       |FROM customer
       |JOIN orders ON c_custkey = o_custkey
       |JOIN lineitem ON l_orderkey = o_orderkey
       |WHERE c_mktsegment = 'BUILDING'
       |  AND o_orderdate < TIMESTAMP '1995-06-30 00:00:00'
       |  AND l_shipdate > TIMESTAMP '1995-06-30 00:00:00'
       |GROUP BY l_orderkey, o_orderdate, o_orderpriority
       |ORDER BY revenue DESC, l_orderkey ASC
       |LIMIT 10""".stripMargin

  /** Large⋈large equi-join (orders⋈lineitem, no dim filter) — the
    * shuffle-heavy case AQE plans as sort-merge/shuffled-hash; aggregated
    * down so the result is small but the join itself is full-size. */
  def qJoinLarge(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.orders(spark, sfDir)
      .join(Tables.lineitem(spark, sfDir), $"o_orderkey" === $"l_orderkey")
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n_items"),
           dsum($"l_extendedprice").as("sum_price"),
           countDistinct($"o_orderkey").as("n_orders"))
      .orderBy($"o_orderpriority")
  }

  val qJoinLargeSql: String =
    s"""SELECT o_orderpriority, COUNT(*) AS n_items,
       |  ${sqlSum("l_extendedprice")} AS sum_price,
       |  COUNT(DISTINCT o_orderkey) AS n_orders
       |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
       |GROUP BY o_orderpriority
       |ORDER BY o_orderpriority""".stripMargin

  /** RUNTIME bloom-filter join pruning (Spark's InjectRuntimeFilter —
    * the row-level sibling of dynamic partition pruning): the selective
    * filter lives on the orders side, so vanilla sort-merge would still
    * shuffle EVERY lineitem row; with runtime filtering Spark builds a
    * bloom filter from the filtered orders keys as a subquery and
    * applies `might_contain` to lineitem BEFORE its shuffle — at 100 TB
    * this is the difference between shuffling the fact table and
    * shuffling the ~selectivity fraction that can possibly join.
    * Runs in its OWN `newSession()` so the thresholds this toy scale
    * needs (application-side floor 0, broadcast off to keep the join
    * sort-merge — broadcast joins don't need the filter) cannot leak
    * into other keys' sessions. Plan shape asserted in PlanSpec. */
  def qRuntimeFilter(spark0: SparkSession, sfDir: String): DataFrame = {
    val spark = spark0.newSession()
    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    spark.conf.set(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    import spark.implicits._
    val sel = Tables.orders(spark, sfDir)
      .filter($"o_totalprice" > 400000.0)
      .select($"o_orderkey", $"o_orderstatus")
    Tables.lineitem(spark, sfDir)
      .select($"l_orderkey", $"l_extendedprice")
      .join(sel, $"l_orderkey" === $"o_orderkey")
      .groupBy($"o_orderstatus")
      .agg(count(lit(1)).as("n_items"), dsum($"l_extendedprice").as("sum_price"))
      .orderBy($"o_orderstatus")
  }

  val qRuntimeFilterSql: String =
    s"""SELECT o_orderstatus, COUNT(*) AS n_items,
       |  ${sqlSum("l_extendedprice")} AS sum_price
       |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |WHERE o_totalprice > 400000.0
       |GROUP BY o_orderstatus
       |ORDER BY o_orderstatus""".stripMargin

  /** Left outer join keeping order-less customers (n_orders = 0). */
  def qJoinOuter(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.customer(spark, sfDir)
      .join(Tables.orders(spark, sfDir), $"c_custkey" === $"o_custkey", "left")
      .groupBy($"c_custkey")
      .agg(count($"o_orderkey").as("n_orders"),
           coalesce(dsum($"o_totalprice"), lit(0.0)).as("sum_price"))
      .orderBy($"c_custkey")
  }

  val qJoinOuterSql: String =
    s"""SELECT c_custkey, COUNT(o_orderkey) AS n_orders,
       |  COALESCE(${sqlSum("o_totalprice")}, 0.0) AS sum_price
       |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
       |GROUP BY c_custkey
       |ORDER BY c_custkey""".stripMargin

  /** Left anti join: parts never shipped in a large quantity. The right
    * side is FILTERED (l_quantity > 49) so the result is non-empty at
    * every SF — an unfiltered right side matches every part at sf>=0.01,
    * which made the check vacuous (0 rows = 0 rows proves nothing). */
  def qJoinAnti(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val bigLots = Tables.lineitem(spark, sfDir).filter($"l_quantity" > 49)
    Tables.part(spark, sfDir)
      .join(bigLots, $"p_partkey" === $"l_partkey", "left_anti")
      .select($"p_partkey", $"p_name", $"p_brand")
      .orderBy($"p_partkey")
  }

  val qJoinAntiSql: String =
    """SELECT p_partkey, p_name, p_brand
      |FROM part
      |WHERE NOT EXISTS (SELECT 1 FROM lineitem
      |                  WHERE l_partkey = p_partkey AND l_quantity > 49)
      |ORDER BY p_partkey""".stripMargin

  /** Left semi join: customers having at least one open ('O') order. */
  def qJoinSemi(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val openOrders = Tables.orders(spark, sfDir).filter($"o_orderstatus" === "O")
    Tables.customer(spark, sfDir)
      .join(openOrders, $"c_custkey" === $"o_custkey", "left_semi")
      .select($"c_custkey", $"c_name")
      .orderBy($"c_custkey")
  }

  val qJoinSemiSql: String =
    """SELECT c_custkey, c_name
      |FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders
      |              WHERE o_custkey = c_custkey AND o_orderstatus = 'O')
      |ORDER BY c_custkey""".stripMargin

  /** Non-equi (range) join: bucket events into literal value bands via
    * BETWEEN-style bounds — BroadcastNestedLoopJoin with a 5-row build
    * side, which is exactly the right physical plan at any scale. */
  def qJoinRange(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val bands = spark.createDataFrame(Seq(
      ("b0_0_100", 0.0, 100.0),
      ("b1_100_200", 100.0, 200.0),
      ("b2_200_300", 200.0, 300.0),
      ("b3_300_400", 300.0, 400.0),
      ("b4_400_plus", 400.0, 1e9))).toDF("band", "lo", "hi")
    Tables.events(spark, sfDir)
      .join(broadcast(bands), $"value" >= $"lo" && $"value" < $"hi")
      .groupBy($"band")
      .agg(count(lit(1)).as("n"), dsum($"value").as("sum_value"))
      .orderBy($"band")
  }

  val qJoinRangeSql: String =
    s"""SELECT band, COUNT(*) AS n, ${sqlSum("value")} AS sum_value
       |FROM events
       |JOIN (VALUES ('b0_0_100', 0.0, 100.0), ('b1_100_200', 100.0, 200.0),
       |             ('b2_200_300', 200.0, 300.0), ('b3_300_400', 300.0, 400.0),
       |             ('b4_400_plus', 400.0, 1e9)) AS bands(band, lo, hi)
       |  ON value >= lo AND value < hi
       |GROUP BY band
       |ORDER BY band""".stripMargin

  /** BIG-BIG interval join — neither side broadcast-able at scale: every
    * lineitem price joined to every order whose ±5 price window contains
    * it, via [[RangeJoin.pointInInterval]]'s bin-bucketed equi-join
    * (binWidth = interval width → ≤2 replicas per interval, zero nested
    * loops). The oracle states the same join as the naive BETWEEN theta
    * join — equality proves the bin rewrite is exact, pair for pair. */
  def qIntervalJoin(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val iv = Tables.orders(spark, sfDir).select($"o_orderkey",
      ($"o_totalprice" - 5.0).as("lo"), ($"o_totalprice" + 5.0).as("hi"))
    val pts = Tables.lineitem(spark, sfDir).select($"l_extendedprice")
    RangeJoin.pointInInterval(pts, "l_extendedprice", iv, "lo", "hi",
        binWidth = 10.0)
      .groupBy(($"o_orderkey" % 100).as("g"))
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct($"o_orderkey").as("n_orders"),
        dsum($"l_extendedprice").as("sum_price"))
      .orderBy($"g")
  }

  val qIntervalJoinSql: String =
    s"""SELECT o_orderkey % 100 AS g, COUNT(*) AS n_pairs,
       |  COUNT(DISTINCT o_orderkey) AS n_orders,
       |  ${sqlSum("l_extendedprice")} AS sum_price
       |FROM orders JOIN lineitem
       |  ON l_extendedprice >= o_totalprice - 5.0
       | AND l_extendedprice <= o_totalprice + 5.0
       |GROUP BY 1
       |ORDER BY g""".stripMargin

  /** Interval-OVERLAP join via [[RangeJoin.intervalOverlap]]: pairs of
    * 1995 shipments by the SAME supplier whose synthesized transit
    * windows [ship_day, ship_day + quantity days] overlap — per-pair
    * overlap length summed per supplier bucket. The supplier equi-key
    * rides along the bin equi-join; strict (orderkey, linenumber)
    * ordering de-mirrors pairs identically in both engines. Oracle =
    * the naive overlap theta join, proving the bin-ownership rule
    * (emit only where the overlap starts) exact. */
  def qOverlapJoin(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val epoch = to_date(lit("1992-01-01"))
    val base = Tables.lineitem(spark, sfDir)
      .filter(year($"l_shipdate") === 1995)
      .select($"l_suppkey", $"l_orderkey", $"l_linenumber",
        datediff($"l_shipdate", epoch).as("lo"),
        (datediff($"l_shipdate", epoch) + $"l_quantity".cast("int")).as("hi"))
    val a = base.select($"l_suppkey", $"l_orderkey".as("a_ok"),
      $"l_linenumber".as("a_ln"), $"lo".as("a_lo"), $"hi".as("a_hi"))
    val b = base.select($"l_suppkey", $"l_orderkey".as("b_ok"),
      $"l_linenumber".as("b_ln"), $"lo".as("b_lo"), $"hi".as("b_hi"))
    RangeJoin.intervalOverlap(a, "a_lo", "a_hi", b, "b_lo", "b_hi",
        binWidth = 32.0, equiKeys = Seq("l_suppkey"))
      .filter($"a_ok" < $"b_ok" ||
        ($"a_ok" === $"b_ok" && $"a_ln" < $"b_ln"))
      .groupBy(($"l_suppkey" % 20).as("g"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(least($"a_hi", $"b_hi") - greatest($"a_lo", $"b_lo") + lit(1))
          .as("sum_overlap_days"))
      .orderBy($"g")
  }

  val qOverlapJoinSql: String =
    """WITH iv AS (
      |  SELECT l_suppkey, l_orderkey, l_linenumber,
      |    datediff('day', DATE '1992-01-01', CAST(l_shipdate AS DATE)) AS lo,
      |    datediff('day', DATE '1992-01-01', CAST(l_shipdate AS DATE))
      |      + CAST(l_quantity AS INT) AS hi
      |  FROM lineitem WHERE year(l_shipdate) = 1995
      |)
      |SELECT a.l_suppkey % 20 AS g, COUNT(*) AS n_pairs,
      |  CAST(SUM(LEAST(a.hi, b.hi) - GREATEST(a.lo, b.lo) + 1) AS BIGINT)
      |    AS sum_overlap_days
      |FROM iv a JOIN iv b
      |  ON a.l_suppkey = b.l_suppkey
      | AND a.lo <= b.hi AND b.lo <= a.hi
      | AND (a.l_orderkey < b.l_orderkey OR
      |      (a.l_orderkey = b.l_orderkey AND a.l_linenumber < b.l_linenumber))
      |GROUP BY 1
      |ORDER BY g""".stripMargin

  /** As-of join (union + window rewrite, see [[AsofJoin]]): each event gets
    * the timestamp/value of the same user's most recent 'purchase' at or
    * before it. */
  def qJoinAsof(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, sfDir)
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"user_id", $"ts", $"value")
    val joined = AsofJoin.asofJoin(
      left = ev.select($"event_id", $"user_id", $"ts"),
      right = purchases,
      by = Seq("user_id"),
      leftTime = "ts",
      rightTime = "ts",
      valueCols = Seq("value"))
    joined
      .select($"event_id", $"user_id", $"ts", $"asof_value")
      .orderBy($"event_id")
  }

  // Oracle uses the equivalent running-last window formulation (DuckDB also
  // has native ASOF JOIN; the window form avoids tie-semantics ambiguity).
  val qJoinAsofSql: String =
    """SELECT event_id, user_id, ts, asof_value FROM (
      |  SELECT event_id, user_id, ts,
      |    last(CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS)
      |      OVER (PARTITION BY user_id
      |            ORDER BY ts ASC, (CASE WHEN event_type = 'purchase' THEN 0 ELSE 1 END) ASC,
      |                     (CASE WHEN event_type = 'purchase' THEN value END) ASC
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS asof_value
      |  FROM events)
      |ORDER BY event_id""".stripMargin

  /** Forward as-of: each event picks up the EARLIEST purchase at-or-after
    * it per user — the "time to next conversion" primitive, same
    * union + one-window-pass shape as [[qJoinAsof]] with the scan
    * direction flipped (time DESC carry). */
  def qJoinAsofFwd(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, sfDir)
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"user_id", $"ts", $"value")
    AsofJoin.asofJoin(
        left = ev.select($"event_id", $"user_id", $"ts"),
        right = purchases,
        by = Seq("user_id"),
        leftTime = "ts",
        rightTime = "ts",
        valueCols = Seq("value"),
        direction = "forward")
      .select($"event_id", $"user_id", $"ts", $"asof_value")
      .orderBy($"event_id")
  }

  val qJoinAsofFwdSql: String =
    """SELECT event_id, user_id, ts, asof_value FROM (
      |  SELECT event_id, user_id, ts,
      |    last(CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS)
      |      OVER (PARTITION BY user_id
      |            ORDER BY ts DESC, (CASE WHEN event_type = 'purchase' THEN 0 ELSE 1 END) ASC,
      |                     (CASE WHEN event_type = 'purchase' THEN value END) ASC
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS asof_value
      |  FROM events)
      |ORDER BY event_id""".stripMargin

  /** NEAREST as-of: each event picks the purchase closest in time per
    * user, either direction, equal distances going backward (pandas
    * merge_asof direction='nearest') — still ONE shuffle: backward and
    * forward carries run as two frame-bounded windows over the same
    * sort, then an integer-exact µs-distance chooser per row. */
  def qJoinAsofNear(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, sfDir)
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"user_id", $"ts", $"value")
    AsofJoin.asofJoin(
        left = ev.select($"event_id", $"user_id", $"ts"),
        right = purchases,
        by = Seq("user_id"),
        leftTime = "ts",
        rightTime = "ts",
        valueCols = Seq("value"),
        direction = "nearest")
      .select($"event_id", $"user_id", $"ts", $"asof_value")
      .orderBy($"event_id")
  }

  val qJoinAsofNearSql: String =
    """SELECT event_id, user_id, ts,
      |  CASE WHEN ft IS NULL THEN bv
      |       WHEN bt IS NULL THEN fv
      |       WHEN (epoch_us(ts) - epoch_us(bt)) <= (epoch_us(ft) - epoch_us(ts))
      |         THEN bv ELSE fv END AS asof_value
      |FROM (
      |  SELECT event_id, user_id, ts,
      |    last(pv IGNORE NULLS) OVER wback AS bv,
      |    last(pt IGNORE NULLS) OVER wback AS bt,
      |    first_value(pv IGNORE NULLS) OVER wfwd AS fv,
      |    first_value(pt IGNORE NULLS) OVER wfwd AS ft
      |  FROM (
      |    SELECT event_id, user_id, ts,
      |      CASE WHEN event_type = 'purchase' THEN value END AS pv,
      |      CASE WHEN event_type = 'purchase' THEN ts END AS pt,
      |      CASE WHEN event_type = 'purchase' THEN 0 ELSE 1 END AS side
      |    FROM events)
      |  WINDOW
      |    wback AS (PARTITION BY user_id ORDER BY ts ASC, side ASC, pv ASC
      |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
      |    wfwd AS (PARTITION BY user_id ORDER BY ts ASC, side ASC, pv ASC
      |             ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
      |ORDER BY event_id""".stripMargin

  /** As-of through the BROADCAST exec: the small-dimension-timeline
    * plan — purchases broadcast once, every event answered by a per-key
    * binary search, ZERO exchanges/sorts on the probe side
    * ([[pystreamsspark.plans.BroadcastAsofJoinExec]]; plan shape
    * asserted in NativeAsofSpec). Shares [[qJoinAsofSql]]'s oracle. */
  def qJoinAsofBcast(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, sfDir)
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"user_id", $"ts", $"value")
    NativeAsof.asofJoin(
        left = ev.select($"event_id", $"user_id", $"ts"),
        right = purchases,
        by = Seq("user_id"),
        leftTime = "ts",
        rightTime = "ts",
        valueCols = Seq("value"))
      .select($"event_id", $"user_id", $"ts", $"asof_value")
      .orderBy($"event_id")
  }

  /** pandas-merge_asof `tolerance` in µs: 15 min. At every SF some
    * events sit farther than 15 min after the user's last purchase, so
    * the cutoff genuinely drops matches. */
  val asofToleranceUs: Double = 900000000.0

  /** Backward as-of with a TOLERANCE cutoff (window formulation):
    * matches farther than 15 min in the past become NULL. */
  def qJoinAsofTol(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, sfDir)
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"user_id", $"ts", $"value")
    AsofJoin.asofJoin(
        left = ev.select($"event_id", $"user_id", $"ts"),
        right = purchases,
        by = Seq("user_id"),
        leftTime = "ts",
        rightTime = "ts",
        valueCols = Seq("value"),
        tolerance = Some(asofToleranceUs))
      .select($"event_id", $"user_id", $"ts", $"asof_value")
      .orderBy($"event_id")
  }

  val qJoinAsofTolSql: String =
    """SELECT event_id, user_id, ts,
      |  CASE WHEN bt IS NOT NULL AND (epoch_us(ts) - epoch_us(bt)) <= 900000000
      |       THEN bv END AS asof_value
      |FROM (
      |  SELECT event_id, user_id, ts,
      |    last(pv IGNORE NULLS) OVER w AS bv,
      |    last(pt IGNORE NULLS) OVER w AS bt
      |  FROM (
      |    SELECT event_id, user_id, ts,
      |      CASE WHEN event_type = 'purchase' THEN value END AS pv,
      |      CASE WHEN event_type = 'purchase' THEN ts END AS pt,
      |      CASE WHEN event_type = 'purchase' THEN 0 ELSE 1 END AS side
      |    FROM events)
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, side ASC, pv ASC
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
      |ORDER BY event_id""".stripMargin

  /** INTERPOLATION join: each event picks the purchase value linearly
    * interpolated between the surrounding purchases of its user —
    * kdb-style `aj`+lerp, same single-shuffle both-carry frame as the
    * nearest as-of. Fixed IEEE op sequence (double-cast epochs →
    * subtract → divide → multiply → add) replayed verbatim by DuckDB. */
  def qJoinInterp(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, sfDir)
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"user_id", $"ts", $"value")
    AsofJoin.interpolationJoin(
        left = ev.select($"event_id", $"user_id", $"ts"),
        right = purchases,
        by = Seq("user_id"),
        leftTime = "ts",
        rightTime = "ts",
        valueCol = "value")
      .select($"event_id", $"user_id", $"ts", $"interp_value")
      .orderBy($"event_id")
  }

  val qJoinInterpSql: String =
    """SELECT event_id, user_id, ts,
      |  CASE WHEN bt IS NULL THEN fv
      |       WHEN ft IS NULL THEN bv
      |       WHEN epoch_us(ft) = epoch_us(bt) THEN bv
      |       ELSE bv + (fv - bv) *
      |         ((CAST(epoch_us(ts) AS DOUBLE) - CAST(epoch_us(bt) AS DOUBLE)) /
      |          (CAST(epoch_us(ft) AS DOUBLE) - CAST(epoch_us(bt) AS DOUBLE)))
      |  END AS interp_value
      |FROM (
      |  SELECT event_id, user_id, ts,
      |    last(pv IGNORE NULLS) OVER wback AS bv,
      |    last(pt IGNORE NULLS) OVER wback AS bt,
      |    first_value(pv IGNORE NULLS) OVER wfwd AS fv,
      |    first_value(pt IGNORE NULLS) OVER wfwd AS ft
      |  FROM (
      |    SELECT event_id, user_id, ts,
      |      CASE WHEN event_type = 'purchase' THEN value END AS pv,
      |      CASE WHEN event_type = 'purchase' THEN ts END AS pt,
      |      CASE WHEN event_type = 'purchase' THEN 0 ELSE 1 END AS side
      |    FROM events)
      |  WINDOW
      |    wback AS (PARTITION BY user_id ORDER BY ts ASC, side ASC, pv ASC
      |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
      |    wfwd AS (PARTITION BY user_id ORDER BY ts ASC, side ASC, pv ASC
      |             ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
      |ORDER BY event_id""".stripMargin

  /** INTERPOLATION join through the BROADCAST exec: the quote timeline
    * broadcasts once, each probe binary-searches BOTH surrounding
    * purchases in one pass, the lerp runs as a plain projection — zero
    * exchanges/sorts on the probe side
    * ([[pystreamsspark.operators.NativeAsof.interpolationJoin]];
    * plan shape asserted in NativeAsofSpec). Shares
    * [[qJoinInterpSql]]'s oracle. */
  def qJoinInterpBcast(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, sfDir)
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"user_id", $"ts", $"value")
    NativeAsof.interpolationJoin(
        left = ev.select($"event_id", $"user_id", $"ts"),
        right = purchases,
        by = Seq("user_id"),
        leftTime = "ts",
        rightTime = "ts",
        valueCol = "value")
      .select($"event_id", $"user_id", $"ts", $"interp_value")
      .orderBy($"event_id")
  }

  /** Full outer join: per-nation customer counts ⟗ supplier counts —
    * nations missing on either side survive with NULL-coalesced zeros
    * (at small SF some nations have no suppliers, exercising the null
    * side for real). */
  def qJoinFull(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val cn = Tables.customer(spark, sfDir)
      .groupBy($"c_nationkey").agg(count(lit(1)).as("n_cust"))
    val sn = Tables.supplier(spark, sfDir)
      .groupBy($"s_nationkey").agg(count(lit(1)).as("n_supp"))
    cn.join(sn, $"c_nationkey" === $"s_nationkey", "full")
      .select(
        coalesce($"c_nationkey", $"s_nationkey").as("nationkey"),
        coalesce($"n_cust", lit(0L)).as("n_cust"),
        coalesce($"n_supp", lit(0L)).as("n_supp"))
      .orderBy($"nationkey")
  }

  val qJoinFullSql: String =
    """SELECT COALESCE(c.k, s.k) AS nationkey,
      |  COALESCE(c.n_cust, 0) AS n_cust,
      |  COALESCE(s.n_supp, 0) AS n_supp
      |FROM (SELECT c_nationkey AS k, COUNT(*) AS n_cust FROM customer GROUP BY 1) c
      |FULL JOIN (SELECT s_nationkey AS k, COUNT(*) AS n_supp FROM supplier GROUP BY 1) s
      |  ON c.k = s.k
      |ORDER BY nationkey""".stripMargin

  /** Cross join (small×small): region × order-status grid with counts —
    * exercises CartesianProduct/BroadcastNestedLoop deliberately. */
  def qJoinCross(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val statuses = Tables.orders(spark, sfDir).select($"o_orderstatus").distinct()
    Tables.region(spark, sfDir)
      .crossJoin(statuses)
      .select($"r_name", $"o_orderstatus")
      .orderBy($"r_name", $"o_orderstatus")
  }

  val qJoinCrossSql: String =
    """SELECT r_name, o_orderstatus
      |FROM region CROSS JOIN (SELECT DISTINCT o_orderstatus FROM orders)
      |ORDER BY r_name, o_orderstatus""".stripMargin

  /** Bloom-prefiltered semi join — the runtime-filter pattern that makes
    * 100 TB semi joins cheap, registered as an EXACT oracle key: build a
    * Bloom filter over the selective side (~10% of orders), broadcast
    * its BYTES (one row, not the key set), discard ~90% of the probe
    * side map-side BEFORE the join shuffle, then confirm survivors with
    * the exact semi join so Bloom false positives never reach the
    * output. Exactness is by construction (the Bloom pass only ever
    * removes definite non-matches); the oracle is the plain IN-subquery
    * formulation. Same machinery as [[pystreamsspark.llm.Dedup.deltaWithBloom]],
    * and the same bytes-to-literal move: might_contain demands a
    * CONSTANT (or scalar-subquery) filter blob, so the sketch row is
    * collected — one binary scalar to the driver, the SeqPack-style
    * bounded exception to the no-collect rule — and re-injected as a
    * literal, which is exactly how Spark's own runtime filters inline
    * the blob. */
  def qBloomSemijoin(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    pystreamsspark.functions.BloomFunctions.register(spark)
    val hi = Tables.orders(spark, sfDir)
      .filter($"o_totalprice" > 450000.0).select($"o_orderkey")
    val bytes = hi.agg(
        call_function("bloom_agg", xxhash64($"o_orderkey"), lit(100000L)).as("bf"))
      .head.getAs[Array[Byte]](0)
    val prefiltered =
      if (bytes == null) Tables.lineitem(spark, sfDir).limit(0) // no build rows
      else Tables.lineitem(spark, sfDir)
        .filter(call_function("bloom_contains", lit(bytes), xxhash64($"l_orderkey")))
    prefiltered
      .join(hi, $"l_orderkey" === $"o_orderkey", "left_semi")
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n"), sum($"l_quantity").cast("long").as("sum_qty"))
      .orderBy($"l_returnflag")
  }

  val qBloomSemijoinSql: String =
    """SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(l_quantity) AS BIGINT) AS sum_qty
      |FROM lineitem
      |WHERE l_orderkey IN (
      |  SELECT o_orderkey FROM orders WHERE o_totalprice > 450000.0)
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  /** NULL-SAFE equi join (`<=>` / IS NOT DISTINCT FROM): year-over-year
    * comparison of order counts per priority band where one band is
    * deliberately mapped to NULL (nullif) — under plain `=` the NULL
    * rows silently drop; under null-safe equality they pair up, which
    * is the semantics every slowly-changing-dimension diff needs.
    * EqualNullSafe is a first-class hash-join key in Spark (no nested
    * loop): the plan is the same broadcast/shuffled hash join as `=`. */
  def qNullSafeJoin(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    def side(yr: Int, n: String) = Tables.orders(spark, sfDir)
      .filter(year($"o_orderdate") === yr)
      .groupBy(nullif($"o_orderpriority", lit("3-MEDIUM")).as(s"k_$n"))
      .agg(count(lit(1)).as(s"n_$n"))
    side(1996, "a").join(side(1999, "b"), $"k_a" <=> $"k_b")
      .select($"k_a".as("prio"), $"n_a", $"n_b",
        ($"n_b" - $"n_a").as("delta"))
      // explicit NULLS LAST: Spark's asc default is nulls-first,
      // DuckDB's is nulls-last — pin the shared order
      .orderBy($"prio".asc_nulls_last)
  }

  val qNullSafeJoinSql: String =
    """WITH a AS (
      |  SELECT nullif(o_orderpriority, '3-MEDIUM') AS k_a,
      |    CAST(COUNT(*) AS BIGINT) AS n_a
      |  FROM orders WHERE year(o_orderdate) = 1996 GROUP BY 1),
      |b AS (
      |  SELECT nullif(o_orderpriority, '3-MEDIUM') AS k_b,
      |    CAST(COUNT(*) AS BIGINT) AS n_b
      |  FROM orders WHERE year(o_orderdate) = 1999 GROUP BY 1)
      |SELECT a.k_a AS prio, a.n_a, b.n_b, b.n_b - a.n_a AS delta
      |FROM a JOIN b ON a.k_a IS NOT DISTINCT FROM b.k_b
      |ORDER BY prio NULLS LAST""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_null_safe_join" -> (qNullSafeJoin _),
    "q3_join_topk" -> (q3JoinTopk _),
    "q_join_large" -> (qJoinLarge _),
    "q_join_outer" -> (qJoinOuter _),
    "q_runtime_filter" -> (qRuntimeFilter _),
    "q_join_anti"  -> (qJoinAnti _),
    "q_join_semi"  -> (qJoinSemi _),
    "q_join_range" -> (qJoinRange _),
    "q_interval_join" -> (qIntervalJoin _),
    "q_overlap_join" -> (qOverlapJoin _),
    "q_join_asof"  -> (qJoinAsof _),
    "q_join_asof_fwd" -> (qJoinAsofFwd _),
    "q_join_asof_near" -> (qJoinAsofNear _),
    // the `_native` keys keep their registered names; their purchases
    // side grows with events, so only the window rewrite fits
    "q_join_asof_native" -> (qJoinAsof _),
    "q_join_asof_native_fwd" -> (qJoinAsofFwd _),
    "q_join_asof_native_near" -> (qJoinAsofNear _),
    "q_join_asof_tol" -> (qJoinAsofTol _),
    "q_join_asof_native_tol" -> (qJoinAsofTol _),
    "q_join_asof_bcast" -> (qJoinAsofBcast _),
    "q_join_interp" -> (qJoinInterp _),
    "q_join_interp_bcast" -> (qJoinInterpBcast _),
    "q_join_full"  -> (qJoinFull _),
    "q_join_cross" -> (qJoinCross _),
    "q_bloom_semijoin" -> (qBloomSemijoin _))

  val oracle: Map[String, String] = Map(
    "q_null_safe_join" -> qNullSafeJoinSql,
    "q3_join_topk" -> q3JoinTopkSql,
    "q_join_large" -> qJoinLargeSql,
    "q_join_outer" -> qJoinOuterSql,
    "q_runtime_filter" -> qRuntimeFilterSql,
    "q_join_anti"  -> qJoinAntiSql,
    "q_join_semi"  -> qJoinSemiSql,
    "q_join_range" -> qJoinRangeSql,
    "q_interval_join" -> qIntervalJoinSql,
    "q_overlap_join" -> qOverlapJoinSql,
    "q_join_asof"  -> qJoinAsofSql,
    "q_join_asof_fwd" -> qJoinAsofFwdSql,
    "q_join_asof_near" -> qJoinAsofNearSql,
    "q_join_asof_native" -> qJoinAsofSql,
    "q_join_asof_native_fwd" -> qJoinAsofFwdSql,
    "q_join_asof_native_near" -> qJoinAsofNearSql,
    "q_join_asof_tol" -> qJoinAsofTolSql,
    "q_join_asof_native_tol" -> qJoinAsofTolSql,
    "q_join_asof_bcast" -> qJoinAsofSql,
    "q_join_interp" -> qJoinInterpSql,
    "q_join_interp_bcast" -> qJoinInterpSql,
    "q_join_full"  -> qJoinFullSql,
    "q_join_cross" -> qJoinCrossSql,
    "q_bloom_semijoin" -> qBloomSemijoinSql)
}
