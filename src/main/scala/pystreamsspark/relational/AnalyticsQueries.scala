package pystreamsspark.relational

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import pystreamsspark.io.Tables
import Det._

/** Product-analytics and pipeline-utility operators: cohort retention,
  * OHLC bars, event-sequence transition mining, dataset reconciliation
  * (table diff), BPE merge-pair counting, and int8 embedding
  * quantization.
  *
  * Scale notes (100 TB): every query here is shaped as partial+final
  * aggregations and key-hash joins — no windows over raw fact tables
  * except per-user sequences (bounded by a user's own history), no
  * driver-side materialization. Cross-engine float discipline follows
  * Det.scala: compared doubles are either exact (min/max/first/last of
  * stored values) or the result of one correctly-rounded op on identical
  * operands.
  */
object AnalyticsQueries {

  /** Weekly cohort retention over events: cohort = ISO week of a user's
    * first event, one row per (cohort, week_offset) with the retained
    * user count. Two partial+final aggregations (per-user min, then the
    * distinct (user, week) activity set) and a broadcast-size final
    * rollup — the user-level shuffle is the only big exchange, exactly
    * as you'd run it on 100 TB of events. Both engines truncate weeks
    * to Monday. */
  def qRetention(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, sfDir)
      .select($"user_id", date_trunc("week", $"ts").cast("date").as("wk"))
    val cohort = ev.groupBy($"user_id").agg(min($"wk").as("cohort"))
    val active = ev.distinct()
    active.join(cohort, "user_id")
      .withColumn("week_offset", expr("datediff(wk, cohort) div 7"))
      .groupBy($"cohort", $"week_offset")
      .agg(count(lit(1)).as("n_users"))
      .orderBy($"cohort", $"week_offset")
  }

  val qRetentionSql: String =
    """WITH a AS (
      |  SELECT user_id, CAST(date_trunc('week', ts) AS DATE) AS wk
      |  FROM events GROUP BY 1, 2
      |), c AS (
      |  SELECT user_id, MIN(wk) AS cohort FROM a GROUP BY user_id
      |)
      |SELECT c.cohort, date_diff('day', c.cohort, a.wk) // 7 AS week_offset,
      |  COUNT(*) AS n_users
      |FROM a JOIN c ON a.user_id = c.user_id
      |GROUP BY 1, 2
      |ORDER BY cohort, week_offset""".stripMargin

  /** Daily OHLC bars per event_type — the time-series downsampling
    * primitive. open/close are min_by/max_by on the (ts, event_id)
    * composite (deterministic under timestamp ties); high/low are plain
    * min/max. Every compared double is a STORED value, never a sum, so
    * the result is exact on any engine. One partial+final aggregation;
    * min_by/max_by carry one (key, value) pair per group map-side. */
  def qOhlc(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val ord = struct($"ts", $"event_id")
    Tables.events(spark, sfDir)
      .groupBy(to_date($"ts").as("d"), $"event_type")
      .agg(
        min_by($"value", ord).as("open"),
        max($"value").as("high"),
        min($"value").as("low"),
        max_by($"value", ord).as("close"),
        count(lit(1)).as("n"))
      .orderBy($"d", $"event_type")
  }

  val qOhlcSql: String =
    """WITH r AS (
      |  SELECT CAST(ts AS DATE) AS d, event_type, value,
      |    row_number() OVER (PARTITION BY CAST(ts AS DATE), event_type
      |                       ORDER BY ts, event_id) AS rn_a,
      |    row_number() OVER (PARTITION BY CAST(ts AS DATE), event_type
      |                       ORDER BY ts DESC, event_id DESC) AS rn_d
      |  FROM events)
      |SELECT d, event_type,
      |  MAX(CASE WHEN rn_a = 1 THEN value END) AS open,
      |  MAX(value) AS high, MIN(value) AS low,
      |  MAX(CASE WHEN rn_d = 1 THEN value END) AS close,
      |  COUNT(*) AS n
      |FROM r GROUP BY d, event_type
      |ORDER BY d, event_type""".stripMargin

  /** First-order Markov transitions over each user's event sequence:
    * global (prev_type, next_type) counts plus each transition's share
    * of its source state — the sequence-mining / next-event-model
    * input. The lag window is per-user (bounded by one user's history);
    * the transition matrix is |event_types|² rows, so the share window
    * runs over a constant-size aggregate. share = one correctly-rounded
    * division of two exact bigints — cross-engine exact. */
  def qEventBigrams(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val pairs = Tables.events(spark, sfDir)
      .withColumn("prev_type", lag($"event_type", 1).over(w))
      .filter($"prev_type".isNotNull)
      .groupBy($"prev_type", $"event_type")
      .agg(count(lit(1)).as("n"))
    val tot = Window.partitionBy($"prev_type")
    pairs
      .withColumn("share", $"n".cast("double") / sum($"n").over(tot).cast("double"))
      .select($"prev_type", $"event_type".as("next_type"), $"n", $"share")
      .orderBy($"prev_type", $"next_type")
  }

  val qEventBigramsSql: String =
    """WITH s AS (
      |  SELECT user_id, event_type,
      |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |      AS prev_type
      |  FROM events
      |), p AS (
      |  SELECT prev_type, event_type AS next_type, COUNT(*) AS n
      |  FROM s WHERE prev_type IS NOT NULL GROUP BY 1, 2
      |)
      |SELECT prev_type, next_type, n,
      |  CAST(n AS DOUBLE) / CAST(SUM(n) OVER (PARTITION BY prev_type) AS DOUBLE)
      |    AS share
      |FROM p ORDER BY prev_type, next_type""".stripMargin

  /** Dataset reconciliation (table diff): compare `orders` against a
    * deterministically derived snapshot (md5-selected ~6% deletes, ~12%
    * status updates, ~6% synthesized inserts at key+1e12 — far above any
    * real orderkey) and report per-class row counts plus an exact
    * key-sum checksum. The diff itself is ONE full outer hash join on
    * the key — the scale shape for auditing two 100 TB snapshots —
    * with all-column comparison (doubles compared by value, never
    * rendered to strings). */
  def qTableDiff(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val old = Tables.orders(spark, sfDir)
    val tagged = old.withColumn("tag",
      substring(md5($"o_orderkey".cast("string")), 1, 1))
    val updated = tagged.filter($"tag" =!= "0")
      .withColumn("o_orderstatus",
        when($"tag".isin("1", "2"), lit("X")).otherwise($"o_orderstatus"))
      .drop("tag")
    // offset far above any real orderkey at any plausible SF (TPC-H
    // orderkey ~ 6M·sf: 1e12 is safe past sf 100,000) so a synthesized
    // insert key can never collide with a genuine one
    val inserted = tagged.filter($"tag" === "3")
      .select(($"o_orderkey" + 1000000000000L).as("o_orderkey"), $"o_custkey",
        lit("I").as("o_orderstatus"), $"o_totalprice", $"o_orderdate",
        $"o_orderpriority")
    val newSnap = updated.unionByName(inserted)

    val o = old.alias("o")
    val n = newSnap.alias("n")
    val differs =
      col("o.o_orderstatus") =!= col("n.o_orderstatus") ||
      col("o.o_custkey") =!= col("n.o_custkey") ||
      col("o.o_totalprice") =!= col("n.o_totalprice") ||
      col("o.o_orderdate") =!= col("n.o_orderdate") ||
      col("o.o_orderpriority") =!= col("n.o_orderpriority")
    o.join(n, col("o.o_orderkey") === col("n.o_orderkey"), "full_outer")
      .select(
        coalesce(col("o.o_orderkey"), col("n.o_orderkey")).as("k"),
        when(col("o.o_orderkey").isNull, "added")
          .when(col("n.o_orderkey").isNull, "removed")
          .when(differs, "changed")
          .otherwise("same").as("change_class"))
      .groupBy($"change_class")
      .agg(count(lit(1)).as("n"), sum($"k").as("key_sum"))
      .orderBy($"change_class")
  }

  val qTableDiffSql: String =
    """WITH tagged AS (
      |  SELECT o.*, substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 1) AS tag
      |  FROM orders o
      |), newsnap AS (
      |  SELECT o_orderkey, o_custkey,
      |    CASE WHEN tag IN ('1','2') THEN 'X' ELSE o_orderstatus END
      |      AS o_orderstatus,
      |    o_totalprice, o_orderdate, o_orderpriority
      |  FROM tagged WHERE tag <> '0'
      |  UNION ALL
      |  SELECT o_orderkey + 1000000000000, o_custkey, 'I',
      |    o_totalprice, o_orderdate, o_orderpriority
      |  FROM tagged WHERE tag = '3'
      |), d AS (
      |  SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS k,
      |    CASE WHEN o.o_orderkey IS NULL THEN 'added'
      |         WHEN n.o_orderkey IS NULL THEN 'removed'
      |         WHEN o.o_orderstatus <> n.o_orderstatus
      |           OR o.o_custkey <> n.o_custkey
      |           OR o.o_totalprice <> n.o_totalprice
      |           OR o.o_orderdate <> n.o_orderdate
      |           OR o.o_orderpriority <> n.o_orderpriority THEN 'changed'
      |         ELSE 'same' END AS change_class
      |  FROM orders o FULL OUTER JOIN newsnap n
      |    ON o.o_orderkey = n.o_orderkey)
      |SELECT change_class, COUNT(*) AS n, CAST(SUM(k) AS BIGINT) AS key_sum
      |FROM d GROUP BY change_class
      |ORDER BY change_class""".stripMargin

  /** First BPE merge iteration's candidate table: corpus-weighted
    * adjacent character-pair frequencies over the token vocabulary —
    * the inner loop of byte-pair-encoding tokenizer training. Pair
    * generation runs over the AGGREGATED vocabulary (|vocab| rows, each
    * token's count already reduced), never the raw corpus, so the
    * explode fan-out is vocabulary-sized however big the corpus is.
    * Top-20 by (count desc, pair asc) via TakeOrderedAndProject. */
  def qBpeMerges(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val tf = Tables.documents(spark, sfDir)
      .select(explode(split($"text", " ")).as("tok"))
      .filter($"tok" =!= "")
      .groupBy($"tok").agg(count(lit(1)).as("freq"))
    tf.filter(length($"tok") >= 2)
      .select(explode(expr(
        "transform(sequence(1, length(tok) - 1), i -> substring(tok, i, 2))"))
        .as("pair"), $"freq")
      .groupBy($"pair").agg(sum($"freq").as("cnt"))
      .orderBy($"cnt".desc, $"pair")
      .limit(20)
  }

  val qBpeMergesSql: String =
    """WITH toks AS (
      |  SELECT unnest(string_split(text, ' ')) AS tok FROM documents
      |), tf AS (
      |  SELECT tok, COUNT(*) AS freq FROM toks WHERE tok <> '' GROUP BY tok
      |), pairs AS (
      |  SELECT substring(tok, i, 2) AS pair, freq
      |  FROM (SELECT tok, freq, unnest(generate_series(1, length(tok) - 1)) AS i
      |        FROM tf WHERE length(tok) >= 2)
      |)
      |SELECT pair, CAST(SUM(freq) AS BIGINT) AS cnt
      |FROM pairs GROUP BY pair
      |ORDER BY cnt DESC, pair LIMIT 20""".stripMargin

  /** Symmetric int8 quantization of the embedding column — the storage
    * compression step before a 100 TB ANN index build (4× smaller than
    * float32). Per vector: maxabs (exact float comparisons), scale =
    * 127/maxabs (one correctly-rounded division), q_i = floor(x_i ·
    * scale) (correctly-rounded product, exact floor) — every step a
    * pure function of the stored floats, so qsum/qmin/qmax hash-match
    * across engines with no Det machinery. Zero-vector guard pins
    * scale = 0 on both sides. Per-row map work only; zero shuffles. */
  def qEmbedQuant(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val df = Tables.embeddings(spark, sfDir)
      .withColumn("maxabs",
        array_max(transform($"embedding", x => abs(x))).cast("double"))
      .withColumn("scale",
        when($"maxabs" === 0.0, lit(0.0)).otherwise(lit(127.0) / $"maxabs"))
      .withColumn("q",
        transform($"embedding", x => floor(x.cast("double") * $"scale")))
    df.select($"vec_id", $"maxabs",
        aggregate($"q", lit(0L), (acc: Column, x: Column) => acc + x).as("qsum"),
        array_min($"q").as("qmin"),
        array_max($"q").as("qmax"))
      .orderBy($"vec_id")
  }

  val qEmbedQuantSql: String =
    """WITH e AS (
      |  SELECT vec_id,
      |    CAST(list_max(list_transform(embedding, x -> abs(x))) AS DOUBLE)
      |      AS maxabs,
      |    embedding
      |  FROM embeddings
      |), q AS (
      |  SELECT vec_id, maxabs,
      |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) *
      |      (CASE WHEN maxabs = 0 THEN 0.0 ELSE 127.0 / maxabs END))
      |      AS BIGINT)) AS qs
      |  FROM e)
      |SELECT vec_id, maxabs,
      |  CAST(list_sum(qs) AS BIGINT) AS qsum,
      |  list_min(qs) AS qmin,
      |  list_max(qs) AS qmax
      |FROM q ORDER BY vec_id""".stripMargin

  /** Per-(user, month) day-of-month activity bitmaps — the
    * roaring-bitmap-style engagement primitive: one BIGINT mask per
    * user-month (bit d-1 set when the user was active on day d of that
    * month), popcount = active-day count. Keying by month makes the
    * bitmap correct by construction on multi-month histories (day bits
    * from different months never alias). ONE partial+final bit_or
    * aggregation; masks merge associatively and commutatively, so the
    * map-side combine is exact at any partition count — the textbook
    * 100 TB engagement-metrics shape (a bitmap per (user, month)
    * instead of a row per event). */
  def qActivityBitmap(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, sfDir)
      .groupBy($"user_id", date_trunc("month", $"ts").cast("date").as("month"))
      .agg(bit_or(expr("shiftleft(CAST(1 AS BIGINT), dayofmonth(ts) - 1)")).as("mask"))
      .select($"user_id", $"month", $"mask", bit_count($"mask").as("n_days"))
      .orderBy($"user_id", $"month")
  }

  val qActivityBitmapSql: String =
    """SELECT user_id, CAST(date_trunc('month', ts) AS DATE) AS month,
      |  bit_or(1::BIGINT << (date_part('day', ts) - 1)) AS mask,
      |  bit_count(bit_or(1::BIGINT << (date_part('day', ts) - 1))) AS n_days
      |FROM events
      |GROUP BY user_id, CAST(date_trunc('month', ts) AS DATE)
      |ORDER BY user_id, month""".stripMargin

  /** Peak interval concurrency per day (sweep line): each event opens a
    * 30-minute interval; output is each day's maximum number of
    * simultaneously open intervals — the resource-utilization /
    * concurrent-sessions primitive.
    *
    * Scale shape — the q_skyline two-level decomposition, NOT one sweep
    * per day (a single hot day would serialize one task at 100 TB):
    * intervals are clipped into per-DAY segments (≤2 each, 30 min <
    * 1 day), sweep points are bucketed by HOUR, each (day, hour) bucket
    * computes its local running max and net delta in parallel, and the
    * cross-bucket carry is a prefix sum over ≤24 rows per day. Running
    * value at any instant = hour carry-in + local running sum, so
    * day max = max over hours of (carry_in + local_max). The oracle is
    * the INDEPENDENT single-sweep-per-day formulation, value-verifying
    * the decomposition. End-exclusive semantics pinned by ordering
    * (t, delta): a -1 at time t precedes a +1 at the same t in both
    * engines. */
  def qConcurrency(spark: SparkSession, sfDir: String): DataFrame =
    concurrencyByDay(Tables.events(spark, sfDir))

  /** The decomposed sweep over any frame with a `ts` column — exposed
    * so it can run on amplified or skewed data, not just the fixture. */
  def concurrencyByDay(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    val iv = events
      .select($"ts".as("s"), ($"ts" + expr("INTERVAL 30 MINUTES")).as("te"))
    val seg1 = iv.select(to_date($"s").as("d"), $"s",
      least($"te", date_add(to_date($"s"), 1).cast("timestamp")).as("e"))
    val d2 = to_date($"te" - expr("INTERVAL 1 MICROSECOND"))
    val seg2 = iv.filter(d2 > to_date($"s"))
      .select(d2.as("d"), d2.cast("timestamp").as("s"), $"te".as("e"))
    val segs = seg1.unionByName(seg2)
    val pts = segs.select($"d", $"s".as("t"), lit(1).as("delta"))
      .unionByName(segs.select($"d", $"e".as("t"), lit(-1).as("delta")))
      // hours since the day's own midnight (NOT hour(t): a day-end point
      // at exactly 24:00 must land in bucket 24, after bucket 23)
      .withColumn("hr", expr("timestampdiff(HOUR, CAST(d AS TIMESTAMP), t)"))
    val local = Window.partitionBy($"d", $"hr").orderBy($"t", $"delta")
      .rowsBetween(Window.unboundedPreceding, 0)
    val hourly = pts
      .withColumn("run", sum($"delta").over(local))
      .groupBy($"d", $"hr")
      .agg(max($"run").as("local_max"), sum($"delta").as("net"))
    val carry = Window.partitionBy($"d").orderBy($"hr")
      .rowsBetween(Window.unboundedPreceding, -1)
    hourly
      .withColumn("carry_in", coalesce(sum($"net").over(carry), lit(0L)))
      .groupBy($"d").agg(max($"carry_in" + $"local_max").as("max_concurrent"))
      .orderBy($"d")
  }

  val qConcurrencySql: String =
    """WITH iv AS (
      |  SELECT ts AS s, ts + INTERVAL 30 MINUTE AS te FROM events
      |), seg AS (
      |  SELECT CAST(s AS DATE) AS d, s,
      |    LEAST(te, CAST(CAST(s AS DATE) + 1 AS TIMESTAMP)) AS e
      |  FROM iv
      |  UNION ALL
      |  SELECT CAST(te - INTERVAL 1 MICROSECOND AS DATE) AS d,
      |    CAST(CAST(te - INTERVAL 1 MICROSECOND AS DATE) AS TIMESTAMP) AS s, te
      |  FROM iv
      |  WHERE CAST(te - INTERVAL 1 MICROSECOND AS DATE) > CAST(s AS DATE)
      |), pts AS (
      |  SELECT d, s AS t, 1 AS delta FROM seg
      |  UNION ALL
      |  SELECT d, e AS t, -1 AS delta FROM seg
      |), sw AS (
      |  SELECT d, SUM(delta) OVER (PARTITION BY d ORDER BY t, delta
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
      |  FROM pts)
      |SELECT d, CAST(MAX(c) AS BIGINT) AS max_concurrent
      |FROM sw GROUP BY d
      |ORDER BY d""".stripMargin

  /** Rolling 7-day active users (WAU) per day — the growth metric with
    * no windowed COUNT(DISTINCT) anywhere: activity is first reduced to
    * the distinct (user, day) grid, each activity day fans out to the 7
    * window-end days it supports (a ×7 expansion of the AGGREGATED
    * grid, the q_sliding move), the (user, end-day) pairs dedup in one
    * partial+final distinct, and the count per end day is a plain agg.
    * The oracle is the INDEPENDENT correlated COUNT(DISTINCT)-per-day
    * quadratic formulation, so the expansion identity is
    * value-verified. */
  def qWauSliding(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val ud = Tables.events(spark, sfDir)
      .select($"user_id", to_date($"ts").as("d")).distinct()
    val spine = ud.select($"d".as("e")).distinct()
    ud.select($"user_id", explode(sequence(lit(0), lit(6))).as("k"), $"d")
      .select($"user_id", expr("date_add(d, k)").as("e"))
      .distinct()
      .join(broadcast(spine), Seq("e"))
      .groupBy($"e").agg(count(lit(1)).as("wau"))
      .orderBy($"e")
  }

  val qWauSlidingSql: String =
    """WITH ud AS (
      |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
      |), sp AS (SELECT DISTINCT d AS e FROM ud)
      |SELECT e,
      |  CAST((SELECT COUNT(DISTINCT user_id) FROM ud
      |        WHERE ud.d BETWEEN sp.e - 6 AND sp.e) AS BIGINT) AS wau
      |FROM sp
      |ORDER BY e""".stripMargin

  /** Ordered 3-step funnel: per user, first signup → first view after
    * it → first purchase after that, each within 7 days of the prior
    * step; one row per funnel stage with the user count reaching it.
    * Three per-user min-aggregations chained by range-joins on the
    * SAME user key — at scale all three shuffles co-partition on
    * user_id so AQE collapses them into one exchange lineage, never a
    * fact×fact blowup. Counts are exact integers. */
  def qFunnel3(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, sfDir)
    def firstAfter(typ: String, prev: DataFrame, prevCol: String, outCol: String) =
      ev.filter($"event_type" === typ)
        .select($"user_id", $"ts")
        .join(prev.select($"user_id", col(prevCol)), Seq("user_id"))
        .filter($"ts" >= col(prevCol) &&
          $"ts" <= col(prevCol) + expr("INTERVAL 7 DAYS"))
        .groupBy($"user_id").agg(min($"ts").as(outCol))
    val s1 = ev.filter($"event_type" === "signup")
      .groupBy($"user_id").agg(min($"ts").as("t_signup"))
    val s2 = firstAfter("view", s1, "t_signup", "t_view")
    val s3 = firstAfter("purchase", s2, "t_view", "t_purchase")
    def stage(name: String, df: DataFrame) =
      df.agg(count(lit(1)).as("n_users")).select(lit(name).as("stage"), $"n_users")
    stage("1_signup", s1)
      .unionByName(stage("2_view", s2))
      .unionByName(stage("3_purchase", s3))
      .orderBy($"stage")
  }

  val qFunnel3Sql: String =
    """WITH s1 AS (
      |  SELECT user_id, MIN(ts) AS t_signup FROM events
      |  WHERE event_type = 'signup' GROUP BY user_id
      |), s2 AS (
      |  SELECT e.user_id, MIN(e.ts) AS t_view
      |  FROM events e JOIN s1 ON e.user_id = s1.user_id
      |  WHERE e.event_type = 'view'
      |    AND e.ts >= s1.t_signup AND e.ts <= s1.t_signup + INTERVAL 7 DAY
      |  GROUP BY e.user_id
      |), s3 AS (
      |  SELECT e.user_id, MIN(e.ts) AS t_purchase
      |  FROM events e JOIN s2 ON e.user_id = s2.user_id
      |  WHERE e.event_type = 'purchase'
      |    AND e.ts >= s2.t_view AND e.ts <= s2.t_view + INTERVAL 7 DAY
      |  GROUP BY e.user_id
      |)
      |SELECT stage, n_users FROM (
      |  SELECT '1_signup' AS stage, CAST(COUNT(*) AS BIGINT) AS n_users FROM s1
      |  UNION ALL
      |  SELECT '2_view', CAST(COUNT(*) AS BIGINT) FROM s2
      |  UNION ALL
      |  SELECT '3_purchase', CAST(COUNT(*) AS BIGINT) FROM s3)
      |ORDER BY stage""".stripMargin

  /** Most common 3-event paths: per user, consecutive event-type
    * triples in (ts, event_id) order, counted corpus-wide — the
    * sequence-mining extension of [[qEventBigrams]]. Two lag windows
    * share ONE per-user sort; the path table is ≤ |types|³ rows. */
  def qPathTrigrams(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    Tables.events(spark, sfDir)
      .withColumn("p1", lag($"event_type", 2).over(w))
      .withColumn("p2", lag($"event_type", 1).over(w))
      .filter($"p1".isNotNull)
      .select(concat_ws(">", $"p1", $"p2", $"event_type").as("path"))
      .groupBy($"path").agg(count(lit(1)).as("n"))
      .orderBy($"n".desc, $"path")
      .limit(25)
  }

  val qPathTrigramsSql: String =
    """WITH s AS (
      |  SELECT event_type,
      |    lag(event_type, 2) OVER w AS p1,
      |    lag(event_type, 1) OVER w AS p2
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |)
      |SELECT p1 || '>' || p2 || '>' || event_type AS path, COUNT(*) AS n
      |FROM s WHERE p1 IS NOT NULL
      |GROUP BY 1
      |ORDER BY n DESC, path
      |LIMIT 25""".stripMargin

  /** Day-over-day revenue change: daily purchase-value totals
    * (Det-exact decimal sums, so both engines hold bit-identical
    * doubles) with lag-based absolute and relative deltas — the BI
    * period-over-period primitive. The lag window runs over the tiny
    * date-level aggregate; deltas are single correctly-rounded ops on
    * identical operands. */
  def qPeriodChange(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val daily = Tables.events(spark, sfDir)
      .filter($"event_type" === "purchase")
      .groupBy(to_date($"ts").as("d"))
      .agg(dsum($"value").as("revenue"))
    val w = Window.orderBy($"d")
    daily
      .withColumn("prev", lag($"revenue", 1).over(w))
      .withColumn("delta", $"revenue" - $"prev")
      .withColumn("pct_change",
        when($"prev".isNotNull && $"prev" =!= 0.0, $"delta" / $"prev"))
      .orderBy($"d")
  }

  val qPeriodChangeSql: String =
    s"""WITH daily AS (
       |  SELECT CAST(ts AS DATE) AS d, ${Det.sqlSum("value")} AS revenue
       |  FROM events WHERE event_type = 'purchase'
       |  GROUP BY 1
       |)
       |SELECT d, revenue,
       |  lag(revenue) OVER (ORDER BY d) AS prev,
       |  revenue - lag(revenue) OVER (ORDER BY d) AS delta,
       |  CASE WHEN lag(revenue) OVER (ORDER BY d) IS NOT NULL
       |        AND lag(revenue) OVER (ORDER BY d) <> 0.0
       |    THEN (revenue - lag(revenue) OVER (ORDER BY d)) / lag(revenue) OVER (ORDER BY d)
       |  END AS pct_change
       |FROM daily
       |ORDER BY d""".stripMargin

  /** Daily bounce rate: share of 30-min-gap sessions containing exactly
    * one event, attributed to the session's start day — the engagement-
    * quality metric. Sessionization = the lag/cumsum gaps-and-islands
    * form (one per-user window); the rate is one exact division over
    * the day-level aggregate. */
  def qBounceRate(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val cum = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      .rowsBetween(Window.unboundedPreceding, 0)
    val sess = Tables.events(spark, sfDir)
      .withColumn("new_s",
        when(lag($"ts", 1).over(w).isNull ||
          unix_micros($"ts") - unix_micros(lag($"ts", 1).over(w)) >= 1800000000L, 1L)
          .otherwise(0L))
      .withColumn("sid", sum($"new_s").over(cum))
      .groupBy($"user_id", $"sid")
      .agg(min(to_date($"ts")).as("d"), count(lit(1)).as("n_events"))
    sess.groupBy($"d")
      .agg(count(lit(1)).as("n_sessions"),
        sum(when($"n_events" === 1, 1L).otherwise(0L)).as("n_bounces"))
      .withColumn("bounce_rate", $"n_bounces".cast("double") / $"n_sessions")
      .orderBy($"d")
  }

  val qBounceRateSql: String =
    """WITH flagged AS (
      |  SELECT user_id, ts, event_id,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000
      |         THEN 1 ELSE 0 END AS new_s
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |), sess AS (
      |  SELECT user_id,
      |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid,
      |    ts
      |  FROM flagged
      |), agg AS (
      |  SELECT user_id, sid, MIN(CAST(ts AS DATE)) AS d, COUNT(*) AS n
      |  FROM sess GROUP BY user_id, sid
      |)
      |SELECT d, CAST(COUNT(*) AS BIGINT) AS n_sessions,
      |  CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_bounces,
      |  CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
      |    AS bounce_rate
      |FROM agg GROUP BY d
      |ORDER BY d""".stripMargin

  /** Referential-integrity audit across the star schema: for every
    * foreign-key relationship, total child rows and orphan count
    * (children whose parent key is missing) — the data-quality gate a
    * pipeline runs before trusting a snapshot. Each relationship is one
    * left-anti-joinable aggregate; parents are aggregated to their key
    * before the join, so each check is a key-hash join with a
    * broadcast-able dimension side, never a row-level collect. (The
    * driver's generator is consistent, so orphan counts are 0 — the
    * non-vacuous signal is the per-FK totals plus the zero certificate
    * cross-checked by DuckDB.) */
  /** One FK relationship's (total children, orphan count) audit row. */
  def fkAudit(name: String, child: DataFrame, childKey: String,
              parent: DataFrame, parentKey: String): DataFrame = {
    val p = parent.select(col(parentKey).as("__pk")).distinct()
    child.select(col(childKey).as("__fk"))
      .join(p, col("__fk") === col("__pk"), "left")
      .agg(count(lit(1)).as("n_children"),
        sum(when(col("__pk").isNull, 1L).otherwise(0L)).as("n_orphans"))
      .select(lit(name).as("fk"), col("n_children"), col("n_orphans"))
  }

  def qFkAudit(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    def audit(name: String, child: DataFrame, childKey: String,
              parent: DataFrame, parentKey: String): DataFrame =
      fkAudit(name, child, childKey, parent, parentKey)
    val li = Tables.lineitem(spark, sfDir)
    val o = Tables.orders(spark, sfDir)
    val c = Tables.customer(spark, sfDir)
    val n = Tables.nation(spark, sfDir)
    val s = Tables.supplier(spark, sfDir)
    val pt = Tables.part(spark, sfDir)
    audit("lineitem.orderkey->orders", li, "l_orderkey", o, "o_orderkey")
      .unionByName(audit("lineitem.partkey->part", li, "l_partkey", pt, "p_partkey"))
      .unionByName(audit("lineitem.suppkey->supplier", li, "l_suppkey", s, "s_suppkey"))
      .unionByName(audit("orders.custkey->customer", o, "o_custkey", c, "c_custkey"))
      .unionByName(audit("customer.nationkey->nation", c, "c_nationkey", n, "n_nationkey"))
      .unionByName(audit("supplier.nationkey->nation", s, "s_nationkey", n, "n_nationkey"))
      .orderBy($"fk")
  }

  val qFkAuditSql: String =
    """SELECT fk, n_children, n_orphans FROM (
      |  SELECT 'lineitem.orderkey->orders' AS fk,
      |    CAST(COUNT(*) AS BIGINT) AS n_children,
      |    CAST(SUM(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_orphans
      |  FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
      |  UNION ALL
      |  SELECT 'lineitem.partkey->part',
      |    CAST(COUNT(*) AS BIGINT),
      |    CAST(SUM(CASE WHEN p.p_partkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |  FROM lineitem l LEFT JOIN part p ON l.l_partkey = p.p_partkey
      |  UNION ALL
      |  SELECT 'lineitem.suppkey->supplier',
      |    CAST(COUNT(*) AS BIGINT),
      |    CAST(SUM(CASE WHEN s.s_suppkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |  FROM lineitem l LEFT JOIN supplier s ON l.l_suppkey = s.s_suppkey
      |  UNION ALL
      |  SELECT 'orders.custkey->customer',
      |    CAST(COUNT(*) AS BIGINT),
      |    CAST(SUM(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |  FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
      |  UNION ALL
      |  SELECT 'customer.nationkey->nation',
      |    CAST(COUNT(*) AS BIGINT),
      |    CAST(SUM(CASE WHEN n.n_nationkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |  FROM customer c LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
      |  UNION ALL
      |  SELECT 'supplier.nationkey->nation',
      |    CAST(COUNT(*) AS BIGINT),
      |    CAST(SUM(CASE WHEN n.n_nationkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |  FROM supplier s LEFT JOIN nation n ON s.s_nationkey = n.n_nationkey)
      |ORDER BY fk""".stripMargin

  /** Benford first-digit audit over order totals — the statistical
    * anomaly screen (natural multi-magnitude amounts follow
    * log10(1+1/d); synthetic or tampered ones usually don't). The first
    * digit comes from the INTEGER part rendered as a string — bigint
    * formatting is identical across engines, unlike double→string —
    * and the share is one exact division. One partial+final agg over a
    * 9-row output. */
  def qBenford(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // floor() BEFORE the integer cast: Spark's double->bigint cast
    // truncates but DuckDB's ROUNDS (99.5 -> digit 9 vs 1); flooring
    // first makes the value integer-exact so both casts agree
    val digits = Tables.orders(spark, sfDir)
      .filter($"o_totalprice" >= 1.0)
      .select(substring(floor($"o_totalprice").cast("string"), 1, 1)
        .cast("int").as("digit"))
      .groupBy($"digit").agg(count(lit(1)).as("n"))
    val total = digits.agg(sum($"n").as("tot"))
    digits.crossJoin(broadcast(total))
      .select($"digit", $"n", ($"n".cast("double") / $"tot".cast("double")).as("share"))
      .orderBy($"digit")
  }

  val qBenfordSql: String =
    """WITH d AS (
      |  SELECT CAST(substring(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1)
      |    AS INT) AS digit, COUNT(*) AS n
      |  FROM orders WHERE o_totalprice >= 1.0
      |  GROUP BY 1
      |), t AS (SELECT CAST(SUM(n) AS BIGINT) AS tot FROM d)
      |SELECT digit, CAST(n AS BIGINT) AS n,
      |  CAST(CAST(n AS BIGINT) AS DOUBLE) / CAST(tot AS DOUBLE) AS share
      |FROM d CROSS JOIN t
      |ORDER BY digit""".stripMargin

  /** Market-basket association rules over order baskets: top part
    * pairs by co-occurrence support, with confidence(a→b) and lift —
    * the classic retail data-mining op. The pair join is WITHIN-basket
    * (equi-join on the order key, a < b), so fan-out is bounded by
    * basket size squared — never part×part; supports are
    * vocabulary-sized aggregates and the order count is a 1-row
    * broadcast. Confidence and lift are exact rational arithmetic
    * (bigint products, correctly-rounded divisions). */
  def qAssocRules(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val baskets = Tables.lineitem(spark, sfDir)
      .select($"l_orderkey".as("oid"), $"l_partkey".as("item")).distinct()
    val sup = baskets.groupBy($"item").agg(count(lit(1)).as("sup"))
    val pairs = baskets.as("x")
      .join(baskets.as("y"),
        col("x.oid") === col("y.oid") && col("x.item") < col("y.item"))
      .groupBy(col("x.item").as("a"), col("y.item").as("b"))
      .agg(count(lit(1)).as("sup_ab"))
    val n = baskets.select($"oid").distinct().agg(count(lit(1)).as("n_orders"))
    pairs
      .join(sup.select($"item".as("a"), $"sup".as("sup_a")), Seq("a"))
      .join(sup.select($"item".as("b"), $"sup".as("sup_b")), Seq("b"))
      .crossJoin(broadcast(n))
      .select($"a", $"b", $"sup_ab",
        ($"sup_ab".cast("double") / $"sup_a".cast("double")).as("confidence"),
        (($"sup_ab" * $"n_orders").cast("double") /
          ($"sup_a" * $"sup_b").cast("double")).as("lift"))
      .orderBy($"sup_ab".desc, $"a", $"b")
      .limit(25)
  }

  val qAssocRulesSql: String =
    """WITH baskets AS (
      |  SELECT DISTINCT l_orderkey AS oid, l_partkey AS item FROM lineitem
      |), sup AS (
      |  SELECT item, COUNT(*) AS sup FROM baskets GROUP BY item
      |), pairs AS (
      |  SELECT x.item AS a, y.item AS b, COUNT(*) AS sup_ab
      |  FROM baskets x JOIN baskets y
      |    ON x.oid = y.oid AND x.item < y.item
      |  GROUP BY x.item, y.item
      |), n AS (
      |  SELECT CAST(COUNT(DISTINCT oid) AS BIGINT) AS n_orders FROM baskets
      |)
      |SELECT a, b, CAST(sup_ab AS BIGINT) AS sup_ab,
      |  CAST(sup_ab AS DOUBLE) / CAST(sa.sup AS DOUBLE) AS confidence,
      |  CAST(sup_ab * n_orders AS DOUBLE) /
      |    CAST(sa.sup * sb.sup AS DOUBLE) AS lift
      |FROM pairs
      |JOIN sup sa ON sa.item = pairs.a
      |JOIN sup sb ON sb.item = pairs.b
      |CROSS JOIN n
      |ORDER BY sup_ab DESC, a, b
      |LIMIT 25""".stripMargin

  /** RFM customer segmentation — recency / frequency / monetary
    * quintile scores (5 = best). SCALE-TRUE bucketing: quintile
    * BOUNDARIES come from one exact-percentile aggregate row (constant
    * size, broadcast back), and each customer scores itself map-side
    * with four comparisons — never a global ntile/percent_rank window
    * over the customer table. Cross-engine exact: recency/frequency
    * are integers, monetary is a Det-exact decimal sum, and Spark's
    * exact `percentile` interpolation matches DuckDB's `quantile_cont`
    * (the q_percentile-pinned parity); recency scores on the NEGATED
    * value so one uniform higher-is-better comparison chain serves all
    * three dimensions. */
  def qRfm(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val o = Tables.orders(spark, sfDir)
    val anchor = o.agg(max(to_date($"o_orderdate")).as("anchor"))
    val per = o.crossJoin(broadcast(anchor))
      .groupBy($"o_custkey")
      .agg(
        (-min(datediff($"anchor", to_date($"o_orderdate")))).as("rn"),
        count(lit(1)).as("f"),
        dsum($"o_totalprice").as("m"))
    val bounds = per.agg(
      expr("percentile(rn, array(0.2, 0.4, 0.6, 0.8))").as("rb"),
      expr("percentile(f,  array(0.2, 0.4, 0.6, 0.8))").as("fb"),
      expr("percentile(m,  array(0.2, 0.4, 0.6, 0.8))").as("mb"))
    def quintile(v: Column, b: Column): Column =
      lit(1) + (v > element_at(b, 1)).cast("int") + (v > element_at(b, 2)).cast("int") +
        (v > element_at(b, 3)).cast("int") + (v > element_at(b, 4)).cast("int")
    per.crossJoin(broadcast(bounds))
      .select($"o_custkey",
        quintile($"rn".cast("double"), $"rb").as("r_score"),
        quintile($"f".cast("double"), $"fb").as("f_score"),
        quintile($"m", $"mb").as("m_score"))
      .withColumn("rfm", $"r_score" * 100 + $"f_score" * 10 + $"m_score")
      .orderBy($"o_custkey")
  }

  val qRfmSql: String =
    s"""WITH anchor AS (
       |  SELECT MAX(CAST(o_orderdate AS DATE)) AS anchor FROM orders
       |), per AS (
       |  SELECT o_custkey,
       |    -MIN(date_diff('day', CAST(o_orderdate AS DATE), anchor)) AS rn,
       |    COUNT(*) AS f,
       |    ${Det.sqlSum("o_totalprice")} AS m
       |  FROM orders CROSS JOIN anchor
       |  GROUP BY o_custkey
       |), b AS (
       |  SELECT quantile_cont(rn, [0.2, 0.4, 0.6, 0.8]) AS rb,
       |         quantile_cont(f,  [0.2, 0.4, 0.6, 0.8]) AS fb,
       |         quantile_cont(m,  [0.2, 0.4, 0.6, 0.8]) AS mb
       |  FROM per
       |)
       |SELECT o_custkey,
       |  1 + (CAST(rn AS DOUBLE) > rb[1])::INT + (CAST(rn AS DOUBLE) > rb[2])::INT
       |    + (CAST(rn AS DOUBLE) > rb[3])::INT + (CAST(rn AS DOUBLE) > rb[4])::INT
       |    AS r_score,
       |  1 + (CAST(f AS DOUBLE) > fb[1])::INT + (CAST(f AS DOUBLE) > fb[2])::INT
       |    + (CAST(f AS DOUBLE) > fb[3])::INT + (CAST(f AS DOUBLE) > fb[4])::INT
       |    AS f_score,
       |  1 + (m > mb[1])::INT + (m > mb[2])::INT + (m > mb[3])::INT
       |    + (m > mb[4])::INT AS m_score,
       |  (1 + (CAST(rn AS DOUBLE) > rb[1])::INT + (CAST(rn AS DOUBLE) > rb[2])::INT
       |     + (CAST(rn AS DOUBLE) > rb[3])::INT + (CAST(rn AS DOUBLE) > rb[4])::INT) * 100
       |  + (1 + (CAST(f AS DOUBLE) > fb[1])::INT + (CAST(f AS DOUBLE) > fb[2])::INT
       |     + (CAST(f AS DOUBLE) > fb[3])::INT + (CAST(f AS DOUBLE) > fb[4])::INT) * 10
       |  + (1 + (m > mb[1])::INT + (m > mb[2])::INT + (m > mb[3])::INT
       |     + (m > mb[4])::INT) AS rfm
       |FROM per CROSS JOIN b
       |ORDER BY o_custkey""".stripMargin

  /** Column-level table profile (the ANALYZE-TABLE census): per column
    * of `orders`, null count and exact distinct count — the stats a
    * warehouse collects before planning and the first data-quality
    * sweep on a new snapshot. One pass per column family via Spark's
    * multi-COUNT(DISTINCT) Expand rewrite (all six distincts share one
    * scan); integer outputs only, so the profile is engine-neutral. */
  def qProfile(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val o = Tables.orders(spark, sfDir)
    val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
      "o_totalprice", "o_orderdate", "o_orderpriority")
    val agg = o.agg(
      count(lit(1)).as("n_rows"),
      cols.flatMap(c => Seq(
        count(col(c)).as(s"nn_$c"),
        countDistinct(col(c)).as(s"nd_$c"))): _*)
    val perCol = cols.map { c =>
      agg.select(lit(c).as("col_name"),
        ($"n_rows" - col(s"nn_$c")).as("n_nulls"),
        col(s"nd_$c").as("n_distinct"))
    }
    perCol.reduce(_ unionByName _).orderBy($"col_name")
  }

  val qProfileSql: String =
    """SELECT col_name, n_nulls, n_distinct FROM (
      |  SELECT 'o_orderkey' AS col_name,
      |    CAST(COUNT(*) - COUNT(o_orderkey) AS BIGINT) AS n_nulls,
      |    CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_distinct FROM orders
      |  UNION ALL
      |  SELECT 'o_custkey', CAST(COUNT(*) - COUNT(o_custkey) AS BIGINT),
      |    CAST(COUNT(DISTINCT o_custkey) AS BIGINT) FROM orders
      |  UNION ALL
      |  SELECT 'o_orderstatus', CAST(COUNT(*) - COUNT(o_orderstatus) AS BIGINT),
      |    CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT) FROM orders
      |  UNION ALL
      |  SELECT 'o_totalprice', CAST(COUNT(*) - COUNT(o_totalprice) AS BIGINT),
      |    CAST(COUNT(DISTINCT o_totalprice) AS BIGINT) FROM orders
      |  UNION ALL
      |  SELECT 'o_orderdate', CAST(COUNT(*) - COUNT(o_orderdate) AS BIGINT),
      |    CAST(COUNT(DISTINCT o_orderdate) AS BIGINT) FROM orders
      |  UNION ALL
      |  SELECT 'o_orderpriority', CAST(COUNT(*) - COUNT(o_orderpriority) AS BIGINT),
      |    CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) FROM orders)
      |ORDER BY col_name""".stripMargin

  /** Activity seasonality profile: event share per (ISO weekday, hour)
    * cell — the usage-heatmap primitive. ONE partial+final agg to a
    * ≤168-row grid; the share divides two exact bigints. Weekday parity
    * trap pinned here: Spark's dayofweek is 1=Sunday while DuckDB's is
    * 0=Sunday — both sides use the ISO form instead (Spark weekday()+1
    * == DuckDB isodow, 1=Monday). */
  def qSeasonality(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val cells = Tables.events(spark, sfDir)
      .groupBy((weekday($"ts") + 1).as("dow"), hour($"ts").as("hr"))
      .agg(count(lit(1)).as("n"))
    val total = cells.agg(sum($"n").as("tot"))
    cells.crossJoin(broadcast(total))
      .select($"dow", $"hr", $"n",
        ($"n".cast("double") / $"tot".cast("double")).as("share"))
      .orderBy($"dow", $"hr")
  }

  val qSeasonalitySql: String =
    """WITH c AS (
      |  SELECT isodow(ts) AS dow, date_part('hour', ts) AS hr, COUNT(*) AS n
      |  FROM events GROUP BY 1, 2
      |), t AS (SELECT CAST(SUM(n) AS BIGINT) AS tot FROM c)
      |SELECT dow, hr, CAST(n AS BIGINT) AS n,
      |  CAST(n AS DOUBLE) / CAST(tot AS DOUBLE) AS share
      |FROM c CROSS JOIN t
      |ORDER BY dow, hr""".stripMargin

  /** Revenue concentration (Lorenz-style): how much of total revenue
    * the top decile of customers carries. SCALE-TRUE: the P90 spend
    * boundary is ONE exact-percentile aggregate row broadcast back, and
    * the split sums are Det-exact decimal aggregations — no global
    * rank/cumsum window over the customer table (the naive Lorenz
    * cumulative curve sorts all customers in one task). share = one
    * correctly-rounded division of two bit-identical doubles. */
  def qRevenueConc(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val per = Tables.orders(spark, sfDir)
      .groupBy($"o_custkey").agg(dsum($"o_totalprice").as("m"))
    val bound = per.agg(expr("percentile(m, 0.9)").as("b"))
    per.crossJoin(broadcast(bound))
      .agg(
        count(lit(1)).as("n_customers"),
        sum(when($"m" > $"b", 1L).otherwise(0L)).as("n_top"),
        dsum($"m").as("total_rev"),
        dsum(when($"m" > $"b", $"m").otherwise(lit(0.0))).as("top_rev"))
      .select($"n_customers", $"n_top", $"total_rev", $"top_rev",
        ($"top_rev" / $"total_rev").as("top_share"))
  }

  val qRevenueConcSql: String =
    s"""WITH per AS (
       |  SELECT o_custkey, ${Det.sqlSum("o_totalprice")} AS m
       |  FROM orders GROUP BY o_custkey
       |), b AS (SELECT quantile_cont(m, 0.9) AS b FROM per)
       |SELECT CAST(COUNT(*) AS BIGINT) AS n_customers,
       |  CAST(SUM(CASE WHEN m > b THEN 1 ELSE 0 END) AS BIGINT) AS n_top,
       |  ${Det.sqlSum("m")} AS total_rev,
       |  ${Det.sqlSum("CASE WHEN m > b THEN m ELSE 0.0 END")} AS top_rev,
       |  ${Det.sqlSum("CASE WHEN m > b THEN m ELSE 0.0 END")} / ${Det.sqlSum("m")}
       |    AS top_share
       |FROM per CROSS JOIN b""".stripMargin

  /** A/B experiment readout: md5-parity assignment (deterministic,
    * layout-independent — the q_sample_hash discipline), per-arm user
    * and converter counts, conversion rates, and the two-proportion
    * pooled z-statistic. Conversion = the user's FIRST event is a
    * purchase (first-touch intent, ~20% base rate) — "any purchase
    * ever" saturates to ~100% on month-long histories, degenerating the
    * variance to zero. Every number derives from exact bigints through
    * a FIXED tree of correctly-rounded double ops (divisions, one
    * sqrt — IEEE-exact in both engines), so even the test statistic
    * hash-matches; a zero pooled variance reads as NULL z on both
    * sides, never an ANSI divide-by-zero. Shape: one per-user agg, one
    * 2-row arm agg, conditional final — no window, no join. */
  def qAbTest(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val perUser = Tables.events(spark, sfDir)
      .groupBy($"user_id")
      .agg(when(min_by($"event_type", struct($"ts", $"event_id")) === "purchase",
        1L).otherwise(0L).as("conv"))
      .withColumn("arm",
        when(substring(md5($"user_id".cast("string")), 1, 1) < "8", "A")
          .otherwise("B"))
    val armAgg = perUser.groupBy($"arm")
      .agg(count(lit(1)).as("n"), sum($"conv").as("c"))
    val row = armAgg.agg(
      sum(when($"arm" === "A", $"n")).as("n_a"),
      sum(when($"arm" === "A", $"c")).as("conv_a"),
      sum(when($"arm" === "B", $"n")).as("n_b"),
      sum(when($"arm" === "B", $"c")).as("conv_b"))
    val rateA = $"conv_a".cast("double") / $"n_a".cast("double")
    val rateB = $"conv_b".cast("double") / $"n_b".cast("double")
    val pool = ($"conv_a" + $"conv_b").cast("double") / ($"n_a" + $"n_b").cast("double")
    val se = sqrt(pool * (lit(1.0) - pool) *
      (lit(1.0) / $"n_a".cast("double") + lit(1.0) / $"n_b".cast("double")))
    row.select($"n_a", $"conv_a", $"n_b", $"conv_b",
      rateA.as("rate_a"), rateB.as("rate_b"),
      when(se > 0.0, (rateA - rateB) / se).as("z"))
  }

  val qAbTestSql: String =
    """WITH ranked AS (
      |  SELECT user_id, event_type,
      |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      |  FROM events
      |), pu AS (
      |  SELECT user_id,
      |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS conv,
      |    CASE WHEN substring(md5(CAST(user_id AS VARCHAR)), 1, 1) < '8'
      |         THEN 'A' ELSE 'B' END AS arm
      |  FROM ranked WHERE rn = 1
      |), arms AS (
      |  SELECT arm, COUNT(*) AS n, SUM(conv) AS c FROM pu GROUP BY arm
      |), r AS (
      |  SELECT
      |    CAST(SUM(CASE WHEN arm = 'A' THEN n END) AS BIGINT) AS n_a,
      |    CAST(SUM(CASE WHEN arm = 'A' THEN c END) AS BIGINT) AS conv_a,
      |    CAST(SUM(CASE WHEN arm = 'B' THEN n END) AS BIGINT) AS n_b,
      |    CAST(SUM(CASE WHEN arm = 'B' THEN c END) AS BIGINT) AS conv_b
      |  FROM arms
      |)
      |SELECT n_a, conv_a, n_b, conv_b,
      |  CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS rate_a,
      |  CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS rate_b,
      |  CASE WHEN sqrt((CAST(conv_a + conv_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
      |    * (1.0 - CAST(conv_a + conv_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
      |    * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE))) > 0.0
      |  THEN (CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE)
      |   - CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE)) /
      |  sqrt((CAST(conv_a + conv_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
      |    * (1.0 - CAST(conv_a + conv_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
      |    * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE)))
      |  END AS z
      |FROM r""".stripMargin

  /** Wilson score lower bound (Wilson 1927; the "sort by lower bound of
    * the confidence interval" ranking popularized for rating systems) on
    * the per-event-type high-value rate: k = events with value > 50,
    * n = total. Raw k/n over-ranks tiny-n groups; the Wilson bound
    * shrinks toward 0 with uncertainty, making the ranking
    * sample-size-aware — the same correction a data-quality dashboard
    * needs before trusting a per-source defect rate.
    *
    * Determinism: k and n are integer aggregates; everything after is a
    * fixed-shape composition of correctly-rounded IEEE ops (+ − × ÷
    * sqrt) on doubles, written with IDENTICAL parenthesization in both
    * engines, so the bound is bit-identical with no Det machinery (the
    * q_ab_test precedent). z enters as CAST(1.96 AS DOUBLE) — an exact
    * 196/100 division in both engines — never as a bare literal DuckDB
    * would type DECIMAL and double-round on conversion.
    *
    * Shape: one partial+final agg over events (5 groups out), then
    * per-group scalar math — the 100 TB cost is the single scan. */
  def qWilson(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val z = lit(1.96).cast("double")
    val nD = $"n".cast("double")
    val p = $"k".cast("double") / nD
    val z2 = z * z
    val center = p + z2 / (lit(2.0) * nD)
    val rad = z * sqrt((p * (lit(1.0) - p) + z2 / (lit(4.0) * nD)) / nD)
    val denom = lit(1.0) + z2 / nD
    Tables.events(spark, sfDir)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        sum(when($"value" > 50.0, 1L).otherwise(0L)).as("k"))
      .select($"event_type", $"n", $"k",
        ((center - rad) / denom).as("wilson_lb"))
      .orderBy($"wilson_lb".desc, $"event_type")
  }

  val qWilsonSql: String =
    """WITH g AS (
      |  SELECT event_type, COUNT(*) AS n,
      |    SUM(CASE WHEN value > 50.0 THEN 1 ELSE 0 END) AS k
      |  FROM events GROUP BY event_type)
      |SELECT event_type, CAST(n AS BIGINT) AS n, CAST(k AS BIGINT) AS k,
      |  (((CAST(k AS DOUBLE) / CAST(n AS DOUBLE))
      |     + (CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE)) / (2.0 * CAST(n AS DOUBLE)))
      |   - (CAST(1.96 AS DOUBLE) *
      |      sqrt((((CAST(k AS DOUBLE) / CAST(n AS DOUBLE))
      |              * (1.0 - (CAST(k AS DOUBLE) / CAST(n AS DOUBLE))))
      |             + (CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE)) / (4.0 * CAST(n AS DOUBLE)))
      |            / CAST(n AS DOUBLE))))
      |  / (1.0 + (CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE)) / CAST(n AS DOUBLE))
      |  AS wilson_lb
      |FROM g
      |ORDER BY wilson_lb DESC, event_type""".stripMargin

  /** Per-label embedding outliers — the mislabeled-example detector a
    * training-data QA pass runs over an embedded corpus: distance of
    * each vector to its OWN label's centroid, top-20 farthest. A vector
    * far from its class center is a labeling error, an out-of-
    * distribution sample, or a poisoned row — exactly what gets pulled
    * for human review at curation time.
    *
    * Exact cross-engine arithmetic with zero Det machinery: floats are
    * quantized q_i = floor(1024·x_i) (the q_embed_quant-proven exact
    * path), the centroid division is ELIMINATED by scaling — comparing
    * n²·d² = Σ_i (n·q_i − S_i)² where S_i is the label's integer
    * dimension sum — so the score is pure BIGINT arithmetic until one
    * final division by n²·1024² (both operands < 2^53, so the double
    * quotient is correctly rounded in both engines).
    *
    * Shape: posexplode → per-(label,dim) partial+final agg (the
    * centroid table is labels×dims rows — tiny), BROADCAST back to the
    * exploded stream, per-row integer math, global top-k
    * (TakeOrderedAndProject). At 100 TB the only shuffle is the
    * centroid agg; the score pass is map-side. */
  def qEmbedOutlier(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val q = Tables.embeddings(spark, sfDir)
      .select($"vec_id", $"label",
        posexplode(transform($"embedding",
          x => floor(x.cast("double") * lit(1024.0)).cast("long"))))
      .withColumnRenamed("col", "q")
    val cent = q.groupBy($"label", $"pos")
      .agg(sum($"q").as("s"), count(lit(1)).as("n"))
    q.join(broadcast(cent), Seq("label", "pos"))
      .groupBy($"vec_id", $"label", $"n")
      .agg(sum(($"n" * $"q" - $"s") * ($"n" * $"q" - $"s")).as("d2n2"))
      .select($"vec_id", $"label".cast("long").as("label"),
        ($"d2n2".cast("double") /
          ($"n" * $"n" * lit(1048576L)).cast("double")).as("dist2"))
      .orderBy($"dist2".desc, $"vec_id")
      .limit(20)
  }

  val qEmbedOutlierSql: String =
    """WITH dims AS (SELECT unnest(range(1, 65)) AS i),
      |q AS (
      |  SELECT vec_id, label, i,
      |    CAST(floor(CAST(embedding[i] AS DOUBLE) * 1024.0) AS BIGINT) AS q
      |  FROM embeddings CROSS JOIN dims),
      |cent AS (
      |  SELECT label, i, CAST(SUM(q) AS BIGINT) AS s,
      |    COUNT(*) AS n
      |  FROM q GROUP BY label, i),
      |d AS (
      |  SELECT q.vec_id, q.label, cent.n,
      |    CAST(SUM((cent.n * q.q - cent.s) * (cent.n * q.q - cent.s)) AS BIGINT)
      |      AS d2n2
      |  FROM q JOIN cent ON q.label = cent.label AND q.i = cent.i
      |  GROUP BY q.vec_id, q.label, cent.n)
      |SELECT vec_id, CAST(label AS BIGINT) AS label,
      |  CAST(d2n2 AS DOUBLE) / CAST(n * n * 1048576 AS DOUBLE) AS dist2
      |FROM d
      |ORDER BY dist2 DESC, vec_id
      |LIMIT 20""".stripMargin

  /** Two-sample Kolmogorov–Smirnov statistic between the `value`
    * distributions of two event types — the distribution-drift monitor
    * a data pipeline runs between corpus slices (yesterday vs today,
    * source A vs source B) before concluding the data changed. D =
    * max_x |F_click(x) − F_view(x)| over observed values, reported with
    * the location where the gap peaks.
    *
    * Determinism: ECDF steps are integer cumulative counts divided by
    * integer totals (each division correctly rounded, operands < 2^53),
    * the gap is one IEEE subtraction, and the argmax is tie-broken by
    * smallest value — bit-identical cross-engine with no Det casts.
    *
    * Scale shape: aggregate to DISTINCT values first (the `value`
    * domain is 2-decimal and therefore BOUNDED — ~49 k cells at any
    * corpus size), then one window cumsum over that bounded domain.
    * The raw stream never enters a window; at 100 TB the same plan
    * holds because the windowed relation stays ~49 k rows. */
  def qKsTest(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val byVal = Tables.events(spark, sfDir)
      .filter($"event_type".isin("click", "view"))
      .groupBy($"value")
      .agg(sum(when($"event_type" === "click", 1L).otherwise(0L)).as("c1"),
        sum(when($"event_type" === "view", 1L).otherwise(0L)).as("c2"))
    val w = Window.orderBy($"value")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byVal
      .withColumn("cum1", sum($"c1").over(w))
      .withColumn("cum2", sum($"c2").over(w))
      .withColumn("n1", sum($"c1").over(Window.partitionBy()))
      .withColumn("n2", sum($"c2").over(Window.partitionBy()))
      .select($"n1", $"n2", $"value",
        abs($"cum1".cast("double") / $"n1".cast("double")
          - $"cum2".cast("double") / $"n2".cast("double")).as("gap"))
      .orderBy($"gap".desc, $"value".asc)
      .limit(1)
      .select($"n1", $"n2", $"gap".as("d_stat"), $"value".as("at_value"))
  }

  val qKsTestSql: String =
    """WITH bv AS (
      |  SELECT value,
      |    SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c1,
      |    SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS c2
      |  FROM events WHERE event_type IN ('click', 'view')
      |  GROUP BY value),
      |cum AS (
      |  SELECT value,
      |    SUM(c1) OVER (ORDER BY value
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum1,
      |    SUM(c2) OVER (ORDER BY value
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum2,
      |    SUM(c1) OVER () AS n1, SUM(c2) OVER () AS n2
      |  FROM bv)
      |SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
      |  abs(CAST(cum1 AS DOUBLE) / CAST(n1 AS DOUBLE)
      |    - CAST(cum2 AS DOUBLE) / CAST(n2 AS DOUBLE)) AS d_stat,
      |  value AS at_value
      |FROM cum
      |ORDER BY d_stat DESC, value ASC
      |LIMIT 1""".stripMargin

  /** AUC of `value` as a ranking signal for purchases, via the
    * Mann–Whitney U rank-sum identity (AUC = P(score_pos > score_neg)
    * + ½·P(tie)) — the eval every learned quality-scorer or reranker
    * gets before it filters a corpus. Tied scores take AVERAGE ranks
    * (the standard U treatment), which stays exact: the average rank of
    * a tied block is cum_before + (cnt+1)/2 — a half-integer, exactly
    * representable in doubles, and the rank-sum stays < 2^53, so EVERY
    * intermediate is exact regardless of addend order; the only
    * rounding is the final division. No Det machinery needed.
    *
    * Scale shape: same bounded-domain trick as q_ks_test — aggregate
    * per distinct score (≤ ~49 k 2-decimal cells) BEFORE the window, so
    * the cumsum never sees the raw stream; the rank-sum then collapses
    * in one final agg. */
  def qAuc(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val byVal = Tables.events(spark, sfDir)
      .groupBy($"value")
      .agg(count(lit(1)).as("cnt"),
        sum(when($"event_type" === "purchase", 1L).otherwise(0L)).as("pos"))
    byVal
      .withColumn("cumBefore", coalesce(sum($"cnt").over(
        Window.orderBy($"value")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select($"pos", $"cnt", $"cumBefore")
      .agg(sum($"pos").as("np"),
        (sum($"cnt") - sum($"pos")).as("nn"),
        sum($"pos".cast("double") *
          ($"cumBefore".cast("double") + ($"cnt" + 1L).cast("double") / 2.0))
          .as("rank_sum"))
      .select($"np", $"nn",
        (($"rank_sum" - $"np".cast("double") * ($"np" + 1L).cast("double") / 2.0)
          / ($"np".cast("double") * $"nn".cast("double"))).as("auc"))
  }

  val qAucSql: String =
    """WITH bv AS (
      |  SELECT value, COUNT(*) AS cnt,
      |    SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS pos
      |  FROM events GROUP BY value),
      |r AS (
      |  SELECT pos, cnt,
      |    COALESCE(SUM(cnt) OVER (ORDER BY value
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumBefore
      |  FROM bv),
      |s AS (
      |  SELECT CAST(SUM(pos) AS BIGINT) AS np,
      |    CAST(SUM(cnt) - SUM(pos) AS BIGINT) AS nn,
      |    SUM(CAST(pos AS DOUBLE) *
      |      (CAST(cumBefore AS DOUBLE) + CAST(cnt + 1 AS DOUBLE) / 2.0))
      |      AS rank_sum
      |  FROM r)
      |SELECT np, nn,
      |  (rank_sum - CAST(np AS DOUBLE) * CAST(np + 1 AS DOUBLE) / 2.0)
      |    / (CAST(np AS DOUBLE) * CAST(nn AS DOUBLE)) AS auc
      |FROM s""".stripMargin

  /** Gini coefficient of per-customer revenue — the standard inequality
    * summary of a concentration curve (complements q_revenue_conc's
    * top-decile share): G = (2·Σ r·m_r − (n+1)·Σm) / (n·Σm) over
    * revenues m sorted ascending with rank r.
    *
    * Exactness: per-customer revenue is an order-independent DECIMAL
    * sum, the rank weight r·m stays in exact decimal (integer ×
    * decimal), and both totals exit through the Det string-cast
    * decimal→double route, so the one final IEEE expression is
    * bit-identical cross-engine. Ranks are tie-broken by custkey for a
    * total order.
    *
    * Scale note: the ranking is a true global sort of n_customers rows
    * (already reduced from the raw orders stream by the group-by) —
    * the same range-partitioned sort Spark uses for any global ORDER
    * BY; the windowed relation is customers-sized, not orders-sized. */
  def qGini(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // DECIMAL(18,6) × DECIMAL(10,0) → DECIMAL(29,6): exact in BOTH
    // engines (a (38,6) operand would push DuckDB past precision 38 and
    // silently promote the product to double, losing exactness)
    val DM = org.apache.spark.sql.types.DecimalType(18, 6)
    val DR = org.apache.spark.sql.types.DecimalType(10, 0)
    val per = Tables.orders(spark, sfDir)
      .groupBy($"o_custkey")
      .agg(sum($"o_totalprice".cast(DM)).cast(DM).as("m"))
    val ranked = per.withColumn("r",
      row_number().over(Window.orderBy($"m", $"o_custkey")).cast(DR))
    val tot = ranked.agg(count(lit(1)).as("n"),
      Det.d2d(sum($"m" * $"r")).as("w"), Det.d2d(sum($"m")).as("t"))
    tot.select($"n",
      ((lit(2.0) * $"w" - ($"n" + 1L).cast("double") * $"t")
        / ($"n".cast("double") * $"t")).as("gini"))
  }

  val qGiniSql: String =
    """WITH per AS (
      |  SELECT o_custkey,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DECIMAL(18,6)) AS m
      |  FROM orders GROUP BY o_custkey),
      |ranked AS (
      |  SELECT m, CAST(row_number() OVER (ORDER BY m, o_custkey)
      |    AS DECIMAL(10,0)) AS r FROM per),
      |tot AS (
      |  SELECT COUNT(*) AS n,
      |    CAST(CAST(SUM(m * r) AS STRING) AS DOUBLE) AS w,
      |    CAST(CAST(SUM(m) AS STRING) AS DOUBLE) AS t
      |  FROM ranked)
      |SELECT CAST(n AS BIGINT) AS n,
      |  (2.0 * w - CAST(n + 1 AS DOUBLE) * t) / (CAST(n AS DOUBLE) * t)
      |    AS gini
      |FROM tot""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_ks_test"         -> (qKsTest _),
    "q_auc"             -> (qAuc _),
    "q_gini"            -> (qGini _),
    "q_wilson"          -> (qWilson _),
    "q_embed_outlier"   -> (qEmbedOutlier _),
    "q_ab_test"         -> (qAbTest _),
    "q_seasonality"     -> (qSeasonality _),
    "q_revenue_conc"    -> (qRevenueConc _),
    "q_profile"         -> (qProfile _),
    "q_assoc_rules"     -> (qAssocRules _),
    "q_rfm"             -> (qRfm _),
    "q_fk_audit"        -> (qFkAudit _),
    "q_benford"         -> (qBenford _),
    "q_funnel3"         -> (qFunnel3 _),
    "q_path_trigrams"   -> (qPathTrigrams _),
    "q_period_change"   -> (qPeriodChange _),
    "q_bounce_rate"     -> (qBounceRate _),
    "q_wau_sliding"     -> (qWauSliding _),
    "q_retention"       -> (qRetention _),
    "q_ohlc"            -> (qOhlc _),
    "q_event_bigrams"   -> (qEventBigrams _),
    "q_table_diff"      -> (qTableDiff _),
    "q_bpe_merges"      -> (qBpeMerges _),
    "q_embed_quant"     -> (qEmbedQuant _),
    "q_activity_bitmap" -> (qActivityBitmap _),
    "q_concurrency"     -> (qConcurrency _))

  val oracle: Map[String, String] = Map(
    "q_ks_test"         -> qKsTestSql,
    "q_auc"             -> qAucSql,
    "q_gini"            -> qGiniSql,
    "q_wilson"          -> qWilsonSql,
    "q_embed_outlier"   -> qEmbedOutlierSql,
    "q_ab_test"         -> qAbTestSql,
    "q_seasonality"     -> qSeasonalitySql,
    "q_revenue_conc"    -> qRevenueConcSql,
    "q_profile"         -> qProfileSql,
    "q_assoc_rules"     -> qAssocRulesSql,
    "q_rfm"             -> qRfmSql,
    "q_fk_audit"        -> qFkAuditSql,
    "q_benford"         -> qBenfordSql,
    "q_funnel3"         -> qFunnel3Sql,
    "q_path_trigrams"   -> qPathTrigramsSql,
    "q_period_change"   -> qPeriodChangeSql,
    "q_bounce_rate"     -> qBounceRateSql,
    "q_wau_sliding"     -> qWauSlidingSql,
    "q_retention"       -> qRetentionSql,
    "q_ohlc"            -> qOhlcSql,
    "q_event_bigrams"   -> qEventBigramsSql,
    "q_table_diff"      -> qTableDiffSql,
    "q_bpe_merges"      -> qBpeMergesSql,
    "q_embed_quant"     -> qEmbedQuantSql,
    "q_activity_bitmap" -> qActivityBitmapSql,
    "q_concurrency"     -> qConcurrencySql)
}
