package pystreamsspark.relational

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import pystreamsspark.io.Tables
import pystreamsspark.llm.Dedup

/** Graph analytics over the near-duplicate similarity graph (the same
  * edge list the dedup clustering consumes) — connected components live
  * in `llm.Dedup`; this module holds the pattern-matching side.
  *
  * Triangle counting: enumerate each triangle once via the DEGREE-
  * oriented two-join (the classic MapReduce-triangles skew fix, cf.
  * Suri & Vassilvitskii, "Counting Triangles and the Curse of the Last
  * Reducer", WWW 2011 — public algorithm): orient every edge from its
  * lower-(degree, id) endpoint to its higher one, build wedges by
  * joining oriented edges on their SOURCE, and close each wedge with a
  * third equi-join. Every wedge then pivots at its lowest-degree
  * vertex, so per-join-key fan-out is bounded by O(sqrt(|E|)) even when
  * the graph has a hub whose raw degree is ~|V| — under raw-id
  * orientation that hub serializes one reducer. Each triangle is
  * enumerated exactly once (its unique min-rank vertex is the pivot),
  * so per-node participation counts are identical to any other
  * orientation — which keeps the oracle SQL orientation-free.
  */
object GraphQueries {

  /** Per-node triangle participation counts over an undirected edge
    * list given as one row per edge (any per-row endpoint order).
    * The edge list is MATERIALIZED once up front
    * ([[pystreamsspark.operators.Lineage]]): the plan references it five
    * times (degree union twice, degree stamping, and all three legs of
    * the wedge/closing self-joins) — when `edges` is itself an expensive
    * pipeline (the near-dup similarity join here), re-deriving it per
    * reference costs more than the triangle join tree itself. */
  def triangleCounts(edges: DataFrame): DataFrame =
    triangleCountsOn(pystreamsspark.operators.Lineage.truncate(
      edges.select(col("a"), col("b"))))

  /** [[triangleCounts]] over an ALREADY-materialized edge list — for
    * callers (clustering coefficient) that reuse the same edges for
    * their own aggregates and must not re-trigger the upstream
    * pipeline. */
  private[relational] def triangleCountsOn(edges: DataFrame): DataFrame = {
    // total order on vertices: (degree, id) — unique since ids are unique
    val deg = edges.select(col("a").as("id"))
      .unionAll(edges.select(col("b").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("deg"))
    val withDeg = edges
      .join(deg.select(col("id").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("id").as("b"), col("deg").as("db")), "b")
    val aFirst = col("da") < col("db") ||
      (col("da") === col("db") && col("a") < col("b"))
    // oriented edge u -> v with rank(u) < rank(v); carry v's rank for the
    // wedge-ordering filter below. NOT separately materialized: the three
    // join legs are identical subplans over the already-checkpointed edge
    // list, so ReusedExchange shares them — an extra eager checkpoint here
    // MEASURED slower (1.77 -> 1.88 s at sf0.1), it just adds a job.
    val oriented = withDeg.select(
      when(aFirst, col("a")).otherwise(col("b")).as("u"),
      when(aFirst, col("b")).otherwise(col("a")).as("v"),
      when(aFirst, col("db")).otherwise(col("da")).as("dv"))
    val wedges = oriented.as("e1")
      .join(oriented.as("e2"), col("e1.u") === col("e2.u") &&
        (col("e1.dv") < col("e2.dv") ||
          (col("e1.dv") === col("e2.dv") && col("e1.v") < col("e2.v"))))
      .select(col("e1.u").as("x"), col("e1.v").as("y"), col("e2.v").as("z"))
    // the closing edge y-z is oriented y -> z because rank(y) < rank(z)
    // by the wedge filter — one equi-join, no inequality probe
    val tris = wedges
      .join(oriented.as("e3"),
        col("y") === col("e3.u") && col("z") === col("e3.v"))
      .select(col("x"), col("y"), col("z"))
    tris.select(explode(array(col("x"), col("y"), col("z"))).as("id"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_triangles"))
  }

  /** PageRank over an undirected edge list, in FIXED-POINT integer
    * arithmetic: ranks are BIGINT micro-units (`scale` = 1.0 of rank
    * mass split over N nodes), a node's per-edge share is `pr div deg`
    * (integral division), and damping is `(85 * s) div 100`. Every
    * operation is exact integer arithmetic, so the result is
    * independent of partitioning, reduction order, AND engine — the
    * oracle replays the iterations in DuckDB with `//` and matches
    * bit-for-bit, with none of the float-reduction-order machinery
    * `Det` exists for. (Truncation loses < 1 micro-unit per division —
    * a 1e-12 relative error at the default scale, far below any
    * ranking-relevant difference.)
    *
    * Scale shape: the edge list is the big side and is joined once per
    * iteration against the per-node share table (|V| rows, broadcast /
    * co-partitioned by src); the new rank is one partial+final agg on
    * dst. No windows, no driver-side data — the only scalar crossing
    * the driver is N. Undirected edges mean every node has deg >= 1 and
    * an in-edge, so there are no dangling-mass or missing-row cases. */
  def pageRank(edges: DataFrame, iters: Int = 3,
               scale: Long = 1000000000000L): DataFrame = {
    import pystreamsspark.operators.Pregel
    // adjacency materialized ONCE (Pregel owns the discipline): without
    // this every iteration's lineage re-scans the raw edge table twice —
    // at 100 TB that is iters x 2 full re-reads of the biggest input
    val dir = Pregel.materializeOnce(
      edges.select(col("a").as("src"), col("b").as("dst"))
        .unionAll(edges.select(col("b").as("src"), col("a").as("dst"))))
    val deg = Pregel.materializeOnce(
      dir.groupBy(col("src")).agg(count(lit(1)).as("deg")))
    val n = deg.count()
    val init = scale / n
    val base = (15L * init) / 100L
    val ranks0 = deg.select(col("src").as("id"), col("deg"),
      lit(init).as("pr"))
    // superstep = the canonical aggregateMessages (share = pr div deg
    // per out-edge, summed per destination) + the damping re-join
    val (ranks, _) = Pregel.iterate(ranks0, iters) { (ranks, _) =>
      val sums = Pregel.aggregateMessages(dir, ranks,
        msgs = Seq(expr("pr div deg").as("share")),
        aggs = Seq(sum(col("share")).as("s")))
      deg.select(col("src").as("id"), col("deg"))
        .join(sums, Seq("id"))
        .select(col("id"), col("deg"),
          (lit(base) + expr("(85 * s) div 100")).as("pr"))
    }
    ranks.select(col("id"), col("pr"))
  }

  /** Multi-source BFS: minimum hop distance from any seed, capped at
    * `maxHops` relaxation rounds (after round k, every node holds its
    * exact BFS distance if it is <= k; unreached nodes are absent).
    * Hop counts are integers, so the result is partitioning- and
    * engine-exact by construction. Each round is one join of the
    * (small, <= |V| rows) distance table against the edge list plus a
    * min partial+final agg — the distance side broadcasts / co-
    * partitions; the big edge list is never re-keyed or windowed. */
  def bfsHops(edges: DataFrame, seeds: DataFrame, maxHops: Int = 4): DataFrame = {
    import pystreamsspark.operators.Pregel
    // adjacency materialized once, as in pageRank — each relaxation
    // round joins against it without re-deriving from the raw table.
    // The step keeps the one-join + ONE-agg round shape (self-state
    // unions into the messages before the single min aggregate).
    val dir = Pregel.materializeOnce(
      edges.select(col("a").as("src"), col("b").as("dst"))
        .unionAll(edges.select(col("b").as("src"), col("a").as("dst"))))
    // truncate EVERY round (r14): the round body references `dist` TWICE
    // (the relaxation join + the self-union), so an untruncated lineage
    // re-executes the previous round's tree 2× per reference — 2^rounds
    // total (measured: q_bfs_hops read 376 MB of adjacency blocks for a
    // 2 MB edge table, ~15 executions of the per-round join at
    // maxHops=4). The distance table is ≤|V| narrow rows, so the
    // per-round checkpoint is cheap and the loop is linear in rounds.
    // LAZY truncate (r15, VERDICT #1): eager checkpointing added one
    // serial barrier JOB per round (tools/JobsDetail: 26→22 jobs here) for no
    // wall gain — the interleaved 3-variant A/B (eager-1 / lazy-1 /
    // eager-2, min-of-10 ×3 blocks) measured all three within host
    // noise, so the policy keeping the fewest driver-sequenced barriers
    // wins (the star-CC precedent). Lineage stays linear: the lazy
    // checkpoint truncates the plan at construction and the blocks
    // materialize inside the ONE final job.
    val (dist, _) = Pregel.iterate(
      seeds.select(col("id"), lit(0L).as("hop")), maxHops,
      Pregel.Policy(truncateEvery = 1, eagerTruncate = false)) { (dist, _) =>
      val next = dist.join(dir, dist("id") === dir("src"))
        .select(col("dst").as("id"), (col("hop") + 1).as("hop"))
      dist.unionAll(next).groupBy(col("id")).agg(min(col("hop")).as("hop"))
    }
    dist
  }

  /** BFS hop distances over the customer–supplier trade graph from the
    * every-10th-supplier seed set (s_suppkey % 10 == 0 — non-empty from
    * sf0.001's 10 suppliers up). 4 rounds cover the graph's tiny
    * bipartite diameter; the oracle replays as a state-deduplicating
    * recursive CTE (UNION, not UNION ALL — path-count explosion is the
    * classic recursive-BFS trap). */
  def qBfsHops(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val edges = Tables.orders(spark, sfDir).select($"o_orderkey", $"o_custkey")
      .join(Tables.lineitem(spark, sfDir).select($"l_orderkey", $"l_suppkey"),
        $"o_orderkey" === $"l_orderkey")
      .select(($"o_custkey" * 2).as("a"), ($"l_suppkey" * 2 + 1).as("b"))
      .distinct()
    val seeds = Tables.supplier(spark, sfDir)
      .filter($"s_suppkey" % 10 === 0)
      .select(($"s_suppkey" * 2 + 1).as("id"))
    bfsHops(edges, seeds).orderBy($"id")
  }

  val qBfsHopsSql: String =
    """WITH RECURSIVE e0 AS MATERIALIZED (
      |  SELECT DISTINCT o.o_custkey * 2 AS a, l.l_suppkey * 2 + 1 AS b
      |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      |), dir AS MATERIALIZED (
      |  SELECT a AS src, b AS dst FROM e0
      |  UNION ALL
      |  SELECT b AS src, a AS dst FROM e0
      |), walk(id, hop) AS (
      |  SELECT s_suppkey * 2 + 1, 0 FROM supplier WHERE s_suppkey % 10 = 0
      |  UNION
      |  SELECT dir.dst, walk.hop + 1
      |  FROM walk JOIN dir ON walk.id = dir.src
      |  WHERE walk.hop < 4
      |)
      |SELECT id, CAST(MIN(hop) AS BIGINT) AS hop
      |FROM walk GROUP BY id ORDER BY id""".stripMargin

  /** PageRank (3 fixed-point iterations) over the bipartite
    * customer–supplier trade graph: an undirected edge per distinct
    * (o_custkey, l_suppkey) pair that ever traded. Node ids are made
    * disjoint arithmetically (customer k -> 2k, supplier k -> 2k+1). */
  def qPageRank(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val edges = Tables.orders(spark, sfDir).select($"o_orderkey", $"o_custkey")
      .join(Tables.lineitem(spark, sfDir).select($"l_orderkey", $"l_suppkey"),
        $"o_orderkey" === $"l_orderkey")
      .select(($"o_custkey" * 2).as("a"), ($"l_suppkey" * 2 + 1).as("b"))
      .distinct()
    pageRank(edges).orderBy($"id")
  }

  val qPageRankSql: String =
    """WITH e0 AS (
      |  SELECT DISTINCT o.o_custkey * 2 AS a, l.l_suppkey * 2 + 1 AS b
      |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      |), dir AS MATERIALIZED (
      |  SELECT a AS src, b AS dst FROM e0
      |  UNION ALL
      |  SELECT b AS src, a AS dst FROM e0
      |), deg AS (
      |  SELECT src, CAST(count(*) AS BIGINT) AS deg FROM dir GROUP BY src
      |), nn AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n,
      |         CAST((15 * (1000000000000 // count(*))) // 100 AS BIGINT) AS base
      |  FROM deg
      |), r0 AS (
      |  SELECT src AS id, deg, CAST(1000000000000 // n AS BIGINT) AS pr
      |  FROM deg, nn
      |), s1 AS (
      |  SELECT dst, CAST(SUM(pr // deg) AS BIGINT) AS s
      |  FROM dir JOIN r0 ON dir.src = r0.id GROUP BY dst
      |), r1 AS (
      |  SELECT deg.src AS id, deg.deg,
      |         CAST(base + (85 * s) // 100 AS BIGINT) AS pr
      |  FROM deg JOIN s1 ON deg.src = s1.dst, nn
      |), s2 AS (
      |  SELECT dst, CAST(SUM(pr // deg) AS BIGINT) AS s
      |  FROM dir JOIN r1 ON dir.src = r1.id GROUP BY dst
      |), r2 AS (
      |  SELECT deg.src AS id, deg.deg,
      |         CAST(base + (85 * s) // 100 AS BIGINT) AS pr
      |  FROM deg JOIN s2 ON deg.src = s2.dst, nn
      |), s3 AS (
      |  SELECT dst, CAST(SUM(pr // deg) AS BIGINT) AS s
      |  FROM dir JOIN r2 ON dir.src = r2.id GROUP BY dst
      |), r3 AS (
      |  SELECT deg.src AS id,
      |         CAST(base + (85 * s) // 100 AS BIGINT) AS pr
      |  FROM deg JOIN s3 ON deg.src = s3.dst, nn
      |)
      |SELECT id, pr FROM r3 ORDER BY id""".stripMargin

  /** Per-node triangle participation counts (the clustering-coefficient
    * numerator) over the exact-Jaccard >= 0.5 near-dup graph. */
  /** The near-dup similarity graph every key in this module analyzes. */
  private def neardupEdges(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Dedup.jaccardPairs(Tables.documents(spark, sfDir), "doc_id", "text",
        Seq("lang", "source"), threshold = 0.5)
      .select($"id_a".as("a"), $"id_b".as("b"))
  }

  def qTriangles(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    triangleCounts(neardupEdges(spark, sfDir)).orderBy($"id")
  }

  /** Per-node local clustering coefficient 2·tri / (deg·(deg−1)) — how
    * close each node's neighborhood is to a clique; near 1 across a
    * dedup graph means clusters are true duplicate cliques rather than
    * chains of borderline pairs. Exact cross-engine: integer triangle
    * and degree counts, one correctly-rounded division; deg < 2 pins
    * 0.0. Adds one broadcast-size left join over [[triangleCounts]]'
    * skew-oriented plan. */
  def qClusteringCoef(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // materialize the pair pipeline ONCE; both the degree aggregate and
    // the triangle join tree read the same cached edge list
    val edges = pystreamsspark.operators.Lineage.truncate(
      neardupEdges(spark, sfDir))
    val deg = edges.select($"a".as("id")).unionAll(edges.select($"b".as("id")))
      .groupBy($"id").agg(count(lit(1)).as("deg"))
    deg.join(triangleCountsOn(edges), Seq("id"), "left")
      .withColumn("n_triangles", coalesce($"n_triangles", lit(0L)))
      .withColumn("coef", when($"deg" >= 2,
        ($"n_triangles" * 2).cast("double") / ($"deg" * ($"deg" - 1)).cast("double"))
        .otherwise(lit(0.0)))
      .select($"id", $"deg", $"n_triangles", $"coef")
      .orderBy($"id")
  }

  val qClusteringCoefSql: String =
    """WITH t AS (
      |  SELECT doc_id, lang, source,
      |    list_distinct(list_filter(string_split(text, ' '), x -> x <> '')) AS toks
      |  FROM documents
      |), e AS (
      |  SELECT a.doc_id AS a, b.doc_id AS b
      |  FROM t a JOIN t b
      |    ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
      |  WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
      |        (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))) >= 0.5
      |), tri AS (
      |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
      |  FROM e e1
      |  JOIN e e2 ON e1.b = e2.a
      |  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
      |), tc AS (
      |  SELECT id, CAST(COUNT(*) AS BIGINT) AS n_tri
      |  FROM (SELECT x AS id FROM tri UNION ALL
      |        SELECT y FROM tri UNION ALL
      |        SELECT z FROM tri)
      |  GROUP BY id
      |), deg AS (
      |  SELECT id, CAST(COUNT(*) AS BIGINT) AS deg
      |  FROM (SELECT a AS id FROM e UNION ALL SELECT b FROM e)
      |  GROUP BY id
      |)
      |SELECT d.id, d.deg,
      |  CAST(COALESCE(tc.n_tri, 0) AS BIGINT) AS n_triangles,
      |  CASE WHEN d.deg >= 2
      |    THEN CAST(COALESCE(tc.n_tri, 0) * 2 AS DOUBLE) / CAST(d.deg * (d.deg - 1) AS DOUBLE)
      |    ELSE 0.0 END AS coef
      |FROM deg d LEFT JOIN tc ON tc.id = d.id
      |ORDER BY d.id""".stripMargin

  /** Degree assortativity: Pearson correlation of endpoint degrees over
    * all directed edge ends — positive when similar-degree nodes link
    * (cliquey dedup graphs), negative for hub-and-spoke. All Pearson
    * moments are exact bigint sums of integer degrees (ANSI would throw
    * on overflow, not corrupt); the final expression is two
    * correctly-rounded sqrt's and one division of identical operands —
    * cross-engine exact with zero Det machinery. One agg row out. */
  def qDegreeCorr(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // materialize the pair funnel ONCE — deg references the edge list
    // twice and pts twice more; without truncation the whole jaccard
    // funnel (tokenize + prefix join) re-executes per reference
    // (round-5 plan snapshot showed 12 parquet scans for this key)
    val edges = pystreamsspark.operators.Lineage.truncate(
      neardupEdges(spark, sfDir))
    val deg = edges.select($"a".as("id")).unionAll(edges.select($"b".as("id")))
      .groupBy($"id").agg(count(lit(1)).as("deg"))
    val both = edges.unionAll(edges.select($"b".as("a"), $"a".as("b")))
    val pts = both
      .join(deg.select($"id".as("a"), $"deg".as("x")), Seq("a"))
      .join(deg.select($"id".as("b"), $"deg".as("y")), Seq("b"))
    pts
      .agg(count(lit(1)).as("n"), sum($"x").as("sx"), sum($"y").as("sy"),
        sum($"x" * $"y").as("sxy"), sum($"x" * $"x").as("sxx"),
        sum($"y" * $"y").as("syy"))
      .select($"n".as("n_ends"),
        when($"n" * $"sxx" - $"sx" * $"sx" === 0 ||
             $"n" * $"syy" - $"sy" * $"sy" === 0, lit(null).cast("double"))
          .otherwise(($"n" * $"sxy" - $"sx" * $"sy").cast("double") /
            (sqrt(($"n" * $"sxx" - $"sx" * $"sx").cast("double")) *
             sqrt(($"n" * $"syy" - $"sy" * $"sy").cast("double"))))
          .as("assortativity"))
  }

  val qDegreeCorrSql: String =
    """WITH t AS (
      |  SELECT doc_id, lang, source,
      |    list_distinct(list_filter(string_split(text, ' '), x -> x <> '')) AS toks
      |  FROM documents
      |), e AS (
      |  SELECT a.doc_id AS a, b.doc_id AS b
      |  FROM t a JOIN t b
      |    ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
      |  WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
      |        (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))) >= 0.5
      |), deg AS (
      |  SELECT id, CAST(COUNT(*) AS BIGINT) AS deg
      |  FROM (SELECT a AS id FROM e UNION ALL SELECT b FROM e)
      |  GROUP BY id
      |), pts AS (
      |  SELECT da.deg AS x, db.deg AS y
      |  FROM (SELECT a, b FROM e UNION ALL SELECT b, a FROM e) e2
      |  JOIN deg da ON da.id = e2.a
      |  JOIN deg db ON db.id = e2.b
      |), s AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
      |    CAST(SUM(x*y) AS BIGINT) AS sxy,
      |    CAST(SUM(x*x) AS BIGINT) AS sxx, CAST(SUM(y*y) AS BIGINT) AS syy
      |  FROM pts
      |)
      |SELECT n AS n_ends,
      |  CASE WHEN n*sxx - sx*sx = 0 OR n*syy - sy*sy = 0 THEN NULL
      |    ELSE CAST(n*sxy - sx*sy AS DOUBLE) /
      |      (sqrt(CAST(n*sxx - sx*sx AS DOUBLE)) * sqrt(CAST(n*syy - sy*sy AS DOUBLE)))
      |  END AS assortativity
      |FROM s""".stripMargin

  val qTrianglesSql: String =
    """WITH t AS (
      |  SELECT doc_id, lang, source,
      |    list_distinct(list_filter(string_split(text, ' '), x -> x <> '')) AS toks
      |  FROM documents
      |), e AS (
      |  SELECT a.doc_id AS a, b.doc_id AS b
      |  FROM t a JOIN t b
      |    ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
      |  WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
      |        (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))) >= 0.5
      |), tri AS (
      |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
      |  FROM e e1
      |  JOIN e e2 ON e1.b = e2.a
      |  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
      |)
      |SELECT id, COUNT(*) AS n_triangles
      |FROM (SELECT x AS id FROM tri UNION ALL
      |      SELECT y FROM tri UNION ALL
      |      SELECT z FROM tri)
      |GROUP BY id
      |ORDER BY id""".stripMargin

  /** Synchronous label propagation (Raghavan, Albert & Kumara 2007 —
    * the near-linear community-detection baseline), made fully
    * deterministic: every node starts labeled with its own id; each
    * round it adopts the most frequent label among its NEIGHBORS, ties
    * to the smallest label; isolated update order doesn't exist because
    * updates are synchronous. A fixed 3 rounds (the published algorithm
    * stops at convergence; fixed rounds keep the oracle replay finite)
    * — each round is one edge⋈labels join + a per-node arg-max
    * aggregate, all partial+final, O(rounds) shuffles like PageRank/BFS.
    * The deterministic arg-max is max(struct(cnt, −label)) — an oracle
    * replays it as arg_max over the same ordering tuple. */
  def labelPropagation(edges: DataFrame, iters: Int = 3): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    import pystreamsspark.operators.Pregel
    val und = edges.select($"a".as("src"), $"b".as("dst"))
      .union(edges.select($"b".as("src"), $"a".as("dst")))
      .distinct()
    val nodes = und.select($"src".as("id")).distinct()
    // Pregel policy: NO per-round materialization — AQE's runtime stage
    // reuse dedupes the repeated und/labels exchanges across rounds
    // (measured: eager per-round checkpointing was 3.5x SLOWER at x10
    // because it serializes the rounds into separate jobs and
    // re-materializes the edge list).
    // CALLER CONTRACT (r14 measured): `edges` must be cheap to re-read —
    // the loop references it 2x per round plus the init (7x at iters=3),
    // and ReuseExchange does NOT dedupe the copies (each consumer needs
    // a different partitioning). Fed the raw pair pipeline, the whole
    // jaccard verify re-executed SEVEN times (7 jobs x 17 s of verify
    // CPU, q_labelprop); every caller now passes a Lineage-truncated
    // edge list. An in-loop materializeOnce(und) was tried and REVERTED:
    // it fixes the raw-plan case but its two serial checkpoint barriers
    // cost the already-truncated callers ~1 s (q_modularity 3.30->4.30).
    val (labels, _) = Pregel.iterate(
      nodes.select($"id", $"id".as("label")), iters) { (labels, _) =>
      // superstep: each node counts its neighbors' labels (the canonical
      // message agg, keyed on the edge's src as destination here since
      // und carries both directions) and adopts the deterministic
      // arg-max (max count, ties to the smallest label)
      val counts = und
        .join(labels.withColumnRenamed("id", "dst"), "dst")
        .groupBy($"src", $"label")
        .agg(count(lit(1)).as("cnt"))
      val winner = counts
        .groupBy($"src")
        .agg(max(struct($"cnt", (-$"label").as("neg"), $"label".as("lab")))
          .getField("lab").as("new_label"))
      nodes
        .join(winner.withColumnRenamed("src", "id"), Seq("id"), "left")
        .select($"id", coalesce($"new_label", $"id").as("label"))
    }
    // only the FINAL |V|-row label table is materialized, so consumers
    // that join it twice (conductance, modularity) read a checkpoint
    // instead of re-running the whole loop per reference.
    pystreamsspark.operators.Lineage.truncate(labels)
  }

  def qLabelProp(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // truncate the pair pipeline ONCE before the loop (the labelPropagation
    // caller contract — the loop reads the edge list 7x at iters=3; fed
    // raw, the block-join verify re-executed 7x: 36.7->16.3 s cold /
    // 5.1->3.1 s warm min at sf0.1, r14)
    labelPropagation(pystreamsspark.operators.Lineage.truncate(
      neardupEdges(spark, sfDir)), iters = 3).orderBy($"id")
  }

  // oracle: 3 unrolled synchronous rounds; arg_max over the encoded
  // ordering cnt*1e9 - label replays max(struct(cnt, -label)) exactly
  // (labels are doc_ids << 1e9 at every SF, so the encoding is a
  // strict order-embedding of the (cnt, -label) tuple)
  val qLabelPropSql: String =
    """WITH t AS MATERIALIZED (
      |  SELECT doc_id, lang, source,
      |    list_distinct(list_filter(string_split(text, ' '), x -> x <> '')) AS toks
      |  FROM documents
      |), e0 AS MATERIALIZED (
      |  SELECT a.doc_id AS s, b.doc_id AS d
      |  FROM t a JOIN t b
      |    ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
      |  WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
      |        (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))) >= 0.5
      |), und AS MATERIALIZED (
      |  SELECT s, d FROM e0 UNION SELECT d AS s, s AS d FROM e0
      |), nodes AS MATERIALIZED (SELECT DISTINCT s AS id FROM und),
      |l0 AS (SELECT id, id AS label FROM nodes),
      |c1 AS (SELECT u.s AS id, l.label, COUNT(*) AS cnt
      |       FROM und u JOIN l0 l ON u.d = l.id GROUP BY 1, 2),
      |a1 AS (SELECT id, arg_max(label, cnt * 1000000000 - label) AS lab FROM c1 GROUP BY id),
      |l1 AS (SELECT n.id, COALESCE(a1.lab, n.id) AS label
      |       FROM nodes n LEFT JOIN a1 ON a1.id = n.id),
      |c2 AS (SELECT u.s AS id, l.label, COUNT(*) AS cnt
      |       FROM und u JOIN l1 l ON u.d = l.id GROUP BY 1, 2),
      |a2 AS (SELECT id, arg_max(label, cnt * 1000000000 - label) AS lab FROM c2 GROUP BY id),
      |l2 AS (SELECT n.id, COALESCE(a2.lab, n.id) AS label
      |       FROM nodes n LEFT JOIN a2 ON a2.id = n.id),
      |c3 AS (SELECT u.s AS id, l.label, COUNT(*) AS cnt
      |       FROM und u JOIN l2 l ON u.d = l.id GROUP BY 1, 2),
      |a3 AS (SELECT id, arg_max(label, cnt * 1000000000 - label) AS lab FROM c3 GROUP BY id),
      |l3 AS (SELECT n.id, COALESCE(a3.lab, n.id) AS label
      |       FROM nodes n LEFT JOIN a3 ON a3.id = n.id)
      |SELECT id, label FROM l3 ORDER BY id""".stripMargin

  /** Bounded-round k-core peeling (k=3, 3 synchronous rounds) over the
    * customer–supplier trade graph: repeatedly delete nodes of degree
    * < k; what survives (here: after 3 fixed rounds — the bounded-round
    * discipline of pageRank/labelProp, so the oracle can unroll it) is
    * the dense "core" a fraud/abuse pipeline inspects first. Peeling is
    * the standard distributed k-core algorithm (Montresor et al.,
    * "Distributed k-Core Decomposition", PODC 2011 — public work):
    * each round is one degree agg plus two semi joins on the edge list,
    * O(rounds) shuffles, no driver materialization; survivors' final
    * in-core degrees are integer-exact.
    *
    * The edge list is materialized once up front (Lineage.truncate) —
    * every round references it twice and re-deriving the orders ⋈
    * lineitem distinct per reference would dominate the cost. */
  def kCore(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    import pystreamsspark.operators.Pregel
    // Pregel with the EDGE SET as the iterated state; policy = eager
    // truncation every round (each round shrinks the edge list, and the
    // next round's two degree references + semi joins must reuse the
    // pruned set instead of replaying the whole peel history)
    val e0 = pystreamsspark.operators.Lineage.truncate(
      edges.select(col("a"), col("b")))
    val (e, _) = Pregel.iterate(e0, rounds,
      Pregel.Policy(truncateEvery = 1)) { (e, _) =>
      val deg = e.select(col("a").as("id"))
        .unionAll(e.select(col("b").as("id")))
        .groupBy(col("id")).agg(count(lit(1)).as("deg"))
      val keep = deg.filter(col("deg") >= k).select(col("id"))
      e.join(keep.select(col("id").as("a")), Seq("a"), "left_semi")
        .join(keep.select(col("id").as("b")), Seq("b"), "left_semi")
        .select(col("a"), col("b"))
    }
    e.select(col("a").as("id"))
      .unionAll(e.select(col("b").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("deg"))
  }

  def qKcore(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val edges = Tables.orders(spark, sfDir).select($"o_orderkey", $"o_custkey")
      .join(Tables.lineitem(spark, sfDir).select($"l_orderkey", $"l_suppkey"),
        $"o_orderkey" === $"l_orderkey")
      .select(($"o_custkey" * 2).as("a"), ($"l_suppkey" * 2 + 1).as("b"))
      .distinct()
    kCore(edges, k = 3, rounds = 3).orderBy($"id")
  }

  // oracle: the same 3 peel rounds unrolled — degree, keep-set, filter —
  // then the survivors' final degrees; all integer counts
  val qKcoreSql: String =
    """WITH e0 AS MATERIALIZED (
      |  SELECT DISTINCT o.o_custkey * 2 AS a, l.l_suppkey * 2 + 1 AS b
      |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      |), d1 AS (
      |  SELECT id, COUNT(*) AS deg FROM (
      |    SELECT a AS id FROM e0 UNION ALL SELECT b AS id FROM e0)
      |  GROUP BY id),
      |k1 AS (SELECT id FROM d1 WHERE deg >= 3),
      |e1 AS MATERIALIZED (
      |  SELECT a, b FROM e0
      |  WHERE a IN (SELECT id FROM k1) AND b IN (SELECT id FROM k1)),
      |d2 AS (
      |  SELECT id, COUNT(*) AS deg FROM (
      |    SELECT a AS id FROM e1 UNION ALL SELECT b AS id FROM e1)
      |  GROUP BY id),
      |k2 AS (SELECT id FROM d2 WHERE deg >= 3),
      |e2 AS MATERIALIZED (
      |  SELECT a, b FROM e1
      |  WHERE a IN (SELECT id FROM k2) AND b IN (SELECT id FROM k2)),
      |d3 AS (
      |  SELECT id, COUNT(*) AS deg FROM (
      |    SELECT a AS id FROM e2 UNION ALL SELECT b AS id FROM e2)
      |  GROUP BY id),
      |k3 AS (SELECT id FROM d3 WHERE deg >= 3),
      |e3 AS (
      |  SELECT a, b FROM e2
      |  WHERE a IN (SELECT id FROM k3) AND b IN (SELECT id FROM k3))
      |SELECT id, CAST(COUNT(*) AS BIGINT) AS deg FROM (
      |  SELECT a AS id FROM e3 UNION ALL SELECT b AS id FROM e3)
      |GROUP BY id ORDER BY id""".stripMargin

  /** Bounded-round single-source shortest paths (Bellman-Ford, 3
    * synchronous relaxation rounds — the distributed SSSP primitive;
    * with integer edge weights every distance is exact and the oracle
    * can unroll the rounds). Each round is one join of the (small)
    * distance table against the materialized adjacency plus a min
    * partial+final agg — the same O(rounds)-shuffles shape as
    * [[bfsHops]], which is the unit-weight special case. */
  def ssspBounded(edges: DataFrame, seeds: DataFrame, rounds: Int): DataFrame = {
    import pystreamsspark.operators.Pregel
    val dir = Pregel.materializeOnce(
      edges.select(col("a").as("src"), col("b").as("dst"), col("w"))
        .unionAll(edges.select(col("b").as("src"), col("a").as("dst"), col("w"))))
    // truncate EVERY round (r14): same double-reference blowup as
    // [[bfsHops]] (relaxation join + self-union → 2^rounds re-execution
    // without it; q_sssp read 412 MB of blocks for a 13 MB input); the
    // distance table is ≤|V| narrow rows, checkpointing it is cheap.
    // LAZY (r15): see [[bfsHops]] — removes the per-round serial
    // barrier jobs (21→18) at unchanged task time; the 3-variant
    // interleaved A/B measured eager-1 / lazy-1 / eager-2 within host
    // noise at 32 cores.
    val (dist, _) = Pregel.iterate(
      seeds.select(col("id"), lit(0L).as("dist")), rounds,
      Pregel.Policy(truncateEvery = 1, eagerTruncate = false)) { (dist, _) =>
      val relaxed = dist.join(dir, dist("id") === dir("src"))
        .select(col("dst").as("id"), (col("dist") + col("w")).as("dist"))
      dist.unionAll(relaxed)
        .groupBy(col("id")).agg(min(col("dist")).as("dist"))
    }
    dist
  }

  /** Weighted SSSP over the trade graph: edge weight = the pair's
    * minimum traded quantity (integer-valued), seeds = every 10th
    * supplier at distance 0, 3 relaxation rounds. */
  def qSssp(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val edges = Tables.orders(spark, sfDir).select($"o_orderkey", $"o_custkey")
      .join(Tables.lineitem(spark, sfDir)
          .select($"l_orderkey", $"l_suppkey", $"l_quantity"),
        $"o_orderkey" === $"l_orderkey")
      .groupBy(($"o_custkey" * 2).as("a"), ($"l_suppkey" * 2 + 1).as("b"))
      .agg(min($"l_quantity").cast("long").as("w"))
    val seeds = Tables.supplier(spark, sfDir)
      .filter($"s_suppkey" % 10 === 0)
      .select(($"s_suppkey" * 2 + 1).as("id"))
    ssspBounded(edges, seeds, rounds = 3).orderBy($"id")
  }

  // oracle: 3 unrolled relaxation rounds over the same weighted
  // adjacency; min over exact BIGINT path sums
  val qSsspSql: String =
    """WITH e0 AS MATERIALIZED (
      |  SELECT o.o_custkey * 2 AS a, l.l_suppkey * 2 + 1 AS b,
      |    CAST(MIN(l.l_quantity) AS BIGINT) AS w
      |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      |  GROUP BY 1, 2
      |), dir AS MATERIALIZED (
      |  SELECT a AS src, b AS dst, w FROM e0
      |  UNION ALL
      |  SELECT b AS src, a AS dst, w FROM e0
      |), d0 AS (
      |  SELECT s_suppkey * 2 + 1 AS id, CAST(0 AS BIGINT) AS dist
      |  FROM supplier WHERE s_suppkey % 10 = 0
      |), d1 AS (
      |  SELECT id, CAST(MIN(dist) AS BIGINT) AS dist FROM (
      |    SELECT id, dist FROM d0
      |    UNION ALL
      |    SELECT dir.dst AS id, d0.dist + dir.w AS dist
      |    FROM d0 JOIN dir ON d0.id = dir.src)
      |  GROUP BY id
      |), d2 AS (
      |  SELECT id, CAST(MIN(dist) AS BIGINT) AS dist FROM (
      |    SELECT id, dist FROM d1
      |    UNION ALL
      |    SELECT dir.dst AS id, d1.dist + dir.w AS dist
      |    FROM d1 JOIN dir ON d1.id = dir.src)
      |  GROUP BY id
      |), d3 AS (
      |  SELECT id, CAST(MIN(dist) AS BIGINT) AS dist FROM (
      |    SELECT id, dist FROM d2
      |    UNION ALL
      |    SELECT dir.dst AS id, d2.dist + dir.w AS dist
      |    FROM d2 JOIN dir ON d2.id = dir.src)
      |  GROUP BY id
      |)
      |SELECT id, dist FROM d3 ORDER BY id""".stripMargin

  /** Community-quality eval: CONDUCTANCE of each label-propagation
    * community over the near-dup graph — cut(c) / min(vol(c), 2m−vol(c)),
    * the standard "how leaky is this cluster" score (low = well-
    * separated). Connected components would trivially score 0 (no cut
    * edges cross components); labelprop can split a component, so its
    * conductance is the honest eval of the community structure, the same
    * way q_cluster_purity audits k-means and q_lsh_eval audits banding.
    * vol and cut are integer aggregates over the label-stamped directed
    * edge list; one correctly-rounded division per community. */
  def qConductance(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val edges = pystreamsspark.operators.Lineage.truncate(
      neardupEdges(spark, sfDir))
    val labels = labelPropagation(edges, iters = 3)
    val und = edges.select($"a".as("src"), $"b".as("dst"))
      .union(edges.select($"b".as("src"), $"a".as("dst")))
      .distinct()
    val withLab = und
      .join(labels.select($"id".as("src"), $"label".as("ls")), "src")
      .join(labels.select($"id".as("dst"), $"label".as("ld")), "dst")
    val byCom = withLab.groupBy($"ls".as("label"))
      .agg(count(lit(1)).as("vol"),
        sum(when($"ls" =!= $"ld", 1L).otherwise(0L)).as("cut"))
    val nNodes = labels.groupBy($"label").agg(count(lit(1)).as("n_nodes"))
    val m2 = und.agg(count(lit(1)).as("m2"))
    byCom.join(nNodes, "label").crossJoin(broadcast(m2))
      .filter($"n_nodes" >= 2)
      .select($"label", $"n_nodes", $"vol", $"cut",
        when(least($"vol", $"m2" - $"vol") > 0,
          $"cut".cast("double") / least($"vol", $"m2" - $"vol").cast("double"))
          .otherwise(lit(0.0)).as("conductance"))
      .orderBy($"label")
  }

  // oracle: the labelprop 3-round replay (same CTE chain as
  // qLabelPropSql) extended with the label-stamped edge aggregates
  val qConductanceSql: String =
    """WITH t AS MATERIALIZED (
      |  SELECT doc_id, lang, source,
      |    list_distinct(list_filter(string_split(text, ' '), x -> x <> '')) AS toks
      |  FROM documents
      |), e0 AS MATERIALIZED (
      |  SELECT a.doc_id AS s, b.doc_id AS d
      |  FROM t a JOIN t b
      |    ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
      |  WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
      |        (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))) >= 0.5
      |), und AS MATERIALIZED (
      |  SELECT s, d FROM e0 UNION SELECT d AS s, s AS d FROM e0
      |), nodes AS MATERIALIZED (SELECT DISTINCT s AS id FROM und),
      |l0 AS (SELECT id, id AS label FROM nodes),
      |c1 AS (SELECT u.s AS id, l.label, COUNT(*) AS cnt
      |       FROM und u JOIN l0 l ON u.d = l.id GROUP BY 1, 2),
      |a1 AS (SELECT id, arg_max(label, cnt * 1000000000 - label) AS lab FROM c1 GROUP BY id),
      |l1 AS (SELECT n.id, COALESCE(a1.lab, n.id) AS label
      |       FROM nodes n LEFT JOIN a1 ON a1.id = n.id),
      |c2 AS (SELECT u.s AS id, l.label, COUNT(*) AS cnt
      |       FROM und u JOIN l1 l ON u.d = l.id GROUP BY 1, 2),
      |a2 AS (SELECT id, arg_max(label, cnt * 1000000000 - label) AS lab FROM c2 GROUP BY id),
      |l2 AS (SELECT n.id, COALESCE(a2.lab, n.id) AS label
      |       FROM nodes n LEFT JOIN a2 ON a2.id = n.id),
      |c3 AS (SELECT u.s AS id, l.label, COUNT(*) AS cnt
      |       FROM und u JOIN l2 l ON u.d = l.id GROUP BY 1, 2),
      |a3 AS (SELECT id, arg_max(label, cnt * 1000000000 - label) AS lab FROM c3 GROUP BY id),
      |l3 AS (SELECT n.id, COALESCE(a3.lab, n.id) AS label
      |       FROM nodes n LEFT JOIN a3 ON a3.id = n.id),
      |wl AS (
      |  SELECT la.label AS ls, lb.label AS ld
      |  FROM und u
      |  JOIN l3 la ON la.id = u.s
      |  JOIN l3 lb ON lb.id = u.d),
      |bc AS (
      |  SELECT ls AS label, CAST(COUNT(*) AS BIGINT) AS vol,
      |    CAST(SUM(CASE WHEN ls <> ld THEN 1 ELSE 0 END) AS BIGINT) AS cut
      |  FROM wl GROUP BY 1),
      |nn AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS n_nodes
      |       FROM l3 GROUP BY 1),
      |mm AS (SELECT CAST(COUNT(*) AS BIGINT) AS m2 FROM und)
      |SELECT bc.label, nn.n_nodes, bc.vol, bc.cut,
      |  CASE WHEN LEAST(vol, m2 - vol) > 0
      |       THEN CAST(cut AS DOUBLE) / CAST(LEAST(vol, m2 - vol) AS DOUBLE)
      |       ELSE 0.0 END AS conductance
      |FROM bc JOIN nn ON nn.label = bc.label CROSS JOIN mm
      |WHERE nn.n_nodes >= 2
      |ORDER BY bc.label""".stripMargin

  /** Newman MODULARITY of the label-propagation communities (Newman &
    * Girvan 2004) — conductance's global sibling: Q = Σ_c [intra_c/2m −
    * (vol_c/2m)²], how much denser the communities are than a random
    * rewiring with the same degrees. Exactness: the global score is
    * carried as the INTEGER numerator Q·(2m)² = Σ(intra_c·2m − vol_c²)
    * (exact while 2m < ~3e9 — far beyond this graph; flip to decimal
    * beyond that), and each community's float contribution is one fixed
    * IEEE tree over its own integer counts. Same one-labeled-edge-list
    * shape as q_conductance: tiny per-community aggregate, broadcast
    * totals. */
  def qModularity(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val edges = pystreamsspark.operators.Lineage.truncate(
      neardupEdges(spark, sfDir))
    val labels = labelPropagation(edges, iters = 3)
    val und = edges.select($"a".as("src"), $"b".as("dst"))
      .union(edges.select($"b".as("src"), $"a".as("dst")))
      .distinct()
    val withLab = und
      .join(labels.select($"id".as("src"), $"label".as("ls")), "src")
      .join(labels.select($"id".as("dst"), $"label".as("ld")), "dst")
    val byCom = pystreamsspark.operators.Lineage.truncate(
      withLab.groupBy($"ls".as("label"))
        .agg(count(lit(1)).as("vol"),
          sum(when($"ls" === $"ld", 1L).otherwise(0L)).as("intra")))
    val m2 = byCom.agg(sum($"vol").as("m2"))
    val qnum = byCom.crossJoin(broadcast(m2))
      .agg(sum($"intra" * $"m2" - $"vol" * $"vol").as("q_scaled"))
    val m2d = $"m2".cast("double")
    byCom.crossJoin(broadcast(m2)).crossJoin(broadcast(qnum))
      .select($"label", $"vol", $"intra",
        ($"intra".cast("double") / m2d -
          ($"vol".cast("double") / m2d) * ($"vol".cast("double") / m2d))
          .as("contrib"),
        $"q_scaled", $"m2")
      .orderBy($"label")
  }

  // oracle: labelprop replay + per-community edge aggregates; the global
  // numerator is an exact BIGINT sum
  val qModularitySql: String =
    """WITH t AS MATERIALIZED (
      |  SELECT doc_id, lang, source,
      |    list_distinct(list_filter(string_split(text, ' '), x -> x <> '')) AS toks
      |  FROM documents
      |), e0 AS MATERIALIZED (
      |  SELECT a.doc_id AS s, b.doc_id AS d
      |  FROM t a JOIN t b
      |    ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
      |  WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
      |        (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))) >= 0.5
      |), und AS MATERIALIZED (
      |  SELECT s, d FROM e0 UNION SELECT d AS s, s AS d FROM e0
      |), nodes AS MATERIALIZED (SELECT DISTINCT s AS id FROM und),
      |l0 AS (SELECT id, id AS label FROM nodes),
      |c1 AS (SELECT u.s AS id, l.label, COUNT(*) AS cnt
      |       FROM und u JOIN l0 l ON u.d = l.id GROUP BY 1, 2),
      |a1 AS (SELECT id, arg_max(label, cnt * 1000000000 - label) AS lab FROM c1 GROUP BY id),
      |l1 AS (SELECT n.id, COALESCE(a1.lab, n.id) AS label
      |       FROM nodes n LEFT JOIN a1 ON a1.id = n.id),
      |c2 AS (SELECT u.s AS id, l.label, COUNT(*) AS cnt
      |       FROM und u JOIN l1 l ON u.d = l.id GROUP BY 1, 2),
      |a2 AS (SELECT id, arg_max(label, cnt * 1000000000 - label) AS lab FROM c2 GROUP BY id),
      |l2 AS (SELECT n.id, COALESCE(a2.lab, n.id) AS label
      |       FROM nodes n LEFT JOIN a2 ON a2.id = n.id),
      |c3 AS (SELECT u.s AS id, l.label, COUNT(*) AS cnt
      |       FROM und u JOIN l2 l ON u.d = l.id GROUP BY 1, 2),
      |a3 AS (SELECT id, arg_max(label, cnt * 1000000000 - label) AS lab FROM c3 GROUP BY id),
      |l3 AS (SELECT n.id, COALESCE(a3.lab, n.id) AS label
      |       FROM nodes n LEFT JOIN a3 ON a3.id = n.id),
      |wl AS (
      |  SELECT la.label AS ls, lb.label AS ld
      |  FROM und u
      |  JOIN l3 la ON la.id = u.s
      |  JOIN l3 lb ON lb.id = u.d),
      |bc AS (
      |  SELECT ls AS label, CAST(COUNT(*) AS BIGINT) AS vol,
      |    CAST(SUM(CASE WHEN ls = ld THEN 1 ELSE 0 END) AS BIGINT) AS intra
      |  FROM wl GROUP BY 1),
      |mm AS (SELECT CAST(SUM(vol) AS BIGINT) AS m2 FROM bc),
      |qn AS (
      |  SELECT CAST(SUM(intra * m2 - vol * vol) AS BIGINT) AS q_scaled
      |  FROM bc CROSS JOIN mm)
      |SELECT label, vol, intra,
      |  CAST(intra AS DOUBLE) / CAST(m2 AS DOUBLE)
      |    - (CAST(vol AS DOUBLE) / CAST(m2 AS DOUBLE))
      |      * (CAST(vol AS DOUBLE) / CAST(m2 AS DOUBLE)) AS contrib,
      |  q_scaled, m2
      |FROM bc CROSS JOIN mm CROSS JOIN qn
      |ORDER BY label""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_modularity"  -> (qModularity _),
    "q_conductance" -> (qConductance _),
    "q_sssp"      -> (qSssp _),
    "q_kcore"     -> (qKcore _),
    "q_triangles" -> (qTriangles _),
    "q_pagerank"  -> (qPageRank _),
    "q_bfs_hops"  -> (qBfsHops _),
    "q_labelprop" -> (qLabelProp _),
    "q_clustering_coef" -> (qClusteringCoef _),
    "q_degree_corr"     -> (qDegreeCorr _))

  val oracle: Map[String, String] = Map(
    "q_modularity"  -> qModularitySql,
    "q_conductance" -> qConductanceSql,
    "q_sssp"      -> qSsspSql,
    "q_kcore"     -> qKcoreSql,
    "q_triangles" -> qTrianglesSql,
    "q_labelprop" -> qLabelPropSql,
    "q_pagerank"  -> qPageRankSql,
    "q_bfs_hops"  -> qBfsHopsSql,
    "q_clustering_coef" -> qClusteringCoefSql,
    "q_degree_corr"     -> qDegreeCorrSql)
}
