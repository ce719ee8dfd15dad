package pystreamsspark.llm

import org.apache.spark.sql.functions._
import pystreamsspark.SparkSpec

/** Unit + property tests for the LLM-pipeline operators. */
class LlmOpsSpec extends SparkSpec {

  private def docsDf(rows: Seq[(Long, String)]) = {
    val s = spark
    import s.implicits._
    rows.toDF("doc_id", "text")
  }

  test("exact dedup keeps min id per normalized text") {
    val df = docsDf(Seq(
      (1L, "a b c"), (2L, "A B C  "), (3L, "x y"), (4L, "a b c")))
    // norm("A B C  ") = "a b c" — ids 1,2,4 collapse
    val out = Dedup.exact(df, "doc_id", "text")
      .select("keep_id", "n_copies").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out === Set((1L, 3L), (3L, 1L)))
  }

  test("shingles: contiguous k-grams, distinct") {
    val df = docsDf(Seq((1L, "a b c d")))
    val sh = df.select(Dedup.shingles(col("text"), 3).as("sh"))
      .collect()(0).getSeq[String](0)
    assert(sh.toSet === Set("a b c", "b c d"))
  }

  test("shingles: empty/whitespace-only text yields an EMPTY array (ShingleHash parity)") {
    pystreamsspark.functions.VectorExpressions.register(spark)
    val df = docsDf(Seq((1L, ""), (2L, "   "), (3L, "a")))
    val rows = df.select(
        Dedup.shingles(col("text"), 3).as("sh"),
        call_function("shingle_hash",
          TextOps.tokens(col("text")), lit(3)).as("nat"))
      .collect()
    for (r <- rows) {
      val hof = r.getSeq[String](0)
      val nat = r.getSeq[Long](1)
      assert(hof.size == nat.size, s"HOF ${hof.size} vs native ${nat.size}")
    }
    assert(rows(0).getSeq[String](0).isEmpty && rows(1).getSeq[String](0).isEmpty)
  }

  test("minhash jaccard estimate within tolerance of exact") {
    pystreamsspark.functions.VectorExpressions.register(spark)
    val a = "the quick brown fox jumps over the lazy dog today again"
    val b = "the quick brown fox jumps over the lazy cat today again"
    val df = docsDf(Seq((1L, a), (2L, b)))
    val sigs = df.select(
        Dedup.minHashSignature(Dedup.shingles(col("text"), 2), 128).as("sig"))
      .collect().map(_.getSeq[Long](0))
    val est = sigs(0).zip(sigs(1)).count { case (x, y) => x == y }.toDouble / 128
    // exact jaccard of 2-shingle sets
    def sh(t: String) = t.split(" ").sliding(2).map(_.mkString(" ")).toSet
    val exact = sh(a).intersect(sh(b)).size.toDouble / sh(a).union(sh(b)).size
    assert(math.abs(est - exact) < 0.15, s"est=$est exact=$exact")
  }

  test("minhash-LSH finds identical and near-identical docs") {
    val base = (1L to 20L).map(i => (i, s"token$i " * 10 + (1 to 12).map(j => s"w${(i * 7 + j) % 40}").mkString(" ")))
    val dups = Seq((101L, base(0)._2), (102L, base(1)._2 + " extra"))
    val out = Dedup.minHashLsh(docsDf(base ++ dups), "doc_id", "text",
        k = 3, numHashes = 32, bands = 8, threshold = 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out.contains((1L, 101L)))
    assert(out.contains((2L, 102L)))
  }

  test("minhash signature invariant under input partitioning") {
    pystreamsspark.functions.VectorExpressions.register(spark)
    val rows = (1L to 10L).map(i => (i, s"alpha beta gamma delta w$i"))
    val one = docsDf(rows).repartition(1)
    val many = docsDf(rows).repartition(7)
    def sigs(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id"),
          Dedup.minHashSignature(Dedup.shingles(col("text"), 2), 16).as("sig"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(sigs(one) === sigs(many))
  }

  test("simhash: identical texts equal, near texts close in hamming") {
    val df = docsDf(Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again today"),
      (2L, "the quick brown fox jumps over the lazy dog again and again today"),
      (3L, "the quick brown fox jumps over the lazy cat again and again today"),
      (4L, "completely different words entirely unrelated content here now")))
    val m = df.select(col("doc_id"), Dedup.simHash("text").as("sh"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m(1L) === m(2L))
    assert(java.lang.Long.bitCount(m(1L) ^ m(3L)) < 16)
    assert(java.lang.Long.bitCount(m(1L) ^ m(4L)) >
      java.lang.Long.bitCount(m(1L) ^ m(3L)))
  }

  test("cosine: exact on hand vectors; knn ranks by similarity") {
    val s = spark
    import s.implicits._
    val emb = Seq(
      (0L, Array(1f, 0f, 0f)),
      (1L, Array(1f, 0f, 0f)),
      (2L, Array(0.6f, 0.8f, 0f)),
      (3L, Array(0f, 0f, 1f)),
      (4L, Array(-1f, 0f, 0f))).toDF("vec_id", "embedding")
    val probe = emb.filter($"vec_id" === 0).select($"embedding".as("probe"))
    val out = Similarity.knn(emb, "vec_id", "embedding", probe, 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(out.map(_._1).toSeq === Seq(0L, 1L, 2L, 3L, 4L))
    assert(math.abs(out(2)._2 - 0.6) < 1e-6)
    assert(math.abs(out(3)._2 - 0.0) < 1e-12)
    assert(math.abs(out(4)._2 + 1.0) < 1e-12)
  }

  test("lsh buckets: identical vectors share bucket; ann finds planted dup") {
    val s = spark
    import s.implicits._
    val vecs = (0 until 50).map(i =>
      (i.toLong, Array.tabulate(16)(j => math.sin(i * 16 + j).toFloat)))
    val planted = vecs.take(5).map { case (id, v) => (id + 1000L, v) }
    val emb = (vecs ++ planted).toDF("vec_id", "embedding")
    val pairs = Similarity.annPairs(emb, "vec_id", "embedding", planes = 6, threshold = 0.99)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    (0 until 5).foreach(i => assert(pairs.contains((i.toLong, i + 1000L))))
  }

  test("fingerprint is order-sensitive and content-deterministic") {
    val df = docsDf(Seq((1L, "a b c"), (2L, "c b a"), (3L, "a b c")))
    val m = df.select(col("doc_id"), TextOps.fingerprint(col("text")).as("f"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m(1L) === m(3L))
    assert(m(1L) !== m(2L))
  }

  test("quality features on a known doc") {
    val df = docsDf(Seq((1L, "the cat the cat runs")))
    val feats = TextOps.qualityFeatures(col("text"))
    val r = df.select(feats.map { case (n, c) => c.as(n) }: _*).collect()(0)
    assert(r.getAs[Int]("n_tokens") === 5)
    assert(r.getAs[Int]("n_uniq_tokens") === 3)
    assert(r.getAs[Int]("n_stopwords") === 2)
    assert(r.getAs[Long]("sum_token_len") === 3 + 3 + 3 + 3 + 4)
  }

  test("subword tokens split letter/digit runs") {
    val df = docsDf(Seq((1L, "Hello42 world")))
    val toks = df.select(TextOps.subwordTokens(col("text")).as("t"))
      .collect()(0).getSeq[String](0)
    assert(toks === Seq("hello", "42", "world"))
  }

  test("multimodal: stub decode plumbing (schema, explode shape)") {
    val s = spark
    import s.implicits._
    val df = docsDf(Seq((1L, "abcdef"), (2L, "xy")))
      .select($"doc_id", $"text".cast("binary").as("payload"))
    val meta = Multimodal.withMeta(df, "doc_id", "payload")
    assert(meta.columns.toSeq === Seq("doc_id", "width", "height", "n_frames", "format"))
    val m = meta.collect().map(r => r.getLong(0) -> r.getInt(3)).toMap
    assert(m(1L) === 7)  // len 6 -> nFrames 6%100+1
    assert(m(2L) === 3)
    val frames = Multimodal.sampleFrames(df, "doc_id", "payload", everyN = 2)
    assert(frames.filter(_.id == 1L).count() === 4) // frames 0,2,4,6
    assert(frames.collect().forall(_.feature.length == 8))
    val resized = Multimodal.resizeMeta(df, "doc_id", "payload", maxDim = 500)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Int]("out_width"), r.getAs[Int]("out_height"))).toMap
    // every output dimension respects the cap and scaling is uniform
    assert(resized.values.forall { case (w, h) => w <= 500 && h <= 500 })
  }

  test("connected components: chains collapse to min-label clusters") {
    val s = spark
    import s.implicits._
    // components: {1,2,3,4} (a chain), {10,11}, isolated pairs via edges only
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (20L, 21L))
      .toDF("id_a", "id_b")
    val cc = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc(1L) === 1L && cc(2L) === 1L && cc(3L) === 1L && cc(4L) === 1L)
    assert(cc(10L) === 10L && cc(11L) === 10L)
    assert(cc(20L) === 20L && cc(21L) === 20L)
    // end-to-end: minhash pairs -> clusters keep the original doc id
    val docs = docsDf((1L to 6L).map(i =>
      (i, s"alpha beta gamma delta epsilon zeta w$i x$i y$i z$i")))
    val mutated = docs.select(($"doc_id" + 100L).as("doc_id"),
      concat($"text", lit(" extra")).as("text"))
    val lshPairs = Dedup.minHashLsh(docs.unionByName(mutated), "doc_id", "text",
      k = 2, numHashes = 32, bands = 8, threshold = 0.5)
    val clusters = Dedup.connectedComponents(lshPairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (1L to 6L).foreach { i =>
      assert(clusters.get(i + 100L).forall(_ <= i),
        s"mutant ${i + 100} should label to an original, got ${clusters.get(i + 100L)}")
    }
  }

  test("large-star/small-star CC == label-propagation CC; fewer rounds on a deep chain") {
    val s = spark
    import s.implicits._
    // 64-node chain: diameter 63 — label propagation needs ~log-capped
    // maxIter rounds of distance-1 hops; star rounds double the jump
    val chain = (0L until 63L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val (starLabels, rounds) = Dedup.ccStarWithRounds(chain)
    val star = starLabels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(star.size == 64 && star.values.forall(_ == 0L),
      s"chain must collapse to root 0, got ${star.toSeq.sortBy(_._1).take(8)}...")
    assert(rounds <= 10, s"star CC took $rounds rounds on a 64-chain (expected O(log))")
    // equivalence with the propagation variant on an arbitrary mixed graph
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (20L, 21L),
      (5L, 9L), (9L, 6L), (6L, 5L), (30L, 31L), (31L, 32L), (30L, 32L))
      .toDF("id_a", "id_b")
    val prop = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val star2 = Dedup.connectedComponentsStar(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(star2 == prop)
  }

  test("prefix-filtered Jaccard join == all-pairs block join (exact recall, real corpus)") {
    val s = spark
    import s.implicits._
    val docs = pystreamsspark.io.Tables.documents(spark, "/root/testdata/sf0.001")
    def asSet(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b", "n_inter", "n_union").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3))).toSet
    for (t <- Seq(0.3, 0.5, 0.8)) {
      val block = asSet(Dedup.jaccardPairsBlock(
        docs, "doc_id", "text", Seq("lang", "source"), t))
      val prefix = asSet(Dedup.jaccardPairsPrefix(
        docs, "doc_id", "text", Seq("lang", "source"), t))
      assert(prefix == block,
        s"t=$t: prefix path lost ${(block -- prefix).size} pairs / " +
          s"invented ${(prefix -- block).size}")
      assert(block.nonEmpty, s"t=$t parity is vacuous")
    }
  }

  test("containment: directional — quote inside page found, reverse direction not") {
    val s = spark
    import s.implicits._
    val page = (1 to 40).map(i => s"w$i").mkString(" ")
    val quote = (5 to 12).map(i => s"w$i").mkString(" ") // fully inside page
    val other = "x1 x2 x3 x4 x5"
    val docs = Seq((1L, page, "en"), (2L, quote, "en"), (3L, other, "en"))
      .toDF("doc_id", "text", "lang")
    // both physical plans must agree on the directional semantics
    for (strategy <- Seq("block", "prefix")) {
      val out = Dedup.containmentPairs(docs, "doc_id", "text", Seq("lang"), 0.9,
          strategy = strategy)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(out.contains((2L, 1L)), s"$strategy: quote (2) is contained in page (1)")
      assert(!out.contains((1L, 2L)), s"$strategy: page is NOT contained in quote")
      assert(!out.exists(p => p._1 == 3L || p._2 == 3L), s"$strategy: stray doc 3")
    }
  }

  test("prefix-filtered containment join == all-pairs block join (exact recall, real corpus)") {
    val docs = pystreamsspark.io.Tables.documents(spark, "/root/testdata/sf0.001")
    def asSet(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b", "n_a", "n_inter").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3))).toSet
    for (t <- Seq(0.5, 0.8, 0.9, 1.0)) {
      val block = asSet(Dedup.containmentPairsBlock(
        docs, "doc_id", "text", Seq("lang", "source"), t))
      val prefix = asSet(Dedup.containmentPairsPrefix(
        docs, "doc_id", "text", Seq("lang", "source"), t))
      assert(prefix == block,
        s"t=$t: prefix path lost ${(block -- prefix).size} pairs / " +
          s"invented ${(prefix -- block).size}")
      assert(block.nonEmpty, s"t=$t parity is vacuous")
    }
  }

  test("CC uses (and survives) a RELIABLE checkpoint dir when one is configured") {
    val s = spark
    import s.implicits._
    val sc = spark.sparkContext
    assert(sc.getCheckpointDir.isEmpty, "test assumes no checkpoint dir pre-set")
    val dir = java.nio.file.Files.createTempDirectory("graft-cc-chk").toString
    sc.setCheckpointDir(dir)
    try {
      assert(sc.getCheckpointDir.isDefined)
      val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (20L, 21L),
        (21L, 22L)).toDF("id_a", "id_b")
      val expected = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
        10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L)
      val prop = Dedup.connectedComponents(pairs)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val star = Dedup.connectedComponentsStar(pairs)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(prop == expected)
      assert(star == expected)
      // the reliable path actually wrote checkpoint data
      val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .filter(java.nio.file.Files.isRegularFile(_)).count()
      assert(wrote > 0, "reliable checkpoint dir is empty — dispatch fell back to local")
    } finally {
      sc.setCheckpointDir(null) // restore the local-checkpoint default
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("neardupPrune keeps unclustered docs and exactly one representative per cluster") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "a b c d e f", "en"), (2L, "a b c d e f", "en"), // dup pair -> keep 1
      (3L, "a b c d e g", "en"),                            // near-dup of 1,2 -> same cluster
      (4L, "x y z q r s", "en"))                            // unclustered -> kept
      .toDF("doc_id", "text", "lang")
    val kept = Dedup.neardupPrune(docs, "doc_id", "text", Seq("lang"), 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(1L, 4L), s"got $kept")
  }

  test("simHashBulk == scalar simHash sketch for every doc (incl. empty text)") {
    val s = spark
    import s.implicits._
    val docs = pystreamsspark.io.Tables.documents(spark, "/root/testdata/sf0.001")
      .select($"doc_id", $"text")
      .unionByName(Seq((900001L, ""), (900002L, "   ")).toDF("doc_id", "text"))
    val scalar = docs.select($"doc_id", Dedup.simHash("text").as("sh"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val bulk = Dedup.simHashBulk(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(bulk == scalar)
  }

  test("contamination: planted copy flagged, ubiquitous grams banned, disjoint docs clean") {
    val s = spark
    import s.implicits._
    val common = "the quick brown fox" // appears in EVERY train doc -> df-banned
    val train = (1L to 30L).map(i =>
      (i, s"$common unique$i phrase$i tail$i alpha$i beta$i gamma$i")).toDF("doc_id", "text")
    val test = Seq(
      (101L, "unique7 phrase7 tail7 alpha7 beta7 gamma7"), // copy of train 7's tail
      (102L, "totally disjoint words here nothing shared"),
      (103L, common)) // ONLY banned grams -> must not pair
      .toDF("doc_id", "text")
    val out = Contamination.contaminationPairs(train, test, "doc_id", "text",
        n = 3, minShared = 2, maxDf = 10L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.exists { case (te, tr, n) => te == 101L && tr == 7L && n >= 2 })
    assert(!out.exists(_._1 == 102L))
    assert(!out.exists(_._1 == 103L), "df-banned grams must not create pairs")
  }

  test("asof join: carries most recent earlier value") {
    val s = spark
    import s.implicits._
    val left = Seq((1L, 10L, 100L), (2L, 10L, 205L), (3L, 20L, 150L))
      .toDF("event_id", "user_id", "ts")
    val right = Seq((10L, 100L, 1.0), (10L, 200L, 2.0), (20L, 300L, 3.0))
      .toDF("user_id", "ts", "value")
    val out = pystreamsspark.operators.AsofJoin.asofJoin(
        left, right, Seq("user_id"), "ts", "ts", Seq("value"))
      .select("event_id", "asof_value")
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(out(1L) === Some(1.0))  // ts=100 matches right ts=100 (<=)
    assert(out(2L) === Some(2.0))  // ts=205 -> right ts=200
    assert(out(3L) === None)       // ts=150 < first right ts=300 for user 20
  }

  test("asof join tie-break: same-(key,ts) right rows resolve to max value, deterministically") {
    val s = spark
    import s.implicits._
    val left = Seq((1L, 10L, 100L)).toDF("event_id", "user_id", "ts")
    // three right rows at the SAME (user_id, ts): winner must be the
    // greatest value (the documented, oracle-reproducible rule) on every run
    val right = Seq((10L, 100L, 2.0), (10L, 100L, 7.0), (10L, 100L, 5.0))
      .toDF("user_id", "ts", "value").repartition(3)
    (1 to 3).foreach { _ =>
      val v = pystreamsspark.operators.AsofJoin.asofJoin(
          left, right, Seq("user_id"), "ts", "ts", Seq("value"))
        .select("asof_value").head.getDouble(0)
      assert(v === 7.0)
    }
  }

  test("forward asof join: carries nearest LATER value, inclusive at ties") {
    val s = spark
    import s.implicits._
    val left = Seq((1L, 10L, 100L), (2L, 10L, 250L), (3L, 10L, 400L))
      .toDF("event_id", "user_id", "ts")
    val right = Seq((10L, 100L, 1.0), (10L, 300L, 3.0))
      .toDF("user_id", "ts", "value")
    val got = pystreamsspark.operators.AsofJoin.asofJoin(
        left, right, Seq("user_id"), "ts", "ts", Seq("value"),
        direction = "forward")
      .orderBy("event_id")
      .collect().map(r => (r.getLong(0), Option(r.get(3)).map(_.asInstanceOf[Double])))
    // t=100 matches the right row AT 100 (inclusive); t=250 the one at 300;
    // t=400 has nothing later -> null
    assert(got.toSeq == Seq((1L, Some(1.0)), (2L, Some(3.0)), (3L, None)))
  }

  test("sparse cosine: dense-vector plan == inverted-index plan, and auto picks dense here") {
    val s = spark
    import s.implicits._
    val docs = pystreamsspark.io.Tables.documents(spark, "/root/testdata/sf0.001")
      .filter($"lang" === "en")
    def run(strategy: String) =
      Similarity.sparseCosineTopK(docs, "doc_id", "text", 20, strategy)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val dense = run("dense")
    val index = run("index")
    assert(dense == index) // bit-identical scores AND identical pair order
    assert(run("auto") == dense) // the 31-token uniform corpus is the dense regime
  }

  test("containment dispatch is two-sided: a Zipfian open vocabulary picks the prefix plan") {
    val s = spark
    import s.implicits._
    // same Zipfian shape as the sparse-cosine dispatch test: rare-token
    // prefixes prune, so the stats sample must choose the prefix funnel
    val docs = (0 until 200).map { i =>
      val common = s"common${i % 5}"
      val rare = (0 until 9).map(j => s"tok${(i * 37 + j * 11) % 600}")
      (i.toLong, (common +: rare).mkString(" "), s"L${i % 3}")
    }.toDF("doc_id", "text", "lang")
    def asSet(strategy: String) =
      Dedup.containmentPairs(docs, "doc_id", "text", Seq("lang"), 0.3, strategy)
        .select("id_a", "id_b", "n_a", "n_inter").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3))).toSet
    val block = asSet("block")
    assert(asSet("prefix") == block && asSet("auto") == block)
    assert(block.nonEmpty, "Zipfian containment parity is vacuous")
    // auto actually chose the prefix PLAN: the prefix explode's `slice`
    // over df-sorted tokens is absent from the block plan
    val autoPlan = Dedup.containmentPairs(docs, "doc_id", "text", Seq("lang"), 0.3)
      .queryExecution.analyzed.toString
    assert(autoPlan.contains("slice("), autoPlan.take(500))
  }

  test("sparse cosine dispatch is two-sided: a Zipfian open vocabulary picks the index") {
    val s = spark
    import s.implicits._
    // 200 docs over a large, mostly-rare vocabulary: each doc holds one of
    // 5 common tokens plus 9 tokens drawn from a 600-token tail, so a
    // typical doc's rarest token has df share << 1 and sum(df^2) << m^2.
    val docs = (0 until 200).map { i =>
      val common = s"common${i % 5}"
      val rare = (0 until 9).map(j => s"tok${(i * 37 + j * 11) % 600}")
      (i.toLong, (common +: rare).mkString(" "))
    }.toDF("doc_id", "text")
    def run(strategy: String) =
      Similarity.sparseCosineTopK(docs, "doc_id", "text", 15, strategy)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val index = run("index")
    assert(run("dense") == index) // both plans exact on the Zipfian corpus too
    assert(run("auto") == index)
    // and auto actually chose the index PLAN: the dense path's signature
    // (the native vec_dot call) must be absent from the resolved plan
    val autoPlan = Similarity.sparseCosineTopK(docs, "doc_id", "text", 15, "auto")
      .queryExecution.analyzed.toString
    assert(!autoPlan.contains("vec_dot"), autoPlan.take(500))
  }
}
