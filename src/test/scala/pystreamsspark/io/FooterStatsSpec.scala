package pystreamsspark.io

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.PlanBridge
import pystreamsspark.SparkSpec

/** Laws of the r14 FOOTER-STATS fast path: a clustered write whose
  * cluster columns are all footer-safe types reads its per-file
  * [min,max] from the parquet footers the write just produced —
  * removing the second full pass over every written byte — and the
  * recorded stats are BIT-IDENTICAL to what the one-scan path records
  * (so pruning behavior cannot change). The scan path still owns bloom
  * batches, floating-point/decimal/NTZ cluster keys, and any footer
  * whose types or statistics look unexpected. */
class FooterStatsSpec extends SparkSpec {

  private def freshDir(): String =
    Files.createTempDirectory("footerstats").toString

  /** Per-entry stats substrings of the latest manifest, in sorted file
    * order (delta `+` lines and plain entry lines both parse). */
  private def statFields(dir: String): Seq[String] = {
    val v = SnapshotTable.latestVersion(dir)
    val mp = Paths.get(dir, "_manifests", f"v$v%08d.manifest")
    val lines = scala.jdk.CollectionConverters
      .ListHasAsScala(Files.readAllLines(mp, StandardCharsets.UTF_8))
      .asScala.toSeq.drop(1)
    lines.filter(_.nonEmpty).filterNot(_.startsWith("-"))
      .map(l => if (l.startsWith("+")) l.drop(1) else l)
      .map(_.split("\t"))
      .filter(_.length >= 2)
      .sortBy(_.head)
      .map(_.apply(1))
  }

  private def fixture() = {
    import spark.implicits._
    (0 until 5000).map { i =>
      (i.toLong, i % 1000, f"s$i%05d",
        java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(18000L + i % 400)),
        new java.sql.Timestamp(1700000000000L + i * 1000L),
        null.asInstanceOf[String],
        // r15 families: float/double (no NaN, no ±0 — value-gated),
        // decimals on the INT32 (p<=9) and FIXED (p>18) carriers, NTZ
        // with zero / trimmed / full microsecond fractions
        i * 1.25f + 1.0f, i * 2.5d + 1.0d,
        new java.math.BigDecimal(i).movePointLeft(2).add(
          new java.math.BigDecimal("0.01")),
        java.time.LocalDateTime.ofEpochSecond(
          1700000000L + i, (i % 4) * 250000000, java.time.ZoneOffset.UTC))
    }.toDF("k", "n", "s", "d", "ts", "z", "f", "dbl", "dec", "nt")
      .withColumn("dec9", col("dec").cast("decimal(9,2)"))
      .withColumn("dec20", col("dec").cast("decimal(20,4)"))
      .drop("dec")
      .repartitionByRange(8, col("k"))
  }

  private val clusterCols =
    Seq("k", "n", "s", "d", "ts", "z", "f", "dbl", "dec9", "dec20", "nt")

  test("footer path stats are bit-identical to a scan of the same " +
    "files (long/int/string/date/timestamp/float/double/decimal/ntz; " +
    "all-null column omitted)") {
    val df = fixture()
    val d1 = freshDir()
    SnapshotTable.createClustered(spark, d1, df, clusterCols)
    val fast = statFields(d1)
    assert(fast.size === 8)
    // reference: re-aggregate the JUST-WRITTEN files with statAgg's
    // exact renderings (what the old scan path recorded) and compare
    // the serialized stat strings per file
    val base = spark.read.parquet(s"$d1/data/*")
    def relOf(uri: String): String =
      uri.split("/").takeRight(3).mkString("/")
    val rows = base.groupBy(input_file_name().as("f"))
      .agg(
        min(col("d")).cast("string"), max(col("d")).cast("string"),
        min(col("dbl")).cast("string"), max(col("dbl")).cast("string"),
        min(col("dec20")).cast("string"), max(col("dec20")).cast("string"),
        min(col("dec9")).cast("string"), max(col("dec9")).cast("string"),
        min(col("f")).cast("string"), max(col("f")).cast("string"),
        min(col("k")).cast("string"), max(col("k")).cast("string"),
        min(col("n")).cast("string"), max(col("n")).cast("string"),
        min(col("nt")).cast("string"), max(col("nt")).cast("string"),
        min(col("s")).cast("string"), max(col("s")).cast("string"),
        unix_micros(min(col("ts"))).cast("string"),
        unix_micros(max(col("ts"))).cast("string"),
        min(col("z")).cast("string"), max(col("z")).cast("string"))
      .collect()
    val cols = Seq("d", "dbl", "dec20", "dec9", "f", "k", "n", "nt", "s",
      "ts", "z")
    val expected = rows.map { r =>
      val parts = cols.zipWithIndex.flatMap {
        case (c, i) =>
          val lo = r.getString(1 + 2 * i); val hi = r.getString(2 + 2 * i)
          if (lo == null || hi == null) None
          else Some(s"$c=${SnapshotTable.FileEntry.enc(lo)}," +
            SnapshotTable.FileEntry.enc(hi))
      }
      relOf(r.getString(0)) -> parts.mkString(";")
    }.sortBy(_._1).map(_._2).toSeq
    assert(fast === expected,
      s"footer stats diverge from a scan of the same files:\n${fast
        .zip(expected).filter(p => p._1 != p._2).mkString("\n")}")
    // every footer-safe column recorded; the all-null column omitted
    Seq("k=", "n=", "s=", "d=", "ts=", "f=", "dbl=", "dec9=", "dec20=",
      "nt=").foreach(c =>
      assert(fast.forall(_.contains(c)), s"missing stats for $c"))
    assert(fast.forall(!_.contains("z=")),
      "all-null column must have no stats (conservative, like the scan)")
  }

  test("footer path skips the stats re-scan job; pruning works from " +
    "footer-derived stats") {
    @volatile var jobs = 0
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs += 1
    }
    def countJobs(f: => Unit): Int = {
      PlanBridge.drainListenerBus(spark.sparkContext) // earlier jobs' events
      jobs = 0
      spark.sparkContext.addSparkListener(l)
      try { f; PlanBridge.drainListenerBus(spark.sparkContext) }
      finally spark.sparkContext.removeSparkListener(l)
      jobs
    }
    val d = freshDir()
    val fastJobs = countJobs {
      SnapshotTable.createClustered(spark, d, fixture(), clusterCols)
    }
    // reference: the same create with a bloom column declared — blooms
    // force the one-scan stats path, costing exactly one extra job
    val d2 = freshDir()
    val scanJobs = countJobs {
      SnapshotTable.createEmpty(d2, fixture().schema,
        clusterCols = clusterCols, bloomCols = Seq("k"))
      SnapshotTable.append(spark, d2, fixture(), numFiles = 0)
    }
    assert(fastJobs < scanJobs,
      s"footer path must save the stats re-scan job: fast=$fastJobs " +
        s"scan=$scanJobs")
    // the footer-derived stats actually prune
    val cands = SnapshotTable.readCandidates(d, "k", "100", "150")
    assert(cands.size === 1, s"expected 1 covering file, got ${cands.size}")
    assert(SnapshotTable.readWhere(spark, d,
      Map("k" -> ("100", "150"))).count() === 51)
    // timestamp bounds speak epoch-micros, resolved from footer stats
    val lo = (1700000000000L + 1000L * 1000L) * 1000L
    val hi = (1700000000000L + 1050L * 1000L) * 1000L
    assert(SnapshotTable.readWhere(spark, d,
      Map("ts" -> (lo.toString, hi.toString))).count() === 51)
  }

  test("clean float-clustered table takes the footer path (job-count) " +
    "and prunes; NaN or ±0.0 boundaries fall back to the scan") {
    import spark.implicits._
    @volatile var jobs = 0
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs += 1
    }
    def countJobs(f: => Unit): Int = {
      PlanBridge.drainListenerBus(spark.sparkContext) // earlier jobs' events
      jobs = 0
      spark.sparkContext.addSparkListener(l)
      try { f; PlanBridge.drainListenerBus(spark.sparkContext) }
      finally spark.sparkContext.removeSparkListener(l)
      jobs
    }
    // clean doubles: no NaN, no zero → footer path (r15)
    val clean = (0 until 2000).map(i => (i.toLong, i * 1.5 + 1.0))
      .toDF("k", "p").repartitionByRange(4, col("p"))
    val d = freshDir()
    val fastJobs = countJobs {
      SnapshotTable.createClustered(spark, d, clean, Seq("p"))
    }
    val sf = statFields(d)
    assert(sf.size === 4 && sf.forall(_.contains("p=")),
      s"double cluster stats must be recorded: $sf")
    assert(SnapshotTable.readCandidates(d,
      Map("p" -> ("10.0", "20.0"))).size === 1)
    // a NaN boundary poisons the footer contract → whole-batch scan
    // fallback, stats still recorded (conservative, never weaker)
    val withNan = (0 until 2000).map(i =>
        (i.toLong, if (i == 1999) Double.NaN else i * 1.5 + 1.0))
      .toDF("k", "p").repartitionByRange(4, col("k"))
    val dn = freshDir()
    val nanJobs = countJobs {
      SnapshotTable.createClustered(spark, dn, withNan, Seq("p"))
    }
    assert(nanJobs > fastJobs,
      s"NaN boundary must force the one-scan fallback: clean=$fastJobs " +
        s"nan=$nanJobs")
    val sfn = statFields(dn)
    assert(sfn.size === 4 && sfn.forall(_.contains("p=")),
      s"scan fallback must still record stats: $sfn")
    // a zero boundary (sign-of-zero rendering ambiguity) also falls back
    val withZero = (0 until 2000).map(i => (i.toLong, i * 1.5))
      .toDF("k", "p").repartitionByRange(4, col("p"))
    val dz = freshDir()
    val zeroJobs = countJobs {
      SnapshotTable.createClustered(spark, dz, withZero, Seq("p"))
    }
    assert(zeroJobs > fastJobs,
      s"±0.0 boundary must force the one-scan fallback: clean=$fastJobs " +
        s"zero=$zeroJobs")
    assert(statFields(dz).forall(_.contains("p=")))
  }
}
