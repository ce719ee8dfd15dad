package pystreamsspark.llm

import org.apache.spark.sql.functions._
import pystreamsspark.SparkSpec

/** IVF-PQ (round-12, r11 verdict #5): per-slot L2 codebooks beside the
  * IVF index, ADC scoring of the probed cells' CODES, exact re-rank of
  * the short-list. Laws:
  *  - EXACT-RERANK EQUALITY: with a short-list covering the probed
  *    cells, the PQ query equals the uncompressed ivfQueryIndexed
  *    answer row-for-row (rank, id, cosine);
  *  - COMPRESSION: the codes table is materially smaller on disk than
  *    the raw cells table;
  *  - DETERMINISM: rebuilding the codebook yields identical codes;
  *  - ADC QUALITY: at a small refine factor the short-list still
  *    recalls the full exact top-k on a clusterable corpus.
  */
class IvfPqSpec extends SparkSpec {

  import spark.implicits._

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft_pq_").toString

  /** 320 vectors in 16-d: 8 planted cluster centers + small
    * deterministic jitter — clusterable, PQ-friendly. */
  private def corpus() = {
    val rows = (0 until 320).map { i =>
      val c = i % 8
      val vec = (0 until 16).map { d =>
        val base = if (d % 8 == c % 8) 4.0f else 0.5f
        val jit = (((i * 31 + d * 17) % 13) - 6) * 0.02f
        base * (if (c < 4) 1.0f else -1.0f) + jit
      }.toArray
      (i.toLong, vec)
    }
    rows.toDF("vec_id", "embedding")
  }

  private def buildIndex(): String = {
    val dir = tmp()
    Similarity.ivfBuild(corpus(), "vec_id", "embedding", k = 4, iters = 2,
      dir)
    Similarity.pqBuild(spark, dir, "vec_id", "embedding", m = 4, nbits = 4,
      iters = 2)
    dir
  }

  private def probes() = corpus().filter($"vec_id" < 4)
    .select($"vec_id".as("pid"), $"embedding".as("probe"))

  test("exact re-rank equals the uncompressed IVF answer; codes table " +
    "is smaller on disk") {
    val dir = buildIndex()
    val exact = Similarity.ivfQueryIndexed(spark, dir, "vec_id",
      "embedding", probes(), k = 5, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getDouble(3))).toSet
    // refine large enough that the short-list covers the probed cells
    val pq = Similarity.ivfPqQuery(spark, dir, "vec_id", "embedding",
      probes(), k = 5, nprobe = 2, refine = 1000)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getDouble(3))).toSet
    assert(pq === exact,
      s"PQ exact-rerank must equal the uncompressed answer\npq=$pq\nexact=$exact")
    def bytes(sub: String): Long =
      pystreamsspark.io.SnapshotTable.filePaths(s"$dir/$sub")
        .map(p => java.nio.file.Files.size(java.nio.file.Paths.get(p))).sum
    // at this toy scale parquet framing dominates — the honest ratio
    // (7.8x on a ×10 copy of sf0.1's 64-d corpus) is recorded in
    // SCALE.md; here assert the direction only
    val raw = bytes("cells"); val codes = bytes("pq_codes")
    assert(codes < raw,
      s"codes table must compress the corpus: $codes vs raw $raw")
  }

  test("ADC short-list recalls the exact top-k at a small refine") {
    val dir = buildIndex()
    val exact = Similarity.ivfQueryIndexed(spark, dir, "vec_id",
      "embedding", probes(), k = 5, nprobe = 2)
      .select($"pid", $"vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val pq = Similarity.ivfPqQuery(spark, dir, "vec_id", "embedding",
      probes(), k = 5, nprobe = 2, refine = 4)
      .select($"pid", $"vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect pq).size.toDouble / exact.size
    assert(recall >= 0.9, s"ADC short-list recall too low: $recall")
  }

  test("codebook + codes are deterministic across rebuilds") {
    val dir = buildIndex()
    val codes1 = pystreamsspark.io.SnapshotTable
      .read(spark, s"$dir/pq_codes")
      .select($"vec_id", concat_ws(",", $"codes").as("c"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    val dir2 = buildIndex()
    val codes2 = pystreamsspark.io.SnapshotTable
      .read(spark, s"$dir2/pq_codes")
      .select($"vec_id", concat_ws(",", $"codes").as("c"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(codes1 === codes2, "PQ encoding must be bit-deterministic")
  }

  test("pqAppend: fresh batches encode against the STORED codebooks " +
    "and the PQ query serves them (no refit)") {
    val dir = buildIndex()
    // fresh vectors = jittered copies of corpus rows, ids 1000+
    val fresh = corpus().filter($"vec_id" < 8)
      .select(($"vec_id" + 1000L).as("vec_id"),
        transform($"embedding", x => x + lit(0.01f)).as("embedding"))
    Similarity.ivfAppend(spark, dir, fresh, "vec_id", "embedding")
    Similarity.pqAppend(spark, dir, fresh, "vec_id", "embedding")
    // a probe equal to a fresh vector must return it as its own top hit
    val probe = fresh.filter($"vec_id" === 1003L)
      .select(lit(1L).as("pid"), $"embedding".as("probe"))
    val top = Similarity.ivfPqQuery(spark, dir, "vec_id", "embedding",
      probe, k = 3, nprobe = 2, refine = 1000)
      .orderBy($"rn").collect()
    assert(top.head.getLong(2) === 1003L,
      s"the appended vector must be its own nearest neighbor: " +
        top.map(_.getLong(2)).mkString(","))
    // and the PQ answer still equals the uncompressed one post-append
    val exact = Similarity.ivfQueryIndexed(spark, dir, "vec_id",
      "embedding", probe, k = 3, nprobe = 2)
      .collect().map(r => (r.getInt(1), r.getLong(2))).toSeq
    assert(top.map(r => (r.getInt(1), r.getLong(2))).toSeq === exact)
  }
}
