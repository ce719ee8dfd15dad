package pystreamsspark.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Train/test contamination detection: which evaluation documents leak
  * into the training corpus via shared word n-grams — the
  * decontamination pass every LLM training pipeline runs before
  * training (cf. the GPT-3 / Gopher appendix methodology: n-gram
  * overlap with a document-frequency cap; public method).
  *
  * Funnel (the 100 TB shape — never test×train all-pairs):
  *   1. explode each side into its DISTINCT word n-grams (map-side);
  *   2. compute train-side df per gram and DROP grams with
  *      df > maxDf — ubiquitous phrases ("in the case of") would
  *      otherwise fan out quadratically and signal nothing, exactly
  *      why published decontamination pipelines cap df. The count is
  *      a PARTIAL aggregate (map-side combine) feeding a tiny
  *      broadcast ban list (see below) — never a gram-partitioned
  *      window, which would materialize every occurrence of the
  *      hottest gram in one task before filtering it;
  *   3. equi-join test grams ⋈ train grams on the gram itself —
  *      shuffle keyed by gram, only co-occurring docs ever meet;
  *   4. count shared grams per (test_doc, train_doc); keep pairs
  *      with at least minShared.
  * Output: (test_id, train_id, n_shared).
  *
  * Grams stay STRINGS here so the whole pipeline is oracle-checkable
  * verbatim; at 100 TB swap step 1 to `shingle_hash` (8-byte grams)
  * — semantics identical, shuffle 10-20× lighter.
  */
object Contamination {

  def contaminationPairs(train: DataFrame, test: DataFrame,
                         idCol: String, textCol: String,
                         n: Int = 3, minShared: Int = 2,
                         maxDf: Long = 50L): DataFrame = {
    def grams(df: DataFrame, as: String): DataFrame =
      df.select(col(idCol).as(as),
          explode(Dedup.shinglesNative(df.sparkSession, col(textCol), n)).as("gram"))
    val trainGrams = grams(train, "train_id")
    val testGrams = grams(test, "test_id")
    // df cap on the TRAIN side, SKEW-SAFE two-pass form. Pass 1 is a
    // groupBy(gram) partial aggregate: map-side combine collapses even a
    // gram occurring in 30% of all docs to one row per input partition,
    // so the reduce task for the hottest gram sees ≤ nPartitions rows —
    // never the raw occurrence list. Only grams OVER the cap survive the
    // filter, and that ban list is tiny by construction (ubiquitous
    // phrases), so it broadcasts. Pass 2 anti-joins the gram stream
    // against the broadcast ban list — no shuffle, and every gram that
    // reaches the pairs join below has df ≤ maxDf, which bounds the
    // join's per-key fan-out too. MEASURED tradeoff: the retired
    // window-fused single-shuffle variant ran 2.4 s vs this form's
    // 4.1 s at sf0.1 (the second pass re-explodes the train grams and
    // sf0.1 has no hot gram to save) — but a window partitioned by raw
    // gram materializes every occurrence of the top gram in ONE task
    // before filtering, exactly the hot-task the df cap exists to
    // prevent; at corpus scale that task is billions of rows and the
    // two-pass form wins outright (SCALE.md: the hot-gram probe).
    val banned = trainGrams
      .groupBy(col("gram")).agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDf)
      .select(col("gram"))
    val keptTrain = trainGrams
      .join(broadcast(banned), Seq("gram"), "left_anti")
      .select(col("train_id"), col("gram"))
    testGrams.join(keptTrain, "gram")
      .groupBy(col("test_id"), col("train_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }
}
