package pystreamsspark.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** As-of join: for each left row, attach the value columns of the
  * nearest right row for the same keys — `direction = "backward"`
  * (default) takes the most recent right row with `rightTime <=
  * leftTime`; `direction = "forward"` the earliest right row with
  * `rightTime >= leftTime`; `direction = "nearest"` whichever of the
  * two is closer in time (equal distances go backward). An optional
  * `tolerance` (epoch-micros for timestamp times, natural units
  * otherwise) drops matches farther than the cutoff — pandas
  * merge_asof's `tolerance`.
  *
  * Spark has no native as-of join, so this rewrites it as union + one
  * window pass — the scalable formulation:
  *
  *   1. tag both sides, align schemas, `unionByName`;
  *   2. one shuffle on the `by` keys, sort by (time, side) within each
  *      partition (time DESCENDS for the forward direction — the running
  *      carry then holds the nearest-LATER right row);
  *   3. running `last(<right value>, ignoreNulls)` carries the nearest
  *      right value onto each left row;
  *   4. keep left rows.
  *
  * Cost = exactly one ShuffleExchange + one in-partition sort over
  * |L|+|R| rows — the same asymptotics as a sort-merge join, no
  * broadcast/collect, no per-key skew beyond what the key itself has.
  * (A per-key range interpolation join would be the next step at 100 TB
  * if a single key's timeline outgrows a partition; not needed here.)
  *
  * Right rows at the same timestamp as a left row DO match (<= / >=):
  * the sort places side=0 (right) before side=1 (left) on ties in both
  * directions.
  */
object AsofJoin {
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
    val leftCols = left.columns.toSeq
    val l = left
      .withColumn("__t", col(leftTime))
      .withColumn("__side", lit(1))
    val lAligned = valueCols.foldLeft(l)((df, c) =>
      df.withColumn(s"__v_$c", lit(null).cast(right.schema(c).dataType)))
    val r0 = right.withColumn("__t", col(rightTime)).withColumn("__side", lit(0))
    val rAligned = leftCols.foldLeft(
      valueCols.foldLeft(r0)((df, c) => df.withColumn(s"__v_$c", col(c))))(
      (df, c) => if (df.columns.contains(c)) df else df.withColumn(c, lit(null)))
      .select((by ++ Seq("__t", "__side") ++ valueCols.map(c => s"__v_$c") ++
        leftCols.filterNot(by.contains)).distinct.map(col): _*)
    val lSel = lAligned.select((by ++ Seq("__t", "__side") ++
      valueCols.map(c => s"__v_$c") ++ leftCols.filterNot(by.contains)).distinct.map(col): _*)

    val unioned = lSel.unionByName(rAligned)
    // time-as-number for distance arithmetic (nearest chooser, tolerance
    // cutoff): epoch micros for timestamps (int64-exact), double cast
    // otherwise — identical on the broadcast-exec side
    // (BroadcastAsofJoinExec.timeAsDouble) and replayable verbatim by a
    // DuckDB oracle
    def micros(c: org.apache.spark.sql.Column) =
      if (unioned.schema("__t").dataType ==
          org.apache.spark.sql.types.TimestampType) unix_micros(c)
      else c.cast("double")
    // deterministic total order among right rows that share the same
    // (keys, time): order by the value columns themselves, so the carried
    // winner on a tie is the row with the greatest value tuple — a rule an
    // oracle in any engine can reproduce verbatim (a hash-based tie-break
    // would be engine-private). Without SOME tie order, `last()` over such
    // ties picks a partition-order-dependent winner.
    if (direction == "nearest") {
      // nearest = backward + forward carries over ONE asc sort (still a
      // single shuffle), then an integer-exact distance chooser per left
      // row. Ties at equal distance go backward (deterministic); among
      // right rows sharing the nearest time, backward carries the
      // GREATEST value tuple (last over value-asc) and forward the
      // SMALLEST (first over value-asc) — both rules an oracle replays
      // verbatim from the same window order.
      val ord = (Seq(col("__t").asc, col("__side").asc) ++
        valueCols.map(c => col(s"__v_$c").asc))
      val base = Window.partitionBy(by.map(col): _*).orderBy(ord: _*)
      val back = base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val fwd = base.rowsBetween(Window.currentRow, Window.unboundedFollowing)
      // carry WHOLE ROWS as a struct (null for left rows → ignoreNulls
      // skips them): time and values always come from the same right
      // row, so a right row with a NULL value column matches as NULL —
      // the native execs' row semantics, not a per-column last-non-null
      // mix of different rows
      val rowStruct = when(col("__side") === 0,
        struct((col("__t").as("__rt") +:
          valueCols.map(c => col(s"__v_$c").as(c))): _*))
      val carried = unioned
        .withColumn("__b", last(rowStruct, ignoreNulls = true).over(back))
        .withColumn("__f", first(rowStruct, ignoreNulls = true).over(fwd))
      // a forward-carried row always has a non-null time (null times
      // sort first, ahead of every left row), so __f.isNull ≡ ftCol
      // .isNull — the same invariant the native merge relies on
      val btCol = col("__b").getField("__rt")
      val ftCol = col("__f").getField("__rt")
      val bDist = micros(col("__t")) - micros(btCol)
      val fDist = micros(ftCol) - micros(col("__t"))
      val chosen = tolerance match {
        case None =>
          val takeBack = ftCol.isNull || (btCol.isNotNull && bDist <= fDist)
          valueCols.foldLeft(carried)((df, c) =>
            df.withColumn(s"$prefix$c",
              when(takeBack, col("__b").getField(c))
                .otherwise(col("__f").getField(c))))
        case Some(t) =>
          // candidates are tolerance-filtered FIRST, then the nearest
          // surviving one wins (ties backward) — pandas merge_asof
          // semantics; a null distance (null-time carry / null left
          // time) never survives the filter
          val fwdOk = ftCol.isNotNull && fDist <= lit(t)
          val backOk = btCol.isNotNull && bDist <= lit(t)
          val takeFwd = fwdOk && !(backOk && bDist <= fDist)
          valueCols.foldLeft(carried)((df, c) =>
            df.withColumn(s"$prefix$c",
              when(takeFwd, col("__f").getField(c))
                .when(backOk, col("__b").getField(c))))
      }
      return chosen
        .filter(col("__side") === 1)
        .select((leftCols ++ valueCols.map(c => s"$prefix$c")).map(col): _*)
    }
    val timeOrd = direction match {
      case "backward" => col("__t").asc
      case "forward"  => col("__t").desc
      case other => throw new IllegalArgumentException(
        s"direction must be backward|forward|nearest, got $other")
    }
    val w = Window
      .partitionBy(by.map(col): _*)
      .orderBy((Seq(timeOrd, col("__side").asc) ++
        valueCols.map(c => col(s"__v_$c").asc)): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // carry the WHOLE matched row as a struct (see the nearest branch):
    // values and time stay paired, null value columns match as null
    val rowStruct = when(col("__side") === 0,
      struct((col("__t").as("__rt") +:
        valueCols.map(c => col(s"__v_$c").as(c))): _*))
    val carried = valueCols.foldLeft(
      unioned.withColumn("__cr", last(rowStruct, ignoreNulls = true).over(w)))(
      (df, c) => df.withColumn(s"$prefix$c", col("__cr").getField(c)))
    // tolerance: null out matches farther than the cutoff — abs() covers
    // both directions (backward carry time <= t, forward >= t); a null
    // distance (null-time carry / null left time) is no match
    val toleranced = tolerance match {
      case None => carried
      case Some(t) =>
        val ct = col("__cr").getField("__rt")
        valueCols.foldLeft(carried)((df, c) =>
          df.withColumn(s"$prefix$c",
            when(abs(micros(col("__t")) - micros(ct)) <= lit(t),
              col(s"$prefix$c"))))
    }
    toleranced
      .filter(col("__side") === 1)
      .select((leftCols ++ valueCols.map(c => s"$prefix$c")).map(col): _*)
  }

  /** Interpolation join (kdb-style `aj`+lerp): each left row gets the
    * right value LINEARLY INTERPOLATED between the surrounding quotes
    * of its key — `bv + (fv - bv) * ((t - bt) / (ft - bt))` over the
    * backward and forward neighbors; exact hits land on the quote
    * (frac = 0), rows before the first / after the last quote clamp to
    * the nearest one. Same single-shuffle both-carry frame as
    * `direction = "nearest"`; the arithmetic is a fixed IEEE sequence
    * (each epoch-µs cast to double first, then subtract/divide/
    * multiply/add) so a DuckDB oracle replays it bit-for-bit.
    */
  def interpolationJoin(
      left: DataFrame,
      right: DataFrame,
      by: Seq[String],
      leftTime: String,
      rightTime: String,
      valueCol: String,
      prefix: String = "interp_"): DataFrame = {
    val leftCols = left.columns.toSeq
    val lSel = left
      .withColumn("__t", col(leftTime))
      .withColumn("__side", lit(1))
      .withColumn("__v", lit(null).cast("double"))
      .select((by ++ Seq("__t", "__side", "__v") ++
        leftCols.filterNot(by.contains)).distinct.map(col): _*)
    val r0 = right
      .withColumn("__t", col(rightTime))
      .withColumn("__side", lit(0))
      .withColumn("__v", col(valueCol).cast("double"))
    val rSel = leftCols.foldLeft(r0)((df, c) =>
      if (df.columns.contains(c)) df else df.withColumn(c, lit(null)))
      .select((by ++ Seq("__t", "__side", "__v") ++
        leftCols.filterNot(by.contains)).distinct.map(col): _*)
    val unioned = lSel.unionByName(rSel)
    def micros(c: org.apache.spark.sql.Column) =
      if (unioned.schema("__t").dataType ==
          org.apache.spark.sql.types.TimestampType) unix_micros(c)
      else c.cast("double")
    val base = Window.partitionBy(by.map(col): _*)
      .orderBy(col("__t").asc, col("__side").asc, col("__v").asc)
    val back = base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val fwdW = base.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    // whole-row struct carries (see asofJoin): neighbor time and value
    // stay paired even when a quote's value is NULL
    val rowStruct = when(col("__side") === 0,
      struct(col("__t").as("__rt"), col("__v").as("__rv")))
    val carried = unioned
      .withColumn("__b", last(rowStruct, ignoreNulls = true).over(back))
      .withColumn("__f", first(rowStruct, ignoreNulls = true).over(fwdW))
    val btRaw = col("__b").getField("__rt")
    val ftRaw = col("__f").getField("__rt")
    val bv = col("__b").getField("__rv")
    val fv = col("__f").getField("__rv")
    val interp = interpExpr(col("__t"), btRaw, ftRaw, bv, fv, micros)
    carried
      .withColumn(s"$prefix$valueCol", interp)
      .filter(col("__side") === 1)
      .select((leftCols :+ s"$prefix$valueCol").map(col): _*)
  }

  /** The interpolation arithmetic that EVERY formulation (window here,
    * broadcast in [[NativeAsof.interpolationJoin]]) and the DuckDB
    * oracle must replay bit-for-bit: double-cast each epoch, then
    * (t−bt)/(ft−bt), multiply, add — never reassociate; clamp to the
    * sole neighbor when the other is missing, land on bv for a
    * zero-width bracket. ONE definition so the IEEE op sequence cannot
    * drift between the forms. */
  private[operators] def interpExpr(
      tRaw: org.apache.spark.sql.Column,
      btRaw: org.apache.spark.sql.Column,
      ftRaw: org.apache.spark.sql.Column,
      bv: org.apache.spark.sql.Column,
      fv: org.apache.spark.sql.Column,
      micros: org.apache.spark.sql.Column => org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = {
    val t = micros(tRaw).cast("double")
    val bt = micros(btRaw).cast("double")
    val ft = micros(ftRaw).cast("double")
    val lerp = bv + (fv - bv) * ((t - bt) / (ft - bt))
    when(btRaw.isNull, fv)
      .when(ftRaw.isNull, bv)
      .when(micros(ftRaw) === micros(btRaw), bv)
      .otherwise(lerp)
  }
}
