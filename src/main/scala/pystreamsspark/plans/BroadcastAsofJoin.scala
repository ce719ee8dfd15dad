package pystreamsspark.plans

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateOrdering
import org.apache.spark.sql.catalyst.plans.physical.{BroadcastDistribution, Distribution, IdentityBroadcastMode, Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan}
import org.apache.spark.sql.execution.metric.SQLMetrics
import org.apache.spark.sql.types._

/** Broadcast as-of join: the small-dimension-timeline plan shape.
  *
  * A sort-merge as-of join costs one hash shuffle + one sort on EACH
  * side. When the right side is a small timeline (a rates table, a
  * config history, a model-version log) that is exactly backwards at
  * 100 TB: the big probe side pays a full shuffle + sort to meet a
  * few-thousand-row build side. This exec instead broadcasts the right
  * side once and answers every left row with a per-key binary search —
  * the probe side keeps its partitioning AND ordering (zero exchanges,
  * zero sorts on the plan's big side), the same asymmetry that makes
  * BroadcastHashJoin the default over SMJ for small builds. When the
  * right side grows with the left, the union+window rewrite
  * ([[pystreamsspark.operators.AsofJoin]]) is the path instead.
  *
  * Semantics are byte-identical to the union+window formulation — all
  * three directions plus tolerance, the same deterministic tie rules
  * (backward/forward: greatest tie-break tuple at the matched time;
  * nearest's forward candidate: smallest), the same null algebra (null
  * keys group together, null time = -infinity). NativeAsofSpec drives
  * this exec through adversarial shapes against the window form.
  *
  * Build cost per executor: sort the broadcast rows once by (key, time,
  * tie) and index key → range; each probe is then O(log |group|) with
  * no per-row allocation (reused key/time projection buffers).
  */
case class BroadcastAsofJoinExec(
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTime: Expression,
    rightTime: Expression,
    rightTieBreak: Seq[Expression],
    forward: Boolean,
    nearest: Boolean,
    tolerance: Option[Double],
    // both-neighbor (interpolation) mode: emit backward AND forward
    // neighbor rows side by side; `fwdOutput` names the second copy
    emitBoth: Boolean,
    fwdOutput: Seq[Attribute],
    left: SparkPlan,
    right: SparkPlan) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true)) ++
      (if (emitBoth) fwdOutput.map(_.withNullability(true)) else Nil)

  // the forward-copy attributes originate at this node, not a child
  override def producedAttributes: AttributeSet = AttributeSet(fwdOutput)

  override lazy val metrics = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "numMatched" -> SQLMetrics.createMetric(sparkContext, "number of matched left rows"))

  override def requiredChildDistribution: Seq[Distribution] =
    UnspecifiedDistribution ::
      BroadcastDistribution(IdentityBroadcastMode) :: Nil

  // the probe side streams through untouched — partitioning AND
  // ordering survive for downstream reuse
  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = left.outputOrdering

  protected override def doExecute(): RDD[InternalRow] = {
    val numOutputRows = longMetric("numOutputRows")
    val numMatched = longMetric("numMatched")
    val fwd = forward
    val near = nearest
    val tol = tolerance
    val both = emitBoth
    val fwdOut = fwdOutput
    val lOut = left.output
    val rOut = right.output
    val allOut = output
    val lKeyExprs = leftKeys
    val rKeyExprs = rightKeys
    val lTimeExpr = leftTime
    val rTimeExpr = rightTime
    val rTieExprs = rightTieBreak
    val timeType = leftTime.dataType
    val tGet: (InternalRow, Int) => Double =
      if (near || tol.isDefined) BroadcastAsofJoinExec.timeAsDouble(timeType) else null

    val broadcastRows = right.executeBroadcast[Array[InternalRow]]()
    val planId = id

    left.execute().mapPartitions({ lIter =>
      // build ONCE PER EXECUTOR, not per task: the sort + row copies +
      // range map for the same broadcast value are memoized under
      // (broadcast id, plan id). A custom BroadcastMode building at
      // the driver would be cleaner still, but BroadcastExchangeExec
      // hard-rejects transform results that are neither HashedRelation
      // nor Array[InternalRow] ("[BUG] ... unexpected type"), so
      // IdentityBroadcastMode + executor-side memoization is the
      // Spark-API-honest form. (plan id disambiguates two asof joins
      // with different keys over a REUSED exchange's broadcast.)
      val idx = BroadcastAsofJoinExec.index(broadcastRows.id, planId, {
        () =>
          val rows = broadcastRows.value
          // total order (key asc, time asc nulls-first, tie asc)
          val buildOrd = GenerateOrdering.generate(
            (rKeyExprs.map(SortOrder(_, Ascending)) ++
              Seq(SortOrder(rTimeExpr, Ascending)) ++
              rTieExprs.filter(e => RowOrdering.isOrderable(e.dataType))
                .map(SortOrder(_, Ascending)))
              .map(BindReferences.bindReference(_, rOut)))
          val sorted: Array[InternalRow] =
            rows.sortWith(buildOrd.compare(_, _) < 0)
          val rKeyProj = UnsafeProjection.create(rKeyExprs, rOut)
          val rTimeProj = UnsafeProjection.create(Seq(rTimeExpr), rOut)
          val keyOrd = GenerateOrdering.generate(
            rKeyExprs.indices.map(i => SortOrder(
              BoundReference(i, rKeyExprs(i).dataType, nullable = true),
              Ascending)))
          // per-sorted-row time as a single-column row (copied once at
          // build) + key → [start, end) ranges
          val tRows = new Array[UnsafeRow](sorted.length)
          val groups = new mutable.HashMap[UnsafeRow, (Int, Int)]
          var i = 0
          var groupStart = 0
          var prevKey: UnsafeRow = null
          while (i < sorted.length) {
            tRows(i) = rTimeProj(sorted(i)).copy()
            val k = rKeyProj(sorted(i))
            if (prevKey == null) { prevKey = k.copy() }
            else if (keyOrd.compare(k, prevKey) != 0) {
              groups.put(prevKey, (groupStart, i))
              prevKey = k.copy(); groupStart = i
            }
            i += 1
          }
          if (prevKey != null) groups.put(prevKey, (groupStart, sorted.length))
          new AsofIndex(sorted, tRows, groups)
      })
      val sorted = idx.sorted
      val tRows = idx.times
      val groups = idx.groups
      val timeOrd = GenerateOrdering.generate(Seq(SortOrder(
        BoundReference(0, timeType, nullable = true), Ascending)))

      val lKeyProj = UnsafeProjection.create(lKeyExprs, lOut)
      val lTimeProj = UnsafeProjection.create(Seq(lTimeExpr), lOut)
      val outProj = UnsafeProjection.create(allOut,
        lOut ++ rOut.map(_.withNullability(true)) ++
          (if (both) fwdOut.map(_.withNullability(true)) else Nil))
      val nullRight = new GenericInternalRow(rOut.size)
      val joined = new JoinedRow
      val joined2 = new JoinedRow
      var outRows = 0L
      var matched = 0L
      Option(org.apache.spark.TaskContext.get()).foreach(
        _.addTaskCompletionListener[Unit] { _ =>
          numOutputRows += outRows; numMatched += matched
        })

      // first index in [s, e) whose time compares > (strict) or >= 0
      // (weak) against lT; e when none
      def search(s: Int, e: Int, lT: UnsafeRow, strict: Boolean): Int = {
        var lo = s; var hi = e
        while (lo < hi) {
          val mid = (lo + hi) >>> 1
          val c = timeOrd.compare(tRows(mid), lT)
          if (if (strict) c > 0 else c >= 0) hi = mid else lo = mid + 1
        }
        lo
      }

      if (both) lIter.map { l =>
        // both-neighbor (interpolation) mode: backward neighbor = last
        // time <= lt (greatest tie at that time, tie-asc build order);
        // forward neighbor = first time STRICTLY > lt (smallest tie) —
        // exactly the two carries of the union+window interpolation
        // formulation (back window includes same-time quotes, forward
        // excludes them because side 0 sorts before side 1 on ties)
        outRows += 1
        val range = groups.getOrElse(lKeyProj(l), null)
        var back: InternalRow = null
        var fw: InternalRow = null
        if (range != null) {
          val (s, e) = range
          val lT = lTimeProj(l)
          val ub = search(s, e, lT, strict = true)
          if (ub > s) back = sorted(ub - 1)
          if (ub < e) fw = sorted(ub)
        }
        if (back != null || fw != null) matched += 1
        outProj(joined2(
          joined(l, if (back != null) back else nullRight),
          if (fw != null) fw else nullRight))
      } else lIter.map { l =>
        outRows += 1
        val range = groups.getOrElse(lKeyProj(l), null)
        var hit: InternalRow = null
        if (range != null) {
          val (s, e) = range
          val lT = lTimeProj(l)
          val ub = search(s, e, lT, strict = true) // first time > lt
          if (!near) {
            var hitIdx = -1
            if (!fwd) {
              // backward: last row with time <= lt — greatest time,
              // greatest tie at that time (tie-asc build order)
              if (ub > s) hitIdx = ub - 1
            } else {
              // forward: smallest time >= lt, greatest tie at that
              // time = last row of that time's run
              val lb = search(s, e, lT, strict = false)
              if (lb < e) hitIdx = search(lb, e, tRows(lb), strict = true) - 1
            }
            if (hitIdx >= 0 && tol.isDefined) {
              val ok = !lT.isNullAt(0) && !tRows(hitIdx).isNullAt(0) &&
                math.abs(tGet(lT, 0) - tGet(tRows(hitIdx), 0)) <= tol.get
              if (!ok) hitIdx = -1
            }
            if (hitIdx >= 0) hit = sorted(hitIdx)
          } else {
            // nearest: backward candidate = last time <= lt (greatest
            // tie); forward candidate = first time > lt (smallest tie)
            // — identical chooser to the window formulation
            val backIdx = ub - 1
            val fwdIdx = ub
            val ltNull = lT.isNullAt(0)
            val lt = if (ltNull) 0.0 else tGet(lT, 0)
            val ctNull = backIdx < s || tRows(backIdx).isNullAt(0)
            val ctv = if (ctNull) 0.0 else tGet(tRows(backIdx), 0)
            val ftOk0 = fwdIdx < e && !tRows(fwdIdx).isNullAt(0)
            val ft = if (ftOk0) tGet(tRows(fwdIdx), 0) else 0.0
            val fwdOk = ftOk0 &&
              (tol.isEmpty || (!ltNull && (ft - lt) <= tol.get))
            val backOk = backIdx >= s && (tol.isEmpty ||
              (!ltNull && !ctNull && (lt - ctv) <= tol.get))
            val takeFwd = fwdOk && !(backOk && !ctNull && !ltNull &&
              (lt - ctv) <= (ft - lt))
            if (takeFwd) hit = sorted(fwdIdx)
            else if (backOk) hit = sorted(backIdx)
          }
        }
        if (hit != null) { matched += 1; outProj(joined(l, hit)) }
        else outProj(joined(l, nullRight))
      }
    }, preservesPartitioning = true)
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): BroadcastAsofJoinExec =
    copy(left = newLeft, right = newRight)
}

/** The built probe index: broadcast rows in (key, time, tie) order,
  * their time column pre-projected, and key → [start, end) ranges. */
final class AsofIndex(
    val sorted: Array[InternalRow],
    val times: Array[UnsafeRow],
    val groups: mutable.HashMap[UnsafeRow, (Int, Int)])

object BroadcastAsofJoinExec {
  // executor-local memo of built indexes, keyed by (broadcast id, plan
  // id); SoftReference so memory pressure can reclaim an index once its
  // query is done (broadcast values themselves live under the same
  // policy in the block manager)
  private val indexCache =
    new java.util.concurrent.ConcurrentHashMap[(Long, Int), java.lang.ref.SoftReference[AsofIndex]]

  private[plans] def index(
      broadcastId: Long, planId: Int, build: () => AsofIndex): AsofIndex = {
    val key = (broadcastId, planId)
    val cached = indexCache.get(key)
    val hit = if (cached != null) cached.get else null
    if (hit != null) return hit
    // a cleared SoftReference leaves a dead (key, ref) entry behind —
    // drop it so the map cannot grow one tombstone per finished query
    // over a long-lived executor
    if (cached != null) indexCache.remove(key, cached)
    indexCache.synchronized {
      val again = indexCache.get(key)
      val h2 = if (again != null) again.get else null
      if (h2 != null) return h2
      // opportunistic sweep of ALL dead entries while we hold the lock:
      // the map stays O(live indexes), not O(queries ever run)
      val it = indexCache.entrySet().iterator()
      while (it.hasNext) if (it.next().getValue.get == null) it.remove()
      val built = build()
      indexCache.put(key, new java.lang.ref.SoftReference(built))
      built
    }
  }

  /** Visible for tests: current number of live cache entries. */
  private[plans] def cacheSize: Int = indexCache.size()

  /** Time column as a double for nearest/tolerance distance arithmetic.
    * Timestamps are epoch-micros longs internally (~1.7e15 « 2^53, so
    * the double round-trip is exact — the same unix_micros arithmetic
    * the window formulation and the DuckDB oracle do in int64);
    * non-time numerics follow the window formulation's `cast("double")`.
    */
  private[plans] def timeAsDouble(dt: DataType): (InternalRow, Int) => Double =
    dt match {
      case TimestampType | TimestampNTZType | LongType =>
        (r, i) => r.getLong(i).toDouble
      case IntegerType | DateType => (r, i) => r.getInt(i).toDouble
      case ShortType => (r, i) => r.getShort(i).toDouble
      case ByteType => (r, i) => r.getByte(i).toDouble
      case FloatType => (r, i) => r.getFloat(i).toDouble
      case DoubleType => (r, i) => r.getDouble(i)
      case other => throw new IllegalArgumentException(
        s"as-of nearest/tolerance needs a time-or-numeric time column, got $other")
    }
}
