package pystreamsspark.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}

/** Native as-of join — the whole-operator extension tier of SURVEY §2.9:
  * a custom logical node, planned by [[AsofJoinStrategy]] into
  * [[BroadcastAsofJoinExec]], a true physical operator that broadcasts
  * the right side and answers every left row with a per-key binary
  * search, so the (big) left side keeps its partitioning and ordering.
  *
  * Semantics (identical to [[pystreamsspark.operators.AsofJoin]]'s
  * union+window formulation, which stays the path for same-scale
  * sides): every left row is emitted exactly once, joined to the
  * nearest right row with equal `by` keys and
  *   - backward: the greatest `rightTime <= leftTime`;
  *   - forward:  the smallest `rightTime >= leftTime`;
  *   - nearest:  whichever of the two is closer, ties going backward;
  * or all-null right columns when no such row exists (or, with a
  * `tolerance`, when the match lies farther away than it). Among right
  * rows tied on (keys, time), the greatest `rightTieBreak` tuple wins —
  * the same deterministic rule the window formulation and the DuckDB
  * oracle replay, so all three produce byte-identical output. Nulls
  * follow the window formulation's sort-defined behavior exactly: null
  * keys group together (as PARTITION BY does) and a null time sorts as
  * -infinity.
  *
  * Output = left.output ++ right.output (right side nullable) — the
  * facade [[pystreamsspark.operators.NativeAsof]] pre-renames the right
  * side to fresh, collision-free attributes (also making self-joins
  * safe) and projects the user-facing columns on top.
  */
case class AsofJoinPlan(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTime: Expression,
    rightTime: Expression,
    rightTieBreak: Seq[Expression],
    forward: Boolean,
    nearest: Boolean = false,
    tolerance: Option[Double] = None,
    // both-neighbor mode (interpolation joins): emit BOTH the backward
    // neighbor (greatest time <= leftTime, greatest tie) and the forward
    // neighbor (smallest time > leftTime, smallest tie) per left row.
    // `fwdOutput` carries the second right-row copy's attributes — a
    // CONSTRUCTOR field (like Generate.generatorOutput) so the exprIds
    // stay stable across plan copies/transformations.
    emitBoth: Boolean = false,
    fwdOutput: Seq[Attribute] = Nil) extends BinaryNode {

  require(!emitBoth || fwdOutput.length == right.output.length,
    "emitBoth needs one fwdOutput attribute per right column")

  // the exec compares keys/time ACROSS sides through one shared row
  // layout, so the types must line up exactly
  require(leftKeys.map(_.dataType) == rightKeys.map(_.dataType),
    s"as-of key types differ: ${leftKeys.map(_.dataType)} vs ${rightKeys.map(_.dataType)}")
  require(leftTime.dataType == rightTime.dataType,
    s"as-of time types differ: ${leftTime.dataType} vs ${rightTime.dataType}")
  require(!(nearest && forward), "nearest searches both ways; forward must be false")
  // nearest / tolerance do distance arithmetic, so the time column must
  // be a time-or-numeric type (same contract as the window formulation,
  // which casts non-timestamps to double)
  if (nearest || tolerance.isDefined) BroadcastAsofJoinExec.timeAsDouble(leftTime.dataType)

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true)) ++
      (if (emitBoth) fwdOutput.map(_.withNullability(true)) else Nil)

  // the forward-copy attributes are PRODUCED here, not derived from a
  // child (the Generate.generatorOutput discipline) — declaring them
  // keeps missing-input validation honest
  override def producedAttributes: AttributeSet = AttributeSet(fwdOutput)

  // keep every child column alive through column pruning: the exec
  // re-emits whole child rows, so nothing upstream may be dropped
  override def references: AttributeSet =
    AttributeSet(left.output ++ right.output ++
      (leftKeys ++ rightKeys ++ rightTieBreak :+ leftTime :+ rightTime)
        .flatMap(_.references))

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsofJoinPlan =
    copy(left = newLeft, right = newRight)
}

/** Plans [[AsofJoinPlan]] → [[BroadcastAsofJoinExec]]. Inject per-session via
  * `spark.experimental.extraStrategies` (the facade does this lazily)
  * or globally through [[pystreamsspark.GraftExtensions]].
  */
object AsofJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case p: AsofJoinPlan =>
      BroadcastAsofJoinExec(p.leftKeys, p.rightKeys, p.leftTime, p.rightTime,
        p.rightTieBreak, p.forward, p.nearest, p.tolerance,
        p.emitBoth, p.fwdOutput,
        planLater(p.left), planLater(p.right)) :: Nil
    case _ => Nil
  }
}
