package graft.plans

import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Statistics, UnaryNode}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}

/**
 * Pins exact statistics onto a logical subtree — the vehicle that gets
 * ANALYZE numbers to the optimizer for the spliced MoR merge plan
 * (GraftMorNativeRead). A MoR-pending read has no single relation node
 * to report through: the splice replaces the relation, and the
 * spliced subtree's own estimate is the sum of its version files'
 * compressed bytes run through join/window propagation — neither the
 * post-merge row count nor the logical width. This node reports the
 * pinned numbers and otherwise passes everything through; the planner
 * strategy below erases it, so it never reaches execution.
 *
 * Plan-shape note: injected AFTER the operator-optimization fixed point
 * (pre-CBO), so no pushdown rule needs to see through it — only the
 * CBO batch and join planning read its stats, which is the point.
 */
case class GraftStatsPin(child: LogicalPlan, pinned: Statistics)
    extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override def maxRows: Option[Long] = child.maxRows
  override def stats: Statistics = pinned
  override protected def withNewChildInternal(
      newChild: LogicalPlan): GraftStatsPin = copy(child = newChild)
}

/** Erases [[GraftStatsPin]] at planning: the node carries statistics
  * only; its child plans as if the pin were never there. */
object GraftStatsPinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case GraftStatsPin(child, _) => planLater(child) :: Nil
    case _ => Nil
  }
}
