package graft

import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeSet, NamedExpression}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, BROADCAST, Generate, Join,
  LogicalPlan, Project, UnaryNode, Window => WindowNode}

/** The plan-shape detectors of `QueriesSmokeSpec`'s plan gates, shared
  * with specs that check a step no query's final plan shows (a memo
  * build). */
object PlanShapes {

  /** Windows whose partition keys all trace back, through projections
    * and aggregates, to one origin below them. `origin` decides at the
    * node that starts or breaks a key (Some), or lets the trace go on
    * (None). A bounded partition COUNT over corpus rows is a
    * corpus-sized single-task sort. */
  def keyedWindows(plan: LogicalPlan,
                   origin: (LogicalPlan, AttributeSet) => Option[Boolean]): Int = {
    def retrace(wanted: AttributeSet, outs: Seq[NamedExpression]): AttributeSet =
      AttributeSet(outs.flatMap {
        case a: Alias if wanted.contains(a.toAttribute) => a.child.references.toSeq
        case a: Attribute if wanted.contains(a) => Seq(a)
        case _ => Nil
      })
    def traces(node: LogicalPlan, wanted: AttributeSet): Boolean =
      wanted.nonEmpty && origin(node, wanted).getOrElse(node match {
        case p: Project   => traces(p.child, retrace(wanted, p.projectList))
        case a: Aggregate => traces(a.child, retrace(wanted, a.aggregateExpressions))
        case u: UnaryNode => traces(u.child, wanted)
        case other => other.children.find(c => wanted.subsetOf(c.outputSet))
          .exists(traces(_, wanted))
      })
    plan.collect {
      case w: WindowNode if w.partitionSpec.nonEmpty &&
        traces(w.child, AttributeSet(w.partitionSpec.flatMap(_.references))) => w
    }.size
  }

  /** Keys that all come from the broadcast side of a join: the partition
    * count is the broadcast row count (a probe panel, a grid, one row). */
  def broadcastSide(node: LogicalPlan, wanted: AttributeSet): Option[Boolean] =
    node match {
      case j: Join if Seq(j.hint.leftHint -> j.left, j.hint.rightHint -> j.right).exists {
          case (hint, side) => hint.exists(_.strategy.contains(BROADCAST)) &&
            wanted.subsetOf(side.outputSet)
        } => Some(true)
      case _ => None
    }

  /** Keys that all come from a Generate (explode): one hot value (a stop
    * word) makes a corpus-sized partition. A mixed key such as (token,
    * doc_id div S) is bounded by its other part. */
  def generatorOutput(node: LogicalPlan, wanted: AttributeSet): Option[Boolean] =
    node match {
      case g: Generate =>
        val out = AttributeSet(g.generatorOutput)
        if (wanted.subsetOf(out)) Some(true)
        else if (wanted.intersect(out).nonEmpty) Some(false)
        else None
      case _ => None
    }

  /** A `Window.orderBy(...)` with no partitionBy sorts on ONE task. */
  def globalWindows(plan: LogicalPlan): Int =
    plan.collect { case w: WindowNode if w.partitionSpec.isEmpty => w }.size

  /** The largest single expression tree: a builder that folds an
    * accumulator into BOTH branches of a conditional doubles the tree per
    * step (round 6's q547 compile bomb). */
  def maxExpressionNodes(plan: LogicalPlan): Int =
    (0 +: plan.flatMap(_.expressions.map(_.collect { case _ => 1 }.size))).max
}
