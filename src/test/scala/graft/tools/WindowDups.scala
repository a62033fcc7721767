package graft.tools

import org.apache.spark.sql.catalyst.expressions.{Alias, Expression,
  OffsetWindowFunction, SpecifiedWindowFrame, UnboundedPreceding,
  WindowExpression}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Window => LWindow}

/** Window-duplicate audit behind PlanSpec's suite-wide lock: finds window
  * expressions duplicated (canonicalized) within one logical Window node,
  * and classifies which
  * duplicates are O(1)-per-row residuals (allowlisted) vs per-row frame
  * re-folds (the q_logrank pathology — see SCALE.md Global choices). */
object WindowDups {

  /** True when a duplicate evaluation of `e` is O(1) per row: offset
    * functions (lag/lead — no frame fold), and unbounded-PRECEDING-start
    * aggregate frames (WindowExec's growing frame updates incrementally;
    * the entire frame folds once per partition). Bounded sliding frames
    * and shrinking (bounded-start/unbounded-following) frames re-fold
    * per row — duplicates of those are never acceptable. */
  def cheapDup(e: Expression): Boolean = {
    val stripped = e match { case a: Alias => a.child; case other => other }
    stripped match {
      case we: WindowExpression => we.windowFunction match {
        case _: OffsetWindowFunction => true
        case _ => we.windowSpec.frameSpecification match {
          case f: SpecifiedWindowFrame => f.lower == UnboundedPreceding
          case _ => false
        }
      }
      case _ => false
    }
  }

  /** Duplicated window expressions in `lp`, one line per duplicate group:
    * `(nx, expr.take(120), allCheap)`. */
  def audit(lp: LogicalPlan): Seq[(Int, String, Boolean)] =
    lp.collect { case w: LWindow =>
      w.windowExpressions
        .groupBy {
          case a: Alias => a.child.canonicalized.toString
          case e => e.canonicalized.toString
        }
        .collect { case (k, vs) if vs.size > 1 =>
          (vs.size, k.take(120), vs.forall(cheapDup))
        }
    }.flatten
}
