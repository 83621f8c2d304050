package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types._

/** The threshold rewrite shared by the similarity bound rules
  * ([[TrigramBoundRule]], [[JaroWinklerBoundRule]]): a comparison of the
  * rule's similarity call against a numeric literal becomes the kernel's
  * fused guarded form,
  *
  *   sim(a,b) >= t  →  guarded(a, b, t, strict = false)   (t > 0)
  *   sim(a,b) >  t  →  guarded(a, b, t, strict = true)    (t >= 0)
  *
  * mirrored literal-on-left forms included. `sim >= t` with t <= 0 is
  * always true on non-null pairs and is left alone. The guarded target
  * holds no bare comparison of the similarity call, so the optimizer's
  * fixpoint batch cannot re-match what the rule produced.
  */
abstract class SimilarityBoundRule extends Rule[LogicalPlan] {

  /** The two arguments of `e` when it is this rule's similarity call. */
  protected def args(e: Expression): Option[(Expression, Expression)]

  /** The fused guarded comparison that replaces `sim(a, b) >= t`
    * (`strict = false`) or `sim(a, b) > t` (`strict = true`). */
  protected def guarded(a: Expression, b: Expression, t: Double,
      strict: Boolean): Expression

  private object Sim {
    def unapply(e: Expression): Option[(Expression, Expression)] = args(e)
  }

  /** Numeric comparison literal in any of the shapes type-coercion /
    * constant-folding leaves behind. */
  private object Threshold {
    def unapply(e: Expression): Option[Double] = e match {
      case Literal(d: Double, DoubleType) => Some(d)
      case Literal(f: Float, FloatType) => Some(f.toDouble)
      case Literal(d: Decimal, _: DecimalType) => Some(d.toDouble)
      case Literal(i: Int, IntegerType) => Some(i.toDouble)
      case Literal(l: Long, LongType) => Some(l.toDouble)
      case _ => None
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case GreaterThanOrEqual(Sim(a, b), Threshold(t))
          if t > 0 => guarded(a, b, t, strict = false)
      case LessThanOrEqual(Threshold(t), Sim(a, b))
          if t > 0 => guarded(a, b, t, strict = false)
      case GreaterThan(Sim(a, b), Threshold(t))
          if t >= 0 => guarded(a, b, t, strict = true)
      case LessThan(Threshold(t), Sim(a, b))
          if t >= 0 => guarded(a, b, t, strict = true)
    }
}
