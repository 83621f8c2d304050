package graft.plans

import org.apache.spark.sql.catalyst.expressions.Expression

import graft.functions.{JaroGuardedCmp, JaroWinklerSim}

/** Optimizer rule: prune `jaro_winkler` threshold comparisons with an
  * O(1) length bound before the O(|a|·|b|) matching window runs —
  * completing the fuzzy-kernel bound-rule family next to
  * [[LevenshteinBoundRule]] (banded DP) and [[TrigramBoundRule]]
  * (pg_trgm GIN-prune analog). [[SimilarityBoundRule]] has the four
  * rewritten shapes:
  *
  *   jaro_winkler(a,b) >= t  →  jaro_winkler_ge_bounded(a, b, t)  (t > 0)
  *   jaro_winkler(a,b) >  t  →  jaro_winkler_gt_bounded(a, b, t)  (t >= 0)
  *
  * The guard is NECESSARY for the threshold (soundness derivation on
  * [[JaroGuardedCmp]]), so results and null semantics are bit-identical;
  * only the per-pair cost of non-candidates drops. Registered by
  * [[graft.functions.GraftFunctions.register]] and
  * `graft.functions.GraftExtensions`.
  */
object JaroWinklerBoundRule extends SimilarityBoundRule {

  protected def args(e: Expression): Option[(Expression, Expression)] =
    e match {
      case JaroWinklerSim(a, b) => Some((a, b))
      case _ => None
    }

  protected def guarded(a: Expression, b: Expression, t: Double,
      strict: Boolean): Expression = JaroGuardedCmp(a, b, t, strict)
}
