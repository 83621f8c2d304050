package graft.plans

import org.apache.spark.sql.catalyst.expressions.Expression

import graft.functions.{TrigramGuardedCmp, TrigramSimilarity}

/** Optimizer rule: prune `trigram_sim` threshold comparisons with a cheap
  * length/char-diversity bound before the full set kernel — the pg_trgm
  * GIN-index analog of [[LevenshteinBoundRule]].
  *
  * pg_trgm answers `similarity(a, b) >= t` (the reference's fuzzy aspect
  * match, src/absa/post_aspects.py:120-199, threshold 0.65) through a
  * trigram index that discards most candidates before `similarity()`
  * ever runs. Spark has no index, but a theta-join/filter carrying
  * `trigram_sim(a, b) >= t` re-pays the full kernel (two hash-set builds
  * + intersection, per pair). This rule rewrites the comparison into the
  * fused [[TrigramGuardedCmp]] ([[SimilarityBoundRule]] has the four
  * rewritten shapes):
  *
  *   trigram_sim(a,b) >= t   →  trigram_sim_ge_bounded(a, b, t)   (t > 0)
  *   trigram_sim(a,b) >  t   →  trigram_sim_gt_bounded(a, b, t)   (t >= 0)
  *
  * whose allocation-free O(len) guard is a NECESSARY condition for the
  * threshold (see the soundness note on [[TrigramGuardedCmp]]) — results
  * and null semantics are bit-identical; only the per-pair cost on
  * non-matching pairs drops.
  *
  * Registered alongside [[LevenshteinBoundRule]] by
  * [[graft.functions.GraftFunctions.register]] and
  * `graft.functions.GraftExtensions`.
  */
object TrigramBoundRule extends SimilarityBoundRule {

  protected def args(e: Expression): Option[(Expression, Expression)] =
    e match {
      case TrigramSimilarity(a, b) => Some((a, b))
      case _ => None
    }

  protected def guarded(a: Expression, b: Expression, t: Double,
      strict: Boolean): Expression = TrigramGuardedCmp(a, b, t, strict)
}
