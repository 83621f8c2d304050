package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.classic.Strategy

/** Installation of graft into a Spark session: the custom Catalyst
  * expressions, the three bound-rewrite optimizer rules and the TopK
  * planner strategy, written down once in [[GraftFunctions.builders]],
  * [[GraftFunctions.rules]] and [[GraftFunctions.strategies]].
  *
  * Two routes install those same lists:
  *  - [[GraftFunctions.register]] for an existing session. `Q.spark`
  *    (`graft.queries.Catalog`) calls it before it builds a query, so
  *    every caller that reaches a query through the catalog runs on an
  *    installed session;
  *  - [[GraftExtensions]] for `spark.sql.extensions=graft.functions.GraftExtensions`
  *    (the SparkSessionExtensions route for cluster deployments).
  *
  * After registration the functions are plain SQL functions —
  * `trigram_sim(a, b)` and `murmur3_seeded(s, seed)` — usable from
  * `expr(...)` and `spark.sql(...)`, and they participate in whole-stage
  * codegen like built-ins.
  */
object GraftFunctions {
  private def seedOf(e: Expression): Int = e.eval() match {
    case i: Int => i
    case l: Long => l.toInt
    case other => throw new IllegalArgumentException(
      s"murmur3_seeded seed must be an integer literal, got $other")
  }

  private def dblOf(e: Expression): Double = e.eval() match {
    case d: Double => d
    case d: org.apache.spark.sql.types.Decimal => d.toDouble
    case i: Int => i.toDouble
    case l: Long => l.toDouble
    case f: Float => f.toDouble
    case other => throw new IllegalArgumentException(
      s"expected a numeric literal, got $other")
  }

  private def strOf(e: Expression): String = e.eval() match {
    case s: org.apache.spark.unsafe.types.UTF8String => s.toString
    case s: String => s
    case other => throw new IllegalArgumentException(
      s"expected a string literal, got $other")
  }

  private def binOf(e: Expression): Array[Byte] = e.eval() match {
    case b: Array[Byte] => b
    case other => throw new IllegalArgumentException(
      s"expected a binary literal, got $other")
  }

  val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "trigram_sim" -> (exprs => TrigramSimilarity(exprs(0), exprs(1))),
    "jaro_winkler" -> (exprs => JaroWinklerSim(exprs(0), exprs(1))),
    "murmur3_seeded" -> (exprs => Murmur3Seeded(exprs(0), seedOf(exprs(1)))),
    "simhash32" -> (exprs => SimHash32(exprs(0))),
    "minhash_sig" -> (exprs => MinhashSig(exprs(0), seedOf(exprs(1)))),
    "char_trigrams" -> (exprs => CharTrigrams(exprs(0))),
    "audio_winnow_fps" -> (exprs => AudioWinnowFps(exprs(0))),
    "winnow_min4" -> (exprs => WinnowMin4(exprs(0))),
    "jaccard_sim" -> (exprs => JaccardSim(exprs(0), exprs(1))),
    "cosine_ff" -> (exprs => CosineFF(exprs(0), exprs(1))),
    "cosine_fd" -> (exprs => CosineFD(exprs(0), exprs(1))),
    "band_keys_f" -> (exprs => BandKeysF(exprs(0))),
    "band_keys_l" -> (exprs => BandKeysL(exprs(0), strOf(exprs(1)),
      seedOf(exprs(2)), seedOf(exprs(3)), seedOf(exprs(4)))),
    "bigram_stats" -> (exprs => BigramStats(exprs(0))),
    "repetition_keep" -> (exprs =>
      RepetitionKeep(exprs(0), dblOf(exprs(1)), dblOf(exprs(2)))),
    "luhn_sum" -> (exprs => LuhnSum(exprs(0))),
    "mod97_fold" -> (exprs => Mod97Fold(exprs(0))),
    "bloom_contains" -> (exprs => BloomContainsLong(exprs(0), binOf(exprs(1)))),
    "misra_gries" -> (exprs => MisraGriesAgg(exprs(0), seedOf(exprs(1)))))

  val rules: Seq[Rule[LogicalPlan]] = Seq(graft.plans.LevenshteinBoundRule,
    graft.plans.TrigramBoundRule, graft.plans.JaroWinklerBoundRule)

  val strategies: Seq[Strategy] = Seq(graft.plans.TopKStrategy)

  /** Idempotent: a function whose name the session already knows (from
    * an earlier call, or injected by [[GraftExtensions]]) is kept, and a
    * rule or strategy already in the session's experimental list is not
    * added again, so a second call changes nothing and logs nothing. */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    builders.foreach { case (name, b) =>
      if (!reg.functionExists(FunctionIdentifier(name))) {
        reg.createOrReplaceTempFunction(name, b, "built-in")
      }
    }
    val exp = spark.experimental
    exp.extraOptimizations ++= rules.filterNot(exp.extraOptimizations.contains)
    exp.extraStrategies ++= strategies.filterNot(exp.extraStrategies.contains)
  }
}

class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.builders.foreach { case (name, b) =>
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo(classOf[TrigramSimilarity].getName, name),
        b))
    }
    GraftFunctions.rules.foreach(r => ext.injectOptimizerRule(_ => r))
    GraftFunctions.strategies.foreach(st => ext.injectPlannerStrategy(_ => st))
  }
}
