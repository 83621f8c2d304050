package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{TrigramGuardedCmp, TrigramOps}
import graft.queries.Catalog

/** graft.plans.TrigramBoundRule: `trigram_sim(a,b) >= t` must be fused to
  * the guarded trigram_sim_ge_bounded form, whose O(len) pre-filter is a
  * NECESSARY condition for the threshold — so (1) the rewrite fires in
  * optimized plans, (2) values and null semantics never change, (3) the
  * bound itself is sound on adversarial inputs (unicode that lowercases
  * into ascii, repeated chars, empties), (4) non-literal thresholds and
  * t <= 0 `>=` comparisons are left alone.
  */
class TrigramBoundRuleSpec extends SparkSpec {

  private def withoutRule[A](f: => A): A = {
    val saved = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations =
      saved.filterNot(_ eq graft.plans.TrigramBoundRule)
    try f finally spark.experimental.extraOptimizations = saved
  }

  // RDD-backed so ConvertToLocalRelation cannot fold the filter away
  // before the optimized plan is inspectable.
  private lazy val pairs = {
    val rows = Seq(("brand#13", "brnad#13"), ("brand#13", "zzzz"),
      ("a", "completely different words"), ("same same", "same same"),
      ("", "brand"), (null, "abc"), ("abc", null), ("12 34", "12 43"))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(t => Row(t._1, t._2)), 2),
      StructType(Seq(StructField("a", StringType), StructField("b", StringType))))
  }

  private def guarded(df: org.apache.spark.sql.DataFrame): Seq[TrigramGuardedCmp] =
    df.queryExecution.optimizedPlan.collect { case p =>
      p.expressions.flatMap(_.collect { case g: TrigramGuardedCmp => g })
    }.flatten

  test("rewrites >=, > and mirrored literal forms to the guarded cmp") {
    for ((predSql, strict) <- Seq(
        ("trigram_sim(a, b) >= 0.35", false),
        ("0.35 <= trigram_sim(a, b)", false),
        ("trigram_sim(a, b) > 0.5", true),
        ("0.5 < trigram_sim(a, b)", true))) {
      val g = guarded(pairs.filter(expr(predSql)))
      assert(g.nonEmpty, s"expected guarded trigram cmp for $predSql")
      assert(g.forall(_.strict == strict), s"wrong strictness for $predSql")
    }
  }

  test("values and null semantics identical with and without the rule") {
    for (predSql <- Seq("trigram_sim(a, b) >= 0.35",
        "trigram_sim(a, b) > 0.0", "trigram_sim(a, b) >= 0.999",
        "0.2 <= trigram_sim(a, b)")) {
      val on = pairs.filter(expr(predSql)).collect().toSet
      val off = withoutRule { pairs.filter(expr(predSql)).collect().toSet }
      assert(on == off, s"rule changed results for $predSql")
    }
    // Null-propagation parity when the predicate is PROJECTED (where
    // false vs null is observable), not filtered.
    val proj = pairs.select(expr("trigram_sim(a, b) >= 0.35").as("m")).collect()
      .map(r => if (r.isNullAt(0)) "null" else r.getBoolean(0).toString).toSeq
    val projOff = withoutRule {
      pairs.select(expr("trigram_sim(a, b) >= 0.35").as("m")).collect()
        .map(r => if (r.isNullAt(0)) "null" else r.getBoolean(0).toString).toSeq
    }
    assert(proj == projOff, s"projection nullity diverged: $proj vs $projOff")
  }

  test("bound is a necessary condition (sound) on adversarial vectors") {
    val vocab = Seq("", " ", "a", "ab", "brand#13", "Brand#13 large",
      "aaaaaaa", "aaa bbb aaa bbb", "Kelvin", "Äpfel",
      "0123456789", "a b c d e f", "!!!", "x", "same same same",
      "the quick brown fox", "thequickbrownfox", "12 34 56")
    for (a <- vocab; b <- vocab; t <- Seq(0.01, 0.2, 0.35, 0.65, 0.9)) {
      val ua = UTF8String.fromString(a)
      val ub = UTF8String.fromString(b)
      val s = TrigramOps.sim(ua, ub)
      if (s >= t) {
        assert(TrigramOps.bound(ua, ub, t),
          s"bound rejected a true match: sim('$a','$b')=$s >= $t")
      }
      // guarded == unguarded, both strictness modes
      assert(TrigramOps.boundedCmp(ua, ub, t, false) == (s >= t))
      assert(TrigramOps.boundedCmp(ua, ub, t, true) == (s > t))
    }
  }

  test("the bound actually prunes length-mismatched pairs") {
    val a = UTF8String.fromString("ab")
    val b = UTF8String.fromString("a completely different longer sentence")
    assert(TrigramOps.sim(a, b) < 0.35)
    assert(!TrigramOps.bound(a, b, 0.35), "expected the cheap bound to fire")
  }

  test("non-literal thresholds and t<=0 `>=` comparisons are left alone") {
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row("abc", "abd", 0.5)), 1),
      StructType(Seq(StructField("a", StringType),
        StructField("b", StringType), StructField("k", DoubleType))))
    assert(guarded(df.filter(expr("trigram_sim(a, b) >= k"))).isEmpty,
      "non-literal threshold must not be rewritten")
    assert(guarded(df.filter(expr("trigram_sim(a, b) >= 0.0"))).isEmpty,
      ">= 0 is always reachable; must not be rewritten")
  }

  test("the catalog query join_trigram_prefilter runs on the guarded plan") {
    val df = Catalog.byName("join_trigram_prefilter")
      .spark(spark, "/root/testdata/sf0.001")
    assert(guarded(df).nonEmpty,
      "catalog query should be rewritten to the guarded form")
    assert(df.collect().length > 0)
  }
}
