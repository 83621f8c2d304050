package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{JaroGuardedCmp, JaroOps}
import graft.queries.Catalog

/** graft.plans.JaroWinklerBoundRule: `jaro_winkler(a,b) >= t` must fuse
  * to the guarded jaro_winkler_ge_bounded form, whose O(1) length bound
  * is NECESSARY for the threshold — so (1) the rewrite fires, (2)
  * values/null semantics never change, (3) the bound is sound across
  * length/threshold combinations, (4) non-literal thresholds and t <= 0
  * `>=` forms are left alone.
  */
class JaroRuleSpec extends SparkSpec {

  private def withoutRule[A](f: => A): A = {
    val saved = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations =
      saved.filterNot(_ eq graft.plans.JaroWinklerBoundRule)
    try f finally spark.experimental.extraOptimizations = saved
  }

  private lazy val pairs = {
    val rows = Seq(("batch", "bacth"), ("join", "jion"), ("scan", "zzzz"),
      ("hash", "hashing"), ("", "abc"), (null, "abc"), ("abc", null),
      ("martha", "marhta"), ("ab", "a very much longer string indeed"))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(t => Row(t._1, t._2)), 2),
      StructType(Seq(StructField("a", StringType), StructField("b", StringType))))
  }

  private def guarded(df: org.apache.spark.sql.DataFrame): Seq[JaroGuardedCmp] =
    df.queryExecution.optimizedPlan.collect { case p =>
      p.expressions.flatMap(_.collect { case g: JaroGuardedCmp => g })
    }.flatten

  test("rewrites >=, > and mirrored literal forms to the guarded cmp") {
    for ((predSql, strict) <- Seq(
        ("jaro_winkler(a, b) >= 0.9", false),
        ("0.9 <= jaro_winkler(a, b)", false),
        ("jaro_winkler(a, b) > 0.8", true),
        ("0.8 < jaro_winkler(a, b)", true))) {
      val g = guarded(pairs.filter(expr(predSql)))
      assert(g.nonEmpty, s"expected guarded jw cmp for $predSql")
      assert(g.forall(_.strict == strict), s"wrong strictness for $predSql")
    }
  }

  test("values and null semantics identical with and without the rule") {
    for (predSql <- Seq("jaro_winkler(a, b) >= 0.9",
        "jaro_winkler(a, b) > 0.0", "jaro_winkler(a, b) >= 0.999",
        "0.7 <= jaro_winkler(a, b)")) {
      val on = pairs.filter(expr(predSql)).collect().toSet
      val off = withoutRule { pairs.filter(expr(predSql)).collect().toSet }
      assert(on == off, s"rule changed results for $predSql")
    }
    val proj = pairs.select(expr("jaro_winkler(a, b) >= 0.9").as("m")).collect()
      .map(r => if (r.isNullAt(0)) "null" else r.getBoolean(0).toString).toSeq
    val projOff = withoutRule {
      pairs.select(expr("jaro_winkler(a, b) >= 0.9").as("m")).collect()
        .map(r => if (r.isNullAt(0)) "null" else r.getBoolean(0).toString).toSeq
    }
    assert(proj == projOff, s"projection nullity diverged: $proj vs $projOff")
  }

  test("length bound is a necessary condition across the vector grid") {
    val vocab = Seq("", "a", "ab", "abc", "abcd", "batch", "bacth",
      "hashing", "windowing", "aaaaaaaaaaaa", "the quick brown fox",
      "x", "martha", "marhta", "0123456789", "abcdefghijklmnopqrst")
    for (a <- vocab; b <- vocab;
         t <- Seq(0.01, 0.3, 0.5, 0.7, 0.75, 0.9, 0.99)) {
      val s = JaroOps.simStr(a, b)
      if (s >= t) {
        assert(JaroOps.lengthBound(a.length, b.length, t),
          s"bound rejected a true match: jw('$a','$b')=$s >= $t")
      }
      val ua = UTF8String.fromString(a)
      val ub = UTF8String.fromString(b)
      assert(JaroOps.cmpBounded(ua, ub, t, false) == (s >= t),
        s"ge parity failed on ('$a','$b',$t)")
      assert(JaroOps.cmpBounded(ua, ub, t, true) == (s > t),
        s"gt parity failed on ('$a','$b',$t)")
    }
  }

  test("the bound actually prunes length-mismatched pairs") {
    assert(JaroOps.simStr("ab", "a very much longer string indeed") < 0.9)
    assert(!JaroOps.lengthBound(2, 32, 0.9),
      "expected the O(1) bound to fire on 2-vs-32 at t=0.9")
  }

  test("non-literal thresholds and t<=0 `>=` comparisons are left alone") {
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row("abc", "abd", 0.5)), 1),
      StructType(Seq(StructField("a", StringType),
        StructField("b", StringType), StructField("k", DoubleType))))
    assert(guarded(df.filter(expr("jaro_winkler(a, b) >= k"))).isEmpty,
      "non-literal threshold must not be rewritten")
    assert(guarded(df.filter(expr("jaro_winkler(a, b) >= 0.0"))).isEmpty,
      ">= 0 is always reachable; must not be rewritten")
  }

  test("the catalog query join_jaro_prefilter runs on the guarded plan") {
    val df = Catalog.byName("join_jaro_prefilter")
      .spark(spark, "/root/testdata/sf0.001")
    assert(guarded(df).nonEmpty,
      "catalog query should be rewritten to the guarded form")
    assert(df.collect().length > 0)
  }
}
