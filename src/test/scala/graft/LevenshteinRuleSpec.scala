package graft

import org.apache.spark.sql.catalyst.expressions.Levenshtein
import org.apache.spark.sql.functions._
import graft.queries.Catalog

/** graft.plans.LevenshteinBoundRule: the unbounded-comparison → banded
  * rewrite must (1) actually fire in the optimized plan, (2) never change
  * values or null semantics, (3) cover the <, <=, = and mirrored literal
  * forms, (4) leave non-literal thresholds and already-bounded calls
  * alone.
  */
class LevenshteinRuleSpec extends SparkSpec {

  private def withoutRule[A](f: => A): A = {
    val saved = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations =
      saved.filterNot(_ eq graft.plans.LevenshteinBoundRule)
    try f finally spark.experimental.extraOptimizations = saved
  }

  // RDD-backed (LogicalRDD), NOT a LocalRelation: ConvertToLocalRelation
  // would otherwise evaluate the filter at optimization time and leave no
  // Levenshtein in the optimized plan to inspect.
  private lazy val pairs = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val rows = Seq(("kitten", "sitting"), ("flaw", "lawn"), ("abc", "abc"),
      ("abc", "xyz"), (null, "abc"), ("abc", null))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(t => Row(t._1, t._2)), 2),
      StructType(Seq(StructField("a", StringType), StructField("b", StringType))))
  }

  private def thresholds(df: org.apache.spark.sql.DataFrame): Seq[Boolean] =
    df.queryExecution.optimizedPlan.collect { case p =>
      p.expressions.flatMap(_.collect { case l: Levenshtein => l.threshold.isDefined })
    }.flatten

  test("rewrites <=, <, = and mirrored forms to the banded expression") {
    for (pred <- Seq(
        levenshtein(col("a"), col("b")) <= 2,
        levenshtein(col("a"), col("b")) < 3,
        levenshtein(col("a"), col("b")) === 2,
        lit(2) >= levenshtein(col("a"), col("b")),
        lit(3) > levenshtein(col("a"), col("b")))) {
      val t = thresholds(pairs.filter(pred))
      assert(t.nonEmpty && t.forall(identity),
        s"expected banded levenshtein for $pred")
    }
  }

  test("values and null semantics identical with and without the rule") {
    for (pred <- Seq(
        levenshtein(col("a"), col("b")) <= 2,
        levenshtein(col("a"), col("b")) < 2,
        levenshtein(col("a"), col("b")) === 3,
        lit(1) >= levenshtein(col("a"), col("b")))) {
      val on = pairs.filter(pred).collect().toSet
      val off = withoutRule { pairs.filter(pred).collect().toSet }
      assert(on == off, s"rule changed results for $pred")
    }
    // Projection (non-comparison) use is untouched and still exact.
    val d = pairs.select(levenshtein(col("a"), col("b")).as("d")).collect()
      .map(r => if (r.isNullAt(0)) -99 else r.getInt(0)).toSeq
    assert(d == Seq(3, 2, 0, 3, -99, -99))
  }

  test("non-literal and already-bounded comparisons are left alone") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row("abc", "abd", 1)), 1),
      StructType(Seq(StructField("a", StringType),
        StructField("b", StringType), StructField("k", IntegerType))))
    // non-literal threshold: no Option to bound statically
    val t1 = thresholds(df.filter(levenshtein(col("a"), col("b")) <= col("k")))
    assert(t1.forall(!_), "non-literal threshold must not be rewritten")
    // already bounded: stays as written (no double wrap)
    val t2 = thresholds(df.filter(levenshtein(col("a"), col("b"), 2) >= 0))
    assert(t2.nonEmpty && t2.forall(identity))
  }

  test("the catalog query join_fuzzy_threshold runs on the banded plan") {
    val df = Catalog.byName("join_fuzzy_threshold")
      .spark(spark, "/root/testdata/sf0.001")
    val t = thresholds(df)
    assert(t.nonEmpty && t.forall(identity),
      "catalog query should be rewritten to the banded form")
    assert(df.collect().length > 0)
  }

  test("join_phonetic_soundex on a fresh session runs on the banded plan") {
    val df = Catalog.byName("join_phonetic_soundex")
      .spark(spark.newSession(), "/root/testdata/sf0.001")
    // the projected `dist` column stays unbounded; the filter is banded
    assert(thresholds(df).contains(true),
      "a query must get the rule from its own session, not from earlier queries")
  }
}
