package graft

import org.apache.spark.sql.SparkSession

/** Asserts the cluster deployment route: a session configured ONLY with
  * `spark.sql.extensions=graft.functions.GraftExtensions` (what a
  * spark-submit user sets — no GraftFunctions.register call anywhere)
  * must expose every custom function, both optimizer rules, and the
  * TopK planner strategy. Exits non-zero on any failure; run in a fresh
  * JVM (extensions are applied at SparkContext+session creation, so an
  * in-process spec sharing the test SparkContext cannot exercise this —
  * ExtensionsSpec forks this main instead). */
object ExtensionsCheck {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    graft.core.Tables.setLogLevel(spark, "ERROR")
    def check(cond: Boolean, msg: String): Unit =
      if (!cond) { System.err.println(s"[extcheck] FAILED: $msg"); sys.exit(1) }

    // 1. Functions resolve from config alone.
    val r = spark.sql(
      "SELECT trigram_sim('brand#13', 'brnad#13') AS ts, " +
        "murmur3_seeded('graft', 666) AS mm, " +
        "simhash32(split('a b c', ' ')) AS sh").head()
    check(r.getDouble(0) > 0.0 && r.getDouble(0) < 1.0, "trigram_sim value")
    check(!r.isNullAt(1) && !r.isNullAt(2), "murmur3/simhash null")

    // 2. Both injected optimizer rules fire.
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row("abc", "abd")), 1),
      StructType(Seq(StructField("a", StringType), StructField("b", StringType))))
    df.createOrReplaceTempView("ext_pairs")
    val lev = spark.sql("SELECT * FROM ext_pairs WHERE levenshtein(a, b) <= 2")
    val levBanded = lev.queryExecution.optimizedPlan.expressions.flatMap(
      _.collect {
        case l: org.apache.spark.sql.catalyst.expressions.Levenshtein =>
          l.threshold.isDefined
      })
    check(levBanded.nonEmpty && levBanded.forall(identity),
      "LevenshteinBoundRule not applied")
    val tri = spark.sql("SELECT * FROM ext_pairs WHERE trigram_sim(a, b) >= 0.3")
    val triGuarded = tri.queryExecution.optimizedPlan.expressions.flatMap(
      _.collect { case g: graft.functions.TrigramGuardedCmp => g })
    check(triGuarded.nonEmpty, "TrigramBoundRule not applied")
    check(lev.collect().length == 1 && tri.collect().length == 1, "rule results")

    // 3. The TopK strategy plans the custom operator.
    import spark.implicits._
    val top = graft.plans.TopK.perKey(
      Seq(("a", 3), ("a", 1), ("b", 9)).toDF("k", "v"),
      Seq("k"), Seq(("v", false)), 1)
    check(top.queryExecution.executedPlan.toString.contains("TopKPerKey"),
      "TopKPerKey not planned")
    check(top.collect().map(r => (r.getString(0), r.getInt(1))).toSet ==
      Set(("a", 3), ("b", 9)), "TopK values")

    println("[extcheck] OK")
    spark.stop()
  }
}
