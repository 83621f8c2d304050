package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.window.WindowExec
import graft.plans.{TopK, TopKPerKeyExec}

/** The custom TopKPerKey operator: plan shape (partial exec below the
  * exchange, final above, no Window), result parity with the
  * row_number() formulation, and boundary behavior (k larger than the
  * group, duplicate order values, single-row groups).
  */
class TopKOperatorSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def orders = graft.core.Tables.load(spark, dir, "orders")

  test("plans as partial + final exec around one exchange, no Window") {
    val df = TopK.perKey(orders, Seq("o_custkey"),
      Seq(("o_totalprice", false), ("o_orderkey", true)), 2)
    // final (partial=false) above the exchange, partial (partial=true)
    // below, no Window; allNodes descends through the AQE wrapper.
    val nodes = PlanBudget.allNodes(df.queryExecution.executedPlan)
    val finals = nodes.collect { case t: TopKPerKeyExec if !t.partial => t }
    assert(finals.size == 1, s"expected one final TopKPerKey in: $nodes")
    val exchanges = PlanBudget.allNodes(finals.head.child)
      .collect { case e: ShuffleExchangeExec => e }
    assert(exchanges.size == 1 && (exchanges.head.outputPartitioning match {
      case h: HashPartitioning =>
        h.expressions.flatMap(_.references.map(_.name)) == Seq("o_custkey")
      case _ => false
    }), s"expected one o_custkey hash exchange below the final: $exchanges")
    val partials = nodes.collect { case t: TopKPerKeyExec if t.partial => t }
    assert(partials.size == 1 &&
      PlanBudget.allNodes(exchanges.head.child).contains(partials.head),
      s"expected the partial TopKPerKey below the exchange in: $nodes")
    assert(!nodes.exists(_.isInstanceOf[WindowExec]),
      "no window sort should remain")
  }

  test("matches the row_number formulation exactly") {
    for (k <- Seq(1, 2, 5)) {
      val custom = TopK.perKey(orders, Seq("o_custkey"),
          Seq(("o_totalprice", false), ("o_orderkey", true)), k)
        .select("o_custkey", "o_orderkey")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      val windowed = orders.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= k).select("o_custkey", "o_orderkey")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(custom == windowed, s"k=$k mismatch")
    }
  }

  test("duplicate order values and k >= group size") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val rows = Seq(
      Row(1L, 10L, 5.0), Row(1L, 11L, 5.0), Row(1L, 12L, 5.0),
      Row(2L, 20L, 1.0))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 3),
      StructType(Seq(StructField("g", LongType), StructField("id", LongType),
        StructField("v", DoubleType))))
    val top2 = TopK.perKey(df, Seq("g"), Seq(("v", false), ("id", true)), 2)
      .select("g", "id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // ties on v break by id asc: group 1 keeps ids 10, 11
    assert(top2 == Set((1L, 10L), (1L, 11L), (2L, 20L)))
    val top9 = TopK.perKey(df, Seq("g"), Seq(("v", false), ("id", true)), 9)
      .count()
    assert(top9 == 4, "k past group size keeps everything")
  }
}
