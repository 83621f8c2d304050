package graft

/** Bucketing = the co-located-join scale pattern (SURVEY §4): writing
  * both sides bucketed on the join key lets a repeated fact-fact join run
  * with ZERO shuffle exchanges — at 100 TB this converts every downstream
  * join/aggregation on that key from a full network shuffle into a local
  * merge. Asserted here against the physical plan, not just documented.
  */
class BucketingSpec extends SparkSpec {
  import spark.implicits._

  test("bucketed fact-fact join plans without a shuffle exchange") {
    val dir = "/root/testdata/sf0.001"
    val wh = scratchDir("graft_bucket")
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    try {
      // Force the shuffle-join shape (broadcast would mask the point).
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val orders = graft.core.Tables.load(spark, dir, "orders")
      val customer = graft.core.Tables.load(spark, dir, "customer")
      orders.write.mode("overwrite")
        .bucketBy(8, "o_custkey").sortBy("o_custkey")
        .option("path", s"$wh/b_orders").saveAsTable("b_orders")
      customer.write.mode("overwrite")
        .bucketBy(8, "c_custkey").sortBy("c_custkey")
        .option("path", s"$wh/b_customer").saveAsTable("b_customer")
      val joined = spark.table("b_orders")
        .join(spark.table("b_customer"),
          $"o_custkey" === $"c_custkey")
        .groupBy($"c_mktsegment").count()
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"))
      // The join itself must NOT shuffle: the only allowed exchange is the
      // one for the final single-partition-ish aggregation AFTER the join.
      val joinPart = plan.substring(plan.indexOf("SortMergeJoin"))
      assert(!joinPart.contains("Exchange hashpartitioning"),
        s"bucketed join still shuffles:\n$plan")
      // And it must actually produce the right answer.
      val viaBuckets = joined.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val direct = orders.join(customer, $"o_custkey" === $"c_custkey")
        .groupBy($"c_mktsegment").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(viaBuckets === direct)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_customer")
    }
  }
}
