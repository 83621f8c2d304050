package graft

import org.apache.spark.sql.execution.FilterExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.functions._
import graft.functions.{BloomContainsLong, BloomOps}
import graft.queries.Catalog

/** Runtime Bloom-filter join pruning (`bloom_contains` +
  * `join_bloom_prune`): correctness (no false negatives, join repairs
  * false positives) and the plan property that makes it worth doing —
  * the probe filters the FACT side below the join, not after it.
  */
class BloomSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("bloom probe has no false negatives and a sane fp rate") {
    val bf = org.apache.spark.util.sketch.BloomFilter.create(4096, 0.01)
    (0L until 2000L by 2L).foreach(bf.putLong)
    val probe = BloomContainsLong(
      org.apache.spark.sql.catalyst.expressions.Literal(0L), BloomOps.toBytes(bf))
    val got = (0L until 2000L).map { k =>
      k -> bf.mightContainLong(k)
    }
    // every inserted key present
    assert(got.filter(_._1 % 2 == 0).forall(_._2))
    // false-positive rate on the odd keys well under 5% at fpp=0.01
    val fps = got.filter(_._1 % 2 == 1).count(_._2)
    assert(fps < 50, s"false positives: $fps / 1000")
    // the serialized round-trip the expression carries agrees with the source filter
    val rt = org.apache.spark.util.sketch.BloomFilter.readFrom(
      new java.io.ByteArrayInputStream(BloomOps.toBytes(bf)))
    assert((0L until 2000L).forall(k => rt.mightContainLong(k) == bf.mightContainLong(k)))
    assert(probe.dataType == org.apache.spark.sql.types.BooleanType)
  }

  test("bloom-pruned join equals the plain join") {
    import graft.core.Tables
    val dim = Tables.load(spark, dir, "customer")
      .filter(col("c_mktsegment") === "BUILDING")
      .select("c_custkey")
    val bits = BloomOps.toBytes(dim.stat.bloomFilter("c_custkey", 4096, 0.01))
    val orders = Tables.load(spark, dir, "orders")
    val plain = orders.join(dim, orders("o_custkey") === dim("c_custkey"))
      .groupBy("o_orderpriority").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val pruned = orders
      .filter(call_function("bloom_contains", col("o_custkey"), lit(bits)))
      .join(dim, orders("o_custkey") === dim("c_custkey"))
      .groupBy("o_orderpriority").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(pruned == plain)
  }

  test("bloom probe prunes fact rows ahead of the join") {
    import graft.core.Tables
    val dim = Tables.load(spark, dir, "customer")
      .filter(col("c_mktsegment") === "BUILDING")
      .select("c_custkey")
    val bits = BloomOps.toBytes(dim.stat.bloomFilter("c_custkey", 4096, 0.01))
    val orders = Tables.load(spark, dir, "orders")
    val total = orders.count()
    val trueMatch = orders.join(dim, orders("o_custkey") === dim("c_custkey")).count()
    val passed = orders
      .filter(call_function("bloom_contains", col("o_custkey"), lit(bits))).count()
    assert(passed >= trueMatch, "a bloom filter can never drop a true match")
    assert(passed < total, s"probe should prune ($passed of $total passed)")
    // selective dim (~1/5 of customers) => the pass-through stays near the
    // true match rate; allow generous fp headroom
    assert(passed <= trueMatch + total / 10)
  }

  test("join_bloom_prune plans the probe on the scan side, below the join") {
    val plan = Catalog.byName("join_bloom_prune").spark(spark, dir)
      .queryExecution.executedPlan
    val joins = PlanBudget.allNodes(plan).filter {
      case _: BroadcastHashJoinExec | _: ShuffledHashJoinExec | _: SortMergeJoinExec => true
      case _ => false
    }
    assert(joins.nonEmpty, "expected an equi-join in the plan")
    // the bloom probe must live in a Filter strictly below the join
    val probeFilters = joins.flatMap(_.children).flatMap(PlanBudget.allNodes(_)).collect {
      case f: FilterExec if f.condition.find(_.isInstanceOf[BloomContainsLong]).isDefined => f
    }
    assert(probeFilters.nonEmpty,
      "bloom_contains should filter the fact side below the join:\n" + plan)
  }
}
