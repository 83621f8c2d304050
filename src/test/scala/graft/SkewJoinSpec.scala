package graft

import org.apache.spark.sql.execution.adaptive.AQEShuffleReadExec
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import org.apache.spark.sql.functions._

/** Skew survival evidence (VERDICT r5 item 1): MintScale's Zipf mode
  * must produce a genuinely hot key, AQE's OptimizeSkewedJoin must
  * actually SPLIT the hot partition of a shuffle join over that key,
  * and the explicit-salting twin must stay value-identical to the
  * unsalted join on skewed data. docs/SCALE.md carries the measured
  * uniform-vs-skew timing table on the minted sf0.1 dirs.
  */
class SkewJoinSpec extends SparkSpec {

  /** Zipf(1.2) fact table: 200k rows keyed by MintScale.zipfKey over a
    * 2000-key domain, with a payload column to give partitions weight. */
  private def zipfFact = spark.range(0, 200000, 1, 8)
    .select(MintScale.zipfKey(col("id"), 2000L, 1.2).as("k"),
      concat(lit("payload-"), col("id")).as("payload"))

  private def dim = spark.range(0, 2000, 1, 4)
    .select(col("id").as("k"), (col("id") % 7).as("grp"))

  test("zipfKey: hottest key takes 10-20% of rows at alpha 1.2") {
    val counts = zipfFact.groupBy("k").count().orderBy(desc("count"))
      .limit(3).collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(counts.head._1 == 0L, s"hottest key should be rank 0: ${counts.toSeq}")
    val share = counts.head._2.toDouble / 200000
    assert(share > 0.10 && share < 0.20,
      s"alpha=1.2 top-key share out of band: $share")
    // rank-2 roughly half of rank-1 (Zipf signature, loose band)
    assert(counts(1)._2 < counts.head._2 * 0.7, s"not Zipf-shaped: ${counts.toSeq}")
  }

  test("AQE OptimizeSkewedJoin splits the hot partition of the shuffle join") {
    val confs = Map(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      // Enough shuffle partitions that the hot KEY dominates its
      // partition (median partition ≈ 1.5% of rows, hot ≈ 15%), and
      // tiny byte thresholds so the 200k-row fixture crosses the skew
      // bar the way a multi-GB hot partition does in production.
      "spark.sql.shuffle.partitions" -> "64",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "100KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "64KB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val joined = zipfFact.join(dim.hint("merge"), Seq("k"))
        .groupBy("grp").agg(count(lit(1)).as("n"))
      joined.collect() // execute so AQE finalizes the plan
      val root = joined.queryExecution.executedPlan
      // allNodes sees through AQE stage boundaries: `QueryStageExec` is a
      // leaf to TreeNode.collect, so a plain collect never finds the join
      // inside a materialized stage.
      val smjs = PlanBudget.allNodes(root).collect { case j: SortMergeJoinExec => j }
      assert(smjs.nonEmpty, s"expected a sort-merge join in the final plan:\n$root")
      assert(smjs.exists(_.isSkewJoin),
        s"OptimizeSkewedJoin did not fire:\n$root")
      // The skew read must actually split the hot partition: the AQE
      // shuffle read on the fact side carries skewed-partition specs.
      val reads = PlanBudget.allNodes(root).collect { case r: AQEShuffleReadExec => r }
      assert(reads.exists(_.hasSkewedPartition),
        s"no AQEShuffleRead with skewed-partition splits:\n$root")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("explicit salting stays value-identical on Zipf-skewed data") {
    val fact = zipfFact.withColumn("v", length(col("payload")).cast("long"))
    val plain = fact.join(dim, Seq("k"))
      .groupBy("grp").agg(count(lit(1)).as("n"), sum("v").as("sv"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val factS = fact.withColumn("salt", pmod(crc32(col("payload")), lit(8)))
    val dimS = dim.withColumn("salt", explode(sequence(lit(0L), lit(7L))))
    val salted = factS.join(dimS.hint("shuffle_hash"), Seq("k", "salt"))
      .groupBy("grp").agg(count(lit(1)).as("n"), sum("v").as("sv"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(plain == salted, "salted join diverged from unsalted on skewed data")
  }
}
