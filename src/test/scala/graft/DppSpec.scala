package graft

import graft.queries.Catalog

/** Plan + metric proof for `join_dpp_partitioned` (r10 verdict item 4):
  * the dim-side filter must reach the partitioned fact scan as a
  * `dynamicpruningexpression` PARTITION filter (broadcast reused as the
  * pruning subquery), and the scan must then READ only the dim-selected
  * month partitions — otherwise the query demonstrates a join, not
  * pruning.
  *
  * Scan collection filters `PlanBudget.allNodes` — the one executed-plan
  * walker in the repo — so a Spark-version fix to the AQE wrapper
  * traversal lands in every consumer at once.
  */
class DppSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("fact scan carries a dynamicpruning partition filter and reads " +
      "only the selected partitions") {
    val df = Catalog.byName("join_dpp_partitioned").spark(spark, dir)
    // The plan must carry DPP BEFORE execution (it's a planning artifact).
    val planned = df.queryExecution.executedPlan.toString
    assert(planned.contains("dynamicpruning"),
      s"expected a dynamicpruningexpression partition filter in:\n$planned")

    val rows = df.collect()
    assert(rows.nonEmpty, "December months exist in the fixture")
    // Every surviving month is a December — the pruning predicate's
    // semantic face (value parity is the DuckDB gate's job).
    assert(rows.forall(_.getString(0).endsWith("-12")))

    // Post-execution scan metrics: the partitioned fact scan must have
    // read exactly the December partitions, not the whole table.
    val tbl = graft.sources.Sources.scratchDir(dir, "dpp_fact_tbl")
    val allMonths = new java.io.File(tbl).listFiles()
      .count(_.getName.startsWith("order_month="))
    val decMonths = new java.io.File(tbl).listFiles()
      .count(_.getName.matches("order_month=\\d{4}-12"))
    assert(decMonths > 0 && decMonths < allMonths,
      s"fixture must have prunable layout ($decMonths of $allMonths)")
    val scans = PlanBudget.allNodes(df.queryExecution.executedPlan).collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec
          if s.relation.location.rootPaths.exists(
            _.toString.contains("dpp_fact_tbl")) => s
    }
    assert(scans.nonEmpty, "partitioned fact scan not found in final plan")
    val scan = scans.head
    assert(scan.toString.contains("dynamicpruning"),
      s"fact scan lost its dynamic partition filter:\n$scan")
    val partsRead = scan.metrics("numPartitions").value
    assert(partsRead === decMonths,
      s"scan read $partsRead partitions; dynamic pruning should cut " +
        s"$allMonths months down to the $decMonths Decembers")
  }
}
