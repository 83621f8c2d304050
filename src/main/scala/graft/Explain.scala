package graft

/** Plan-inspection tool: for each named catalog query (all when none
  * named) prints the initial formatted physical plan, where pushdown,
  * pruning, broadcast choice and WholeStageCodegen coverage can be
  * audited, then runs the query and prints its final adaptive plan, the
  * only place runtime decisions (exchange/stage reuse, AQEShuffleRead
  * coalescing, join-strategy rewrites) are visible —
  * `sbt "runMain graft.Explain <sfDir> [name,name,...]"`.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = args.drop(1).headOption
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(SparkEntry.queries.keys.toSeq.sorted)
    val spark = graft.core.Tables.localSession("4").getOrCreate()
    graft.core.Tables.setLogLevel(spark, "ERROR")
    names.foreach { name =>
      println(s"\n========== $name ==========")
      try {
        // On the plan budget's pinned session, so the plans printed here
        // match the budget gate's on any host.
        val df = SparkEntry.queries(name)(PlanBudget.session(spark), sfDir)
        println(df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
        // collect() drives THIS QueryExecution (a noop write would plan
        // a fresh one), so the AdaptiveSparkPlan below prints its FINAL
        // runtime shape (isFinalPlan=true). Catalog results are bounded;
        // this tool runs at the small sfs.
        df.collect()
        println(s"---------- $name: final plan ----------")
        println(df.queryExecution.executedPlan.toString)
      } catch { case e: Throwable => println(s"FAILED: ${e.getMessage}") }
      graft.core.CacheLedger.release()
    }
    spark.stop()
  }
}
