package graft

/** Post-execution plan inspection: runs the named catalog queries
  * through the noop sink (same action as Bench) and prints the FINAL
  * AQE plan — the only place runtime decisions (exchange/stage reuse,
  * AQEShuffleRead coalescing, join-strategy rewrites) are visible;
  * `graft.Explain` shows only the initial `isFinalPlan=false` plan.
  * `sbt "runMain graft.ExplainExecuted <sfDir> name[,name...]"`.
  */
object ExplainExecuted {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = args.drop(1).headOption
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(SparkEntry.queries.keys.toSeq.sorted)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.core.Tables.localSession(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { name =>
      println(s"\n========== $name ==========")
      try {
        // On the plan budget's pinned session, so the executed plans this
        // tool certifies (join strategy, exchange reuse) match the budget
        // gate's on any host.
        val df = SparkEntry.queries(name)(PlanBudget.session(spark), sfDir)
        // collect() drives THIS QueryExecution (a noop write would plan
        // a fresh one), so the AdaptiveSparkPlan below prints its FINAL
        // runtime shape (isFinalPlan=true, ReusedExchange/AQEShuffleRead
        // visible). Catalog results are bounded; this tool runs at the
        // small sfs.
        df.collect()
        println(df.queryExecution.executedPlan.toString)
      } catch { case e: Throwable => println(s"FAILED: ${e.getMessage}") }
      graft.core.CacheLedger.release()
    }
    spark.stop()
  }
}
