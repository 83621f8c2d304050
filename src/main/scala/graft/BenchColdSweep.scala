package graft

/** One-shot COLD sweep: every catalog query executed exactly once to a
  * noop sink, per-query wall seconds dumped as one JSON file (r11
  * verdict item 8 — the ×100 execution times existed only as a
  * wall-clock note; this pins each query's cold time so the
  * sf0.1 / ×10 / ×100 scaling exponent of every family is data, not
  * extrapolation). The full Bench (warm repeats + row counts) at ×100
  * costs ~3× a single sweep for numbers the exponent table doesn't
  * use — scaling curves compare COLD single executions at every point.
  *
  * Usage: BenchColdSweep <sfDir> <outJson> [nameFilter,csv]
  */
object BenchColdSweep {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/tmp/sf100")
    val outPath = args.lift(1).getOrElse("BENCH_X100.json")
    val only = args.lift(2)
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.core.Tables.localSession(cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    graft.core.Tables.setLogLevel(spark, "WARN")
    val selected = only match {
      case Some(f) => SparkEntry.queries.filter { case (n, _) => f(n) }
      case None => SparkEntry.queries
    }
    val failed = scala.collection.mutable.LinkedHashSet.empty[String]
    // `sec` is taken BEFORE CacheLedger.release() so the sweep times the
    // same window Bench's per-run timing does, and a failed query is
    // dropped from the cold map entirely — a fast-failing query's abort
    // time must never enter the exponent fits downstream (r12 ADVICE:
    // make_exponents.py never consults `errors`).
    val times = selected.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val t0 = System.nanoTime()
      val ok =
        try {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          true
        } catch { case e: Throwable =>
          failed += name
          System.err.println(s"[sweep] $name FAILED: ${e.getMessage}")
          false
        }
      val sec = (System.nanoTime() - t0) / 1e9
      graft.core.CacheLedger.release()
      System.err.println(
        f"[sweep] $name%-30s $sec%8.2f s${if (ok) "" else " (FAILED, dropped)"}")
      if (ok) Some(name -> sec) else None
    }
    val total = times.map(_._2).sum
    val body = times
      .map { case (n, s) => "\"" + n + "\":" + f"$s%.3f" }
      .mkString("{", ",", "}")
    val errs = failed.toSeq.map("\"" + _ + "\"").mkString("[", ",", "]")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath),
      f"""{"sf":"$sfDir","n":${times.size},"total_cold":$total%.2f,"errors":$errs,"cold":$body}""")
    System.err.println(f"[sweep] total $total%.1f s over ${times.size} queries -> $outPath")
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
