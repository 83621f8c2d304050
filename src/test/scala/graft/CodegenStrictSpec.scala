package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.internal.StaticSQLConf

/** Every catalog query executes with whole-stage-codegen fallback
  * DISABLED (`spark.sql.codegen.fallback=false`).
  *
  * A generated class that fails to compile (Janino's 64 KB method
  * limit, constant-pool overflow) normally demotes the stage to
  * INTERPRETED evaluation with nothing but a log line — results stay
  * correct while a corpus-sized stage quietly runs ~10-100× slower at
  * scale. The ×10 gate caught exactly that on the N7 band-key stage
  * (1,024 inline mul-add terms in one Project; fixed by the compiled
  * `band_keys_l` kernel — SCALE.md §whole-stage-codegen-guard). With
  * fallback off, a compile failure throws instead of demoting, so a
  * config-scaled expression chain cannot re-enter the catalog unnoticed.
  *
  * Execution (not just planning) is required — codegen compiles lazily
  * at first execute. [[CatalogSweep]] runs every query that way, through
  * the noop sink, once per test JVM; the first case reads its failures.
  *
  * The second case pins the other side of codegen cost: a query run
  * again after many other compiles must reuse its cached classes, which
  * needs build.sbt's `spark.sql.codegen.cache.maxEntries`.
  */
class CodegenStrictSpec extends SparkSpec {

  test("every catalog query executes with codegen fallback disabled") {
    val failures = CatalogSweep.failures.map { case (n, e) =>
      n -> e.toString.linesIterator.take(3).mkString(" ")
    }
    assert(failures.isEmpty,
      s"${failures.size} queries cannot run without codegen fallback " +
        "(a generated class failed to compile — move the offending " +
        "expression chain into a compiled kernel):\n" +
        failures.map { case (n, m) => s"  $n: $m" }.mkString("\n"))
  }

  test("a query's generated classes survive more than Spark's default " +
      "100 other compiles") {
    // A failed compile is never cached, so with fallback off the sweep
    // above still sees every compile failure whatever this bound is.
    val key = StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key
    val bound = spark.conf.get(key)
    assert(bound != StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.defaultValueString,
      s"$key is Spark's default $bound: run with build.sbt's javaOptions, " +
        "which size the class cache to the catalog's working set")
    def compiles(body: => Unit): Long = {
      val n0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      body
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - n0
    }
    def x(): Unit = spark.range(1000).selectExpr("id % 7 AS k", "id * 3 AS v")
      .groupBy("k").sum("v").collect()
    x()
    val others = compiles((1 to 150).foreach { i =>
      spark.range(10).selectExpr(s"id * 7919 + $i").collect()
    })
    assert(others > 100, s"only $others distinct classes compiled")
    val rerun = compiles(x())
    assert(rerun == 0,
      s"rerun recompiled $rerun classes after $others others ($key = $bound)")
  }
}
