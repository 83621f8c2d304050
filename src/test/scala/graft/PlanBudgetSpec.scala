package graft

import graft.PlanBudget.Counts

/** Scale guard: no catalog query may silently gain a shuffle, a broadcast,
  * or an O(n·m) join shape.
  *
  * The bench gate catches a query getting slower at sf0.1; an extra
  * exchange hides inside that timing noise locally and only shows up as a
  * full corpus repartition at 100 TB. This spec reads every query's
  * pre-execution physical-plan shape counts (see [[graft.PlanBudget]])
  * from [[CatalogSweep]], which builds each query the way
  * `PlanBudgetProbe` does, and ratchets them against the checked-in
  * `docs/PLAN_BUDGET.json`:
  *
  *  - EXCEEDING a budget row fails — if the extra exchange is deliberate,
  *    refresh with `scripts/run_main.sh graft.PlanBudgetProbe` and review
  *    the diff like a lockfile (the diff IS the review artifact: one line
  *    per query).
  *  - Cartesian products are banned outright — the catalog has zero and
  *    a new one is never the right plan at scale (a broadcast-nested-loop
  *    with a proven-tiny build side is the acceptable O(n·m) shape, and
  *    those are ratcheted per-query: the current population is scalar
  *    aggregates joined back onto a frame — 1-row broadcast — and
  *    bounded lexicon/centroid/grid frames on fuzzy or range conditions).
  *  - A query missing from the budget fails (new queries must be budgeted
  *    at birth).
  */
class PlanBudgetSpec extends SparkSpec {

  private lazy val budget: Map[String, Counts] =
    PlanBudget.parse("docs/PLAN_BUDGET.json")

  private lazy val now: Seq[(String, Counts)] =
    CatalogSweep.plans.map { case (n, p) => n -> p.budget }.sortBy(_._1)

  test("budget file exists and covers the whole catalog") {
    assert(budget.nonEmpty,
      "docs/PLAN_BUDGET.json missing or unparseable — regenerate with " +
        "scripts/run_main.sh graft.PlanBudgetProbe")
    val unbudgeted = CatalogSweep.queries.map(_.name).toSet -- budget.keySet
    assert(unbudgeted.isEmpty,
      s"catalog queries without a plan budget (run PlanBudgetProbe and " +
        s"review the new rows): ${unbudgeted.toSeq.sorted.mkString(", ")}")
  }

  test("no query exceeds its exchange budget") {
    val regressions = now.flatMap { case (n, c) =>
      budget.get(n).filter(c.exceeds).map(b =>
        s"  $n: now=${c.json} budget=${b.json} [sh,bc,cp,nl]")
    }
    assert(regressions.isEmpty,
      "plan(s) gained exchanges / O(n·m) joins vs docs/PLAN_BUDGET.json —" +
        " at 100 TB each extra shuffle is a corpus repartition. If " +
        "deliberate, refresh via scripts/run_main.sh graft.PlanBudgetProbe" +
        " and justify in the commit:\n" + regressions.mkString("\n"))
  }

  test("the budget counts the exchanges inside a materialized cache") {
    import org.apache.spark.sql.functions.col
    val s = PlanBudget.session(spark)
    val cached = s.range(0, 1000).repartition(7)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      cached.count()
      val agg = cached.groupBy((col("id") % 3).as("k")).count()
      // the aggregate's own exchange, plus the repartition's, which sits
      // inside a query stage of the materialized cache's final plan
      val c = PlanBudget.count(agg.queryExecution.executedPlan)
      assert(c.sh === 2, s"counted ${c.json}; the cached repartition's " +
        "shuffle is invisible to the budget")
    } finally cached.unpersist(blocking = true)
  }

  test("zero cartesian products anywhere in the catalog") {
    val offenders = now.collect { case (n, c) if c.cp > 0 => s"$n(${c.cp})" }
    assert(offenders.isEmpty,
      s"CartesianProductExec in: ${offenders.mkString(", ")}")
  }
}
