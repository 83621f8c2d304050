package graft

/** Physical-plan shape regressions — the properties that make the catalog
  * hold up at 100 TB, asserted so a future edit can't silently trade them
  * away:
  *
  *  - small dims/lexicons broadcast (no shuffle of the fact side);
  *  - no lambda body tokenizes its row's text (PlanBudgetSpec bans
  *    cartesian products catalog-wide);
  *  - filters reach the parquet scan (PushedFilters);
  *  - projections prune the scan (ReadSchema carries only used columns).
  *
  * The plans are [[CatalogSweep]]'s, built against sf0.001 (plan shape,
  * not data, is under test).
  */
class PlanSpec extends SparkSpec {

  private def plan(name: String): String = CatalogSweep.plansOf(name).initial

  test("small-dim joins broadcast") {
    assert(plan("join_multiway_broadcast").contains("BroadcastHashJoin"))
    assert(plan("join_lexicon_equality").contains("BroadcastHashJoin"))
    assert(plan("src_catalog_geocode").contains("BroadcastHashJoin"))
    assert(plan("text_embedding_lookup").contains("BroadcastHashJoin"))
  }

  test("KNN forecast is a broadcast cross join, never a shuffled cartesian") {
    val p = plan("ml_knn_forecast")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"))
    assert(!p.contains("CartesianProduct"))
  }

  test("exhibition_day interval join broadcasts the tiny dim") {
    val p = plan("view_exhibition_day")
    assert(p.contains("BroadcastNestedLoopJoin"))
    assert(!p.contains("CartesianProduct"))
  }

  test("no lambda body tokenizes its row's text") {
    // The token array is projected once, before the lambda indexes it;
    // an interpreted lambda body would re-tokenize per element.
    val tokenizing = CatalogSweep.plans.collect {
      case (n, p) if p.tokenizers.nonEmpty => s"$n: ${p.tokenizers.head}"
    }
    assert(tokenizing.isEmpty,
      "tokenizer evaluated per element inside a lambda:\n" +
        tokenizing.mkString("\n"))
  }

  test("filters are pushed down to the parquet scan") {
    val p = plan("join_fkey_violations")
    assert(p.contains("PushedFilters: [") && p.contains("IsNotNull"),
      s"expected pushed filters in:\n$p")
  }

  test("projections prune the scan schema") {
    // set_union_all touches only the nationkey columns; a scan that still
    // reads customer's other columns would be a pruning break.
    val p = plan("set_union_all")
    assert(p.contains("ReadSchema"))
    assert(Seq("c_name", "c_acctbal", "c_mktsegment").forall(!p.contains(_)),
      s"unpruned customer scan in:\n$p")
  }
}
