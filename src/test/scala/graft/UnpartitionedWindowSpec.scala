package graft

/** Scale guard: no catalog query may run a corpus-sized window over
  * SinglePartition.
  *
  * `Window.orderBy(...)` with no `partitionBy` plans as one task holding
  * the whole frame — the single plan shape that cannot survive a 100x
  * scale-up. The catalog's three formerly-global corpus windows
  * (`pipe_zorder_layout`'s ntile(64) file buckets, `window_rfm_scores`'
  * three ntile(5) scores, `window_pareto_abc`'s running revenue sum) are
  * now computed distributed via [[graft.plans.RangeWindow]]; this spec
  * pins that they STAY that way, and that every remaining unpartitioned
  * window in the catalog sits on a frame whose size is proven bounded by
  * something other than the corpus — so the next contributor cannot
  * silently reintroduce a corpus-sized one.
  *
  * [[CatalogSweep]] counts the `Window` nodes with an empty partitionSpec
  * in every catalog query's OPTIMIZED logical plan (window partitioning
  * survives optimization unchanged; physical planning maps empty
  * partitionSpec 1:1 to a SinglePartition WindowExec), and this spec
  * asserts the offender multiset equals the allowlist below. Every
  * allowlist entry names its bound: the row count feeding the window is
  * a CONSTANT (seeds, reps, quantile grid, vocabulary cap) or
  * calendar-bounded (days between fixture min/max dates), never
  * proportional to table size.
  */
class UnpartitionedWindowSpec extends SparkSpec {

  /** query name -> (allowed unpartitioned-window count, proven bound). */
  private val allowed: Map[String, (Int, String)] = Map(
    "agg_bootstrap_ci" -> (1,
      "32 bootstrap replicate means (constant rep count; " +
        "CoreQueries agg_bootstrap_ci)"),
    "ml_ridge_crossval" -> (1,
      "OVER () on the groupBy(fold) moment aggregate: k=3 rows"),
    "sim_ann_pq" -> (2,
      "row_number over the PQ seed frame, 4 rows after limit(4); two " +
        "plan instances because the cent1 subtree is inlined twice"),
    "text_bpe_train" -> (1,
      "rank over the 20 rows surviving the bounded-heap TopKPerKey " +
        "(vocab top-20 merge output, constant)"),
    "window_changepoint" -> (3,
      "per-day aggregate series: frame = distinct calendar days " +
        "(calendar-bounded, never corpus-sized)"),
    "window_concurrency_sweep" -> (2,
      "per-day net/active/peak series: calendar-bounded frame"),
    "window_lag_features" -> (1,
      "per-day total series (lag 1/7): calendar-bounded frame"),
    "window_moving_avg" -> (1,
      "per-day total series, ROWS -6..0: calendar-bounded frame"),
    "window_seasonal_decompose" -> (1,
      "per-(day,dow) aggregate series, ROWS -3..3: calendar-bounded"))

  test("every unpartitioned window sits on a proven-bounded frame") {
    val offenders: Map[String, Int] = CatalogSweep.plans.collect {
      case (n, p) if p.optimizedWindows > 0 => n -> p.optimizedWindows
    }.toMap

    val unexpected = offenders.filter { case (n, c) =>
      !allowed.get(n).exists(_._1 == c)
    }
    val stale = allowed.keys.filterNot(offenders.contains)
    assert(unexpected.isEmpty,
      s"unpartitioned windows outside the allowlist (add ONLY with a " +
        s"documented non-corpus bound): ${unexpected.toSeq.sorted}")
    assert(stale.isEmpty,
      s"allowlist entries no longer present (prune them): ${stale.toSeq.sorted}")
  }

  test("the ANALYZED plans hide no unpartitioned window behind a persist") {
    // The optimized-plan sweep above sees InMemoryRelation where a
    // builder persisted a subtree (CacheManager.useCachedData swaps it in
    // before optimization) — so a corpus window computed BELOW a persist
    // would be invisible to it. The analyzed plan is pre-substitution:
    // every query whose analyzed plan carries ANY unpartitioned window
    // must be on the allowlist (membership only — the optimizer
    // legitimately changes instance counts by inlining/pruning).
    val offenders: Set[String] = CatalogSweep.plans.collect {
      case (n, p) if p.analyzedWindows > 0 => n
    }.toSet
    val unexpected = offenders.filterNot(allowed.contains)
    assert(unexpected.isEmpty,
      s"unpartitioned windows in ANALYZED plans outside the allowlist " +
        s"(possibly hidden behind a persist in the optimized sweep): " +
        s"${unexpected.toSeq.sorted}")
  }

  test("the three RangeWindow rewrites stay free of unpartitioned windows") {
    Seq("pipe_zorder_layout", "window_rfm_scores", "window_pareto_abc")
      .foreach { name =>
        assert(CatalogSweep.plansOf(name).optimizedWindows == 0,
          s"$name regressed to a SinglePartition window")
      }
  }
}
