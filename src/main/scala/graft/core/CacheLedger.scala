package graft.core

import org.apache.spark.sql.DataFrame

/** Registry for persisted intermediates that must OUTLIVE their builder.
  *
  * Most catalog persists unpersist before returning (FkFilter, the dedup
  * band tables) because the result is materialized in-scope. A few
  * builders return a LAZY frame that still references the persisted
  * relation (pipe_aspect_match's vocab×lexicon score table — the analog
  * of the reference's `aspect_match` temp table), so the builder cannot
  * unpersist; left alone those accumulate for the life of the session.
  * Builders `track` such frames here; catalog/gate drivers (Verify,
  * Bench, BenchColdSweep, PlanBudgetProbe, Explain and the test
  * gate's CatalogSweep) call [[release]] after materializing each
  * query's result. Sizes are vocab-bounded KBs, so releasing is hygiene,
  * not memory pressure — a long-lived service embedding the catalog
  * should do the same.
  */
object CacheLedger {
  private val live = scala.collection.mutable.ArrayBuffer.empty[DataFrame]

  /** Register a persisted frame for deferred cleanup; returns it. */
  def track(df: DataFrame): DataFrame = synchronized { live += df; df }

  /** Unpersist (non-blocking) and forget every tracked frame. Safe to
    * call with in-flight lazy plans ONLY after their results are
    * materialized — i.e. between queries, not inside one. */
  def release(): Unit = synchronized {
    live.foreach(_.unpersist(false))
    live.clear()
  }

  /** Number of currently tracked frames (for specs). */
  def size: Int = synchronized(live.size)
}
