package graft

/** Read-side proof for the Z-order layout (r10 verdict item 3): the
  * write-side query shows per-bucket bounding boxes shrink; this spec
  * shows a selective two-key box read of the SAME data touches a
  * fraction of the z-clustered files while the natural layout must read
  * ~all of them — by parquet footer stats (what a pruning reader must
  * touch) AND by the executed scan's own row metric (what Spark's
  * row-group skipping actually produced).
  */
class ZorderSkipSpec extends SparkSpec {

  test("z-order layout prunes the box read; natural layout cannot") {
    val r = graft.core.ZorderSkip.run(spark, CatalogSweep.fixtures,
      files = 32)
    info(r.json)
    assert(r.selectedRows > 0, "the box predicate must select something")
    // Footer stats: z-order must need at most half the files the natural
    // layout needs (at real scales it's far less; the margin keeps the
    // spec robust to the tiny fixture's key ranges).
    assert(r.zFilesNeeded * 2 <= r.nFilesNeeded,
      s"z layout needs ${r.zFilesNeeded} of ${r.files} files; natural " +
        s"needs ${r.nFilesNeeded} — no pruning payoff")
    // Executed scans: the vectorized reader's row-group skipping must
    // have produced materially fewer rows on the z layout.
    assert(r.zScanRows * 2 <= r.nScanRows,
      s"z scan produced ${r.zScanRows} rows vs natural ${r.nScanRows} — " +
        "row-group skipping shows no payoff")
    // Both layouts agree on the answer (already required inside run()).
    assert(r.zScanRows >= r.selectedRows,
      "scan output can never be smaller than the true selection")
  }
}
