package graft

import org.apache.spark.sql.functions._

import graft.queries.TextQueries
import graft.sources.Html

/** Round-13 operators: the real-markup boilerplate path (own-parser DOM
  * leaf blocks feeding the shared jusText classifier) pinned against a
  * hand-written gomus-style page and, where the reference checkout is
  * present, a REFERENCE fixture page; and the domain-level curation stage.
  */
class Round13OpsSpec extends SparkSpec {

  /** (block text, link-text chars, verdict) for every leaf block of a
    * page; asserts that no script text surfaced in any block. */
  private def classify(src: String): Array[(String, Int, String)] = {
    import spark.implicits._
    val blocks = Html.leafBlocks(Html.parse(src))
    assert(blocks.nonEmpty)
    // raw-text exclusion: the page carries a rollbar JS blob; none of it
    // may surface as block text
    assert(!blocks.exists(_._1.contains("_rollbarConfig")),
      "script text leaked into a block")
    blocks.zipWithIndex
      .map { case ((btext, ll), i) => (i, btext, ll) }
      .toDF("bidx", "btext", "link_len")
      .withColumn("v", TextQueries.blockVerdict(col("btext"), col("link_len")))
      .collect()
      .map(r => (r.getAs[String]("btext"), r.getAs[Int]("link_len"),
        r.getAs[String]("v")))
  }

  test("leafBlocks + blockVerdict classify a hand-written gomus page: " +
      "script text excluded, nav link-dense, detail cells kept") {
    val src = new String(getClass.getResourceAsStream("/gomus_quota_page.html")
      .readAllBytes(), "UTF-8")
    val classified = classify(src)
    // 13 leaf blocks: the script's host div (empty once the script is
    // excluded), 4 nav items, the breadcrumb, 6 detail cells, 1 paragraph
    assert(classified.length == 13, classified.mkString("\n"))
    val byV = classified.groupBy(_._3).view.mapValues(_.length).toMap
    assert(byV == Map("link" -> 5, "short" -> 6, "lowstop" -> 1,
      "content" -> 1), byV)
    assert(classified.contains(("", 0, "short")))
    assert(classified.contains(("Kontingent bearbeiten", 21, "link")))
    assert(classified.contains(("Tickets & Preise", 16, "link")))
    assert(classified.contains(("Tausendfüßler-Kontingent", 0, "short")))
    assert(classified.contains(("14. März 2015, 13:41 Uhr", 0, "lowstop")))
    // link-text attribution comes from DOM <a> descendants, not regex:
    // the second breadcrumb anchor carries nested markup whose text counts
    assert(classified.contains(("Start / Kontingente (3)", 20, "link")))
    assert(classified.exists { case (t, ll, v) =>
      t.startsWith("The quota applies") && ll == 0 && v == "content" })
  }

  test("leafBlocks + blockVerdict classify a reference gomus page: " +
      "script text excluded, nav link-dense, detail cells kept") {
    val refData = java.nio.file.Paths.get("/root/reference/tests/test_data")
    assume(java.nio.file.Files.isDirectory(refData))
    val classified = classify(new String(java.nio.file.Files.readAllBytes(
      refData.resolve("gomus/quotas/quotas_1.html")), "UTF-8"))
    // golden pins over the real page (311 leaf blocks): the sidebar /
    // navbar menus are link-dense, the quota detail cells are short
    // fragments, and the German date lines land lowstop (the stopword
    // list is English by design — a German page has no content blocks
    // under it, which is exactly what a language-gated curation run
    // wants to see upstream of langid routing)
    assert(classified.length == 311, s"got ${classified.length} blocks")
    val byV = classified.groupBy(_._3).view.mapValues(_.length).toMap
    assert(byV == Map("link" -> 142, "short" -> 160, "lowstop" -> 9), byV)
    // individual pins: a nav item with its true anchor-text length, a
    // detail heading, and a date line
    assert(classified.contains(("Kontingent bearbeiten", 23, "link")))
    assert(classified.contains(("Tausendfüßler-Kontingent", 0, "short")))
    assert(classified.contains(
      ("14. März 2015, 13:41 Uhr", 0, "lowstop")))
    // link-text attribution comes from DOM <a> descendants, not regex:
    // the breadcrumb "Kontingente" anchor carries trailing markup the
    // tag-strip regex form would miscount
    assert(classified.contains(("Kontingente", 13, "link")))
  }

  test("text_unicode_fix: mojibake chain, zero-width strip, NBSP and " +
      "control removal, audit counts") {
    import spark.implicits._
    val dir = scratchDir("ufix")
    // doc_id 0,1,2,3 pick the four corruption plants in order
    Seq((0L, "plain a"), (1L, "plain b"), (2L, "plain c"), (3L, "plain d"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = graft.queries.Catalog.byName("text_unicode_fix")
      .spark(spark, dir).collect()
      .map(r => r.getLong(0) -> r).toMap
    // plant 0: German mojibake + curly quotes repaired
    assert(rows(0L).getAs[String]("text_fixed") ==
      "plain a Müller sagte „hallo“ im Café")
    assert(rows(0L).getAs[Long]("n_moji_lead") == 2L)   // Ã¼, Ã©
    assert(rows(0L).getAs[Long]("n_punct_lead") == 2L)  // â€ž, â€œ
    // plant 1: dash/ellipsis triples
    assert(rows(1L).getAs[String]("text_fixed") ==
      "plain b dash – und — ellipse … fertig")
    // plant 2: zero-width chars removed, words fuse across ZWSP
    assert(rows(2L).getAs[Long]("n_zero_width") == 4L)
    assert(rows(2L).getAs[String]("text_fixed") ==
      "plain c zerowidth joined text here")
    // plant 3: NBSP -> space, BEL deleted, whitespace collapsed
    assert(rows(3L).getAs[Long]("n_nbsp") == 2L)
    assert(rows(3L).getAs[String]("text_fixed") ==
      "plain d nbsp and ctrl bytes")
  }

  test("src_html_outlinks: href-less anchors skipped, relative links " +
      "resolve to the page host, entities decode, utm params dropped") {
    import spark.implicits._
    val dir = scratchDir("olink")
    // one page: doc_id 0 -> src_host news.example.com (hosts[(0/5)%5])
    Seq((0L, "x")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = graft.queries.Catalog.byName("src_html_outlinks")
      .spark(spark, dir).collect()
    val byDst = rows.map(r =>
      r.getAs[String]("dst_domain") -> r).toMap
    // 3 links extracted (the name-only <a> skipped): one edge per dst
    assert(rows.map(_.getAs[Long]("n_links")).sum == 3L)
    assert(rows.forall(_.getAs[String]("src_domain") == "example.com"))
    // absolute + relative both land on example.com (self edge), with
    // the entity-decoded anchor winning the min
    assert(byDst("example.com").getAs[Long]("n_links") == 2L)
    assert(byDst("example.com").getAs[String]("first_anchor") == "Müller-0")
    // cross-host link to hosts[1] = spam-ads.example.biz
    assert(byDst.contains("example.biz"))
    assert(byDst("example.biz").getAs[String]("first_anchor") == "next")
  }
}
