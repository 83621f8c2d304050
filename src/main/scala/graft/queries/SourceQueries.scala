package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.{Sources, Xlsx}

/** Source-scan coverage (SURVEY.md §2.1): each query first EMITS a file
  * fixture of the reference's ingestion shape from the test tables (typed
  * CSV report, cursor-paged JSON capture, static CSV catalog), then runs
  * the real scan + downstream operators over those files — so the full
  * scan path (schema application, converters, flattening, broadcast) is
  * value-checked against a DuckDB oracle that computes the same result
  * straight from the parquet tables. A lossy or mistyped scan cannot
  * hash-match.
  *
  * Aggregated fingerprints use [[QueryBase.wsum]] (exact at any group
  * size) emitted as decimal strings; DuckDB's HUGEINT sums cast to
  * VARCHAR produce the same digits.
  */
object SourceQueries extends QueryBase {

  /** Outlink extraction + domain link-graph rollup (the web-pipeline
    * stage between page fetch and link-graph analytics — the edge list
    * this builds is exactly what the `ml_pagerank`/`ml_hits` operator
    * family consumes for domain authority priors). Pages are minted as
    * FILES (bounded subset; fixture plumbing replayed by the oracle):
    * each carries one absolute link with tracking params and an HTML
    * entity in its anchor, one cross-host link, one RELATIVE link, and
    * one href-less `<a>` the extractor must skip. The extraction runs
    * in the binaryFile scan via the own parser ([[graft.sources.Html]]
    * DOM, `visibleText` anchors — entity decode exercised end-to-end);
    * relative resolution + canonicalization (lowercase host, strip
    * `www.`/default ports, drop `utm_*` and fragments) are the SAME
    * expression rules as `text_url_normalize`; the rollup is one
    * domain-pair aggregate. The oracle recomputes hrefs, decode,
    * normalization and rollup from `documents` in SQL, so a parser or
    * normalization divergence cannot hash-match.
    *
    * Scale shape: the page MINT is driver-side fixture plumbing (one
    * local file per selected doc) and is bounded scale-independently —
    * `doc_id % 5 = 0 AND doc_id < 5000` caps it at 1000 pages no matter
    * the corpus size (the ×K mints shift copy keys by 1e9, so only
    * base-copy ids qualify). The OPERATOR itself (parse + normalize)
    * runs inside the binaryFile scan tasks, linear over page count, with
    * ONE shuffle on (src_domain, dst_domain) whose output is
    * domain-pair-cardinality. */
  private val htmlOutlinksQ = Q(
    "src_html_outlinks",
    (s, dir) => {
      val hosts = Seq("news.example.com", "spam-ads.example.biz",
        "blog.sample.org", "cdn.tracker.net", "wiki.sample.org")
      val out = Sources.scratch(s, "outlink_pages")
      val docs = t(s, dir, "documents")
        .filter(col("doc_id") % 5 === 0 && col("doc_id") < 5000)
        .select("doc_id")
        .collect() // bounded fixture mint: <= 1000 pages at ANY scale
      val d = new java.io.File(out)
      d.mkdirs()
      docs.foreach { r =>
        val id = r.getLong(0)
        val nextHost = hosts(((id / 5) % 5 + 1).toInt % 5)
        val page = "<html><body>\n" +
          "<p>page " + id + "</p>\n" +
          "<a href=\"HTTPS://WWW.Example.COM/p/" + (id % 50) +
          "?utm_source=feed&amp;id=" + (id % 7) + "\">M&uuml;ller-" +
          (id % 7) + "</a>\n" +
          "<a href=\"https://" + nextHost + "/x/" + (id % 9) +
          "#frag\">next</a>\n" +
          "<a href=\"/local/" + (id % 4) + "\">self</a>\n" +
          "<a name=\"anchor-only\">skip me</a>\n" +
          "</body></html>"
        java.nio.file.Files.write(
          new java.io.File(d, s"$id.html").toPath,
          page.getBytes("UTF-8"))
      }
      import s.implicits._
      val idRe = """(\d+)\.html$""".r.unanchored
      val links = s.read.format("binaryFile")
        .option("pathGlobFilter", "*.html")
        .load(out)
        .select(col("path"), col("content"))
        .as[(String, Array[Byte])]
        .flatMap { case (path, bytes) =>
          val id = idRe.findFirstMatchIn(path)
            .map(_.group(1).toLong).getOrElse(-1L)
          val dom = graft.sources.Html.parse(new String(bytes, "UTF-8"))
          dom.descendants.filter(_.tag == "a").flatMap { a =>
            a.attr("href").map(h =>
              (id, h, graft.sources.Html.visibleText(a)))
          }
        }
        .toDF("doc_id", "href", "anchor")
      val srcHost = element_at(
        array(hosts.map(lit(_)): _*),
        (pmod(expr("doc_id DIV 5"), lit(5)) + 1).cast("int"))
      val abs = when(col("href").startsWith("/"),
        concat(lit("https://"), srcHost, col("href")))
        .otherwise(col("href"))
      // Shared public-suffix registrable-domain rule (functions/Domains);
      // this fixture's hosts are all on single-label TLDs, so the duck
      // face's two-label slice stays value-identical.
      def domainOf(host: Column): Column =
        graft.functions.Domains.registrable(host)
      val dstHost = regexp_replace(regexp_replace(
        lower(regexp_extract(abs, "^[A-Za-z]+://([^/?#]+)", 1)),
        "^www\\.", ""), ":(443|80)$", "")
      val path_ = regexp_extract(abs, "^[A-Za-z]+://[^/?#]+([^?#]*)", 1)
      val q2 = concat_ws("&",
        filter(split(regexp_extract(abs, "\\?([^#]*)", 1), "&"),
          x => !x.startsWith("utm_") && x =!= lit("")))
      val canon = concat(lit("https://"), dstHost, path_,
        when(q2 =!= "", concat(lit("?"), q2)).otherwise(lit("")))
      links
        .select(col("doc_id"), col("anchor"),
          domainOf(srcHost).as("src_domain"),
          domainOf(dstHost).as("dst_domain"),
          canon.as("canon"))
        .groupBy("src_domain", "dst_domain")
        .agg(count(lit(1)).as("n_links"),
          countDistinct(col("doc_id")).as("n_pages"),
          countDistinct(col("canon")).as("n_canonical"),
          min(col("anchor")).as("first_anchor"))
        .orderBy("src_domain", "dst_domain")
    },
    Some("""
      WITH ids AS (
        SELECT doc_id,
          CASE ((doc_id // 5) % 5 + 1) % 5
            WHEN 0 THEN 'news.example.com'
            WHEN 1 THEN 'spam-ads.example.biz'
            WHEN 2 THEN 'blog.sample.org'
            WHEN 3 THEN 'cdn.tracker.net'
            ELSE 'wiki.sample.org' END AS next_host,
          CASE (doc_id // 5) % 5
            WHEN 0 THEN 'news.example.com'
            WHEN 1 THEN 'spam-ads.example.biz'
            WHEN 2 THEN 'blog.sample.org'
            WHEN 3 THEN 'cdn.tracker.net'
            ELSE 'wiki.sample.org' END AS src_host
        FROM documents WHERE doc_id % 5 = 0 AND doc_id < 5000),
      links AS (
        SELECT doc_id, src_host,
          'HTTPS://WWW.Example.COM/p/' || CAST(doc_id % 50 AS VARCHAR) ||
            '?utm_source=feed&id=' || CAST(doc_id % 7 AS VARCHAR) AS href,
          'Müller-' || CAST(doc_id % 7 AS VARCHAR) AS anchor
        FROM ids
        UNION ALL
        SELECT doc_id, src_host,
          'https://' || next_host || '/x/' ||
            CAST(doc_id % 9 AS VARCHAR) || '#frag', 'next'
        FROM ids
        UNION ALL
        SELECT doc_id, src_host,
          'https://' || src_host || '/local/' ||
            CAST(doc_id % 4 AS VARCHAR), 'self'
        FROM ids),
      norm AS (
        SELECT doc_id, anchor,
          array_to_string(string_split(src_host, '.')[-2:], '.')
            AS src_domain,
          regexp_replace(regexp_replace(
            lower(regexp_extract(href, '^[A-Za-z]+://([^/?#]+)', 1)),
            '^www\.', ''), ':(443|80)$', '') AS dst_host,
          regexp_extract(href, '^[A-Za-z]+://[^/?#]+([^?#]*)', 1) AS path,
          array_to_string(list_filter(
            string_split(regexp_extract(href, '\?([^#]*)', 1), '&'),
            x -> NOT starts_with(x, 'utm_') AND x <> ''), '&') AS q2
        FROM links)
      SELECT src_domain,
        array_to_string(string_split(dst_host, '.')[-2:], '.')
          AS dst_domain,
        count(*) AS n_links,
        count(DISTINCT doc_id) AS n_pages,
        count(DISTINCT 'https://' || dst_host || path ||
          CASE WHEN q2 <> '' THEN '?' || q2 ELSE '' END) AS n_canonical,
        min(anchor) AS first_anchor
      FROM norm
      GROUP BY 1, 2 ORDER BY 1, 2"""),
    doc = "HTML outlink extraction -> domain link-graph rollup: own-" +
      "parser DOM anchors (entity decode end-to-end), relative-URL " +
      "resolution + the text_url_normalize canonicalization rules, one " +
      "domain-pair aggregate; oracle recomputes hrefs/decode/rollup " +
      "from documents")

  private def sumStr(c: Column): Column =
    wsum(c).cast(DecimalType(38, 0)).cast("string")

  val all: Seq[Q] = Seq(htmlOutlinksQ) ++ Seq(
    // S1: typed CSV scan. The reference reads every report through
    // pandas read_csv with per-SQL-type converter callbacks (ARRAY →
    // literal_eval, bools from 'ja'/'nein'); here the emitted report
    // carries the same shapes (JSON-encoded array cell, German boolean)
    // and the scan is an explicit-schema CSV read + typed column
    // expressions — header honored, no inference pass (an inference pass
    // over a 100 TB capture would double the IO).
    Q(
      "src_csv_typed_scan",
      (s, dir) => {
        val out = Sources.scratch(s, "csv_docs")
        t(s, dir, "documents").select(
            col("doc_id"), col("lang"), col("n_chars"), col("text"),
            to_json(slice(split(lower(col("text")), "\\s+"), 1, 3)).as("tags_json"),
            when(col("n_chars") > 300, lit("ja")).otherwise(lit("nein"))
              .as("newsletter"))
          .write.mode("overwrite")
          .option("header", "true").option("quoteAll", "true")
          .csv(out)
        val schema = StructType(Seq(
          StructField("doc_id", LongType),
          StructField("lang", StringType),
          StructField("n_chars", LongType),
          StructField("text", StringType),
          StructField("tags_json", StringType),
          StructField("newsletter", StringType)))
        val r = Sources.typedCsv(s, out, schema)
          .withColumn("tags", from_json(col("tags_json"), ArrayType(StringType)))
          .withColumn("valid", col("newsletter") === "ja")
        r.groupBy("lang")
          .agg(
            count(lit(1)).as("n_docs"),
            sum(when(col("valid"), 1L).otherwise(0L)).as("n_valid"),
            sum(size(col("tags")).cast("long")).as("n_tags"),
            min(when(size(col("tags")) >= 3, element_at(col("tags"), 3)))
              .as("min_tag3"),
            sumStr(h64(col("text"))).as("sum_fp"))
          .orderBy("lang")
      },
      Some("""
        SELECT lang, count(*) AS n_docs,
               CAST(sum(CASE WHEN n_chars > 300 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_valid,
               CAST(sum(least(3, len(tk))) AS BIGINT) AS n_tags,
               min(CASE WHEN len(tk) >= 3 THEN tk[3] END) AS min_tag3,
               CAST(sum(CAST(concat('0x', substr(md5(text), 1, 15)) AS BIGINT))
                 AS VARCHAR) AS sum_fp
        FROM (SELECT lang, n_chars, text,
                     string_split_regex(lower(text), '\s+') AS tk
              FROM documents)
        GROUP BY lang ORDER BY lang"""),
      doc = "S1 typed CSV scan (converters: array cell, German bool) via " +
        "emitted report roundtrip; reference database.py:208-221"),

    // S3/S4: paginated REST/RSS JSON capture scan. Emits the capture as
    // cursor-paged files ({"cursor": n, "data": [record…]}) exactly like
    // the reference's saved Graph-API pages, then scans the directory
    // with an explicit schema and flattens with explode — pagination is
    // an ingestion artifact; the engine sees one declarative JSON scan.
    Q(
      "src_json_pages",
      (s, dir) => {
        val out = Sources.scratch(s, "json_pages")
        val ev = t(s, dir, "events")
          .filter(pmod(col("event_id"), lit(20L)) === 0)
          .select(col("event_id"), col("event_type"),
            round(col("value") * 1e6).cast("long").as("value_u"),
            pmod(col("user_id"), lit(8L)).as("page"))
        ev.groupBy("page")
          .agg(collect_list(struct(col("event_id"), col("event_type"),
            col("value_u"))).as("data"))
          .select(to_json(struct(col("page").as("cursor"), col("data")))
            .as("value"))
          .write.mode("overwrite").text(out)
        val pageSchema = StructType(Seq(
          StructField("cursor", LongType),
          StructField("data", ArrayType(StructType(Seq(
            StructField("event_id", LongType),
            StructField("event_type", StringType),
            StructField("value_u", LongType)))))))
        Sources.jsonPages(s, out, pageSchema)
          .select(explode(col("data")).as("e"))
          .groupBy(col("e.event_type").as("event_type"))
          .agg(
            count(lit(1)).as("n_events"),
            sumStr(col("e.value_u")).as("sum_value_u"),
            max(col("e.event_id")).as("max_event_id"))
          .orderBy("event_type")
      },
      Some("""
        SELECT event_type, count(*) AS n_events,
               CAST(sum(CAST(round(value * 1e6) AS BIGINT)) AS VARCHAR)
                 AS sum_value_u,
               max(event_id) AS max_event_id
        FROM events WHERE event_id % 20 = 0
        GROUP BY event_type ORDER BY event_type"""),
      doc = "S3/S4 cursor-paged JSON capture scan + explode flatten; " +
        "reference facebook.py:82-115, apple_appstore.py:131-167"),

    // S9 + P12/J12: static CSV catalog broadcast join — the postal
    // (plz → lat/lon) geocoding pattern. The catalog is emitted as one
    // small CSV (its production analog ships with the job), scanned with
    // a typed schema, and broadcast — the fact side never shuffles, which
    // is what makes per-row geocoding viable against a 100 TB fact table.
    Q(
      "src_catalog_geocode",
      (s, dir) => {
        val out = Sources.scratch(s, "plz_catalog")
        val withPlz = t(s, dir, "customer").withColumn("plz",
          lpad((pmod(col("c_custkey") * 7919, lit(900L)) + 100).cast("string"),
            5, "0"))
        withPlz.select("plz").distinct()
          .select(col("plz"),
            pmod(h64(concat(lit("lat:"), col("plz"))), lit(6000000L)).as("lat_u"),
            pmod(h64(concat(lit("lon:"), col("plz"))), lit(9000000L)).as("lon_u"))
          .coalesce(1)
          .write.mode("overwrite").option("header", "true").csv(out)
        val cat = Sources.staticCatalog(s, out, StructType(Seq(
          StructField("plz", StringType),
          StructField("lat_u", LongType),
          StructField("lon_u", LongType))))
        withPlz.join(cat, Seq("plz"), "left")
          .groupBy("c_mktsegment")
          .agg(count(lit(1)).as("n_cust"),
            sumStr(col("lat_u")).as("sum_lat_u"),
            sumStr(col("lon_u")).as("sum_lon_u"))
          .orderBy("c_mktsegment")
      },
      Some("""
        WITH plzd AS (
          SELECT c_mktsegment,
                 lpad(CAST((c_custkey * 7919) % 900 + 100 AS VARCHAR), 5, '0')
                   AS plz
          FROM customer),
        cat AS (
          SELECT DISTINCT plz,
                 CAST(concat('0x', substr(md5('lat:' || plz), 1, 15)) AS BIGINT)
                   % 6000000 AS lat_u,
                 CAST(concat('0x', substr(md5('lon:' || plz), 1, 15)) AS BIGINT)
                   % 9000000 AS lon_u
          FROM plzd)
        SELECT c_mktsegment, count(*) AS n_cust,
               CAST(sum(lat_u) AS VARCHAR) AS sum_lat_u,
               CAST(sum(lon_u) AS VARCHAR) AS sum_lon_u
        FROM plzd JOIN cat USING (plz)
        GROUP BY c_mktsegment ORDER BY c_mktsegment"""),
      doc = "S9 static CSV catalog + P12/J12 broadcast geocode join; " +
        "reference german_postal_codes.py:10-28, cleanse_data.py:114-138"),

    // N6: word-embedding lookup join. The reference resolves tokens
    // against a gensim word2vec keyed-vector store on the driver; the
    // scale-correct engine form is a broadcast join token → (word,
    // vector) lexicon — out-of-vocabulary tokens drop out of the join
    // exactly like a missing word2vec key. Vectors here are derived
    // deterministically from the word (md5 per dimension) so the oracle
    // reproduces the whole lookup, vocabulary cut included.
    Q(
      "text_embedding_lookup",
      (s, dir) => {
        val tok = th(s, dir, "documents")
          .select(col("doc_id"), col("lang"),
            explode(split(lower(col("text")), "\\s+")).as("word"))
        val dims = (0 to 3).map(d =>
          (pmod(h64(concat(col("word"), lit(s":$d"))), lit(2001L)) - 1000)
            .as(s"v$d"))
        val lex = tok.groupBy("word").agg(count(lit(1)).as("cnt"))
          .filter(col("cnt") >= 10)
          .select(col("word") +: dims: _*)
        tok.join(broadcast(lex), Seq("word"))
          .groupBy("lang")
          .agg(count(lit(1)).as("n_hits"),
            sumStr(col("v0")).as("sum_v0"), sumStr(col("v1")).as("sum_v1"),
            sumStr(col("v2")).as("sum_v2"), sumStr(col("v3")).as("sum_v3"))
          .orderBy("lang")
      },
      Some("""
        WITH tok AS (
          SELECT doc_id, lang,
                 unnest(string_split_regex(lower(text), '\s+')) AS word
          FROM documents),
        lex AS (
          SELECT word,
                 CAST(concat('0x', substr(md5(word || ':0'), 1, 15)) AS BIGINT)
                   % 2001 - 1000 AS v0,
                 CAST(concat('0x', substr(md5(word || ':1'), 1, 15)) AS BIGINT)
                   % 2001 - 1000 AS v1,
                 CAST(concat('0x', substr(md5(word || ':2'), 1, 15)) AS BIGINT)
                   % 2001 - 1000 AS v2,
                 CAST(concat('0x', substr(md5(word || ':3'), 1, 15)) AS BIGINT)
                   % 2001 - 1000 AS v3
          FROM tok GROUP BY word HAVING count(*) >= 10)
        SELECT lang, count(*) AS n_hits,
               CAST(sum(v0) AS VARCHAR) AS sum_v0,
               CAST(sum(v1) AS VARCHAR) AS sum_v1,
               CAST(sum(v2) AS VARCHAR) AS sum_v2,
               CAST(sum(v3) AS VARCHAR) AS sum_v3
        FROM tok JOIN lex USING (word)
        GROUP BY lang ORDER BY lang"""),
      doc = "N6 word2vec-style broadcast embedding lookup with vocabulary " +
        "cut; reference post_opinion_patterns.py:104-113,150-167"),

    // S2: XLSX sheet scan — the reference downloads gomus report
    // workbooks and extracts sheet 0 via xlrd (fetch_report_helper.py:
    // 62-68). Here the bounded daily-entries report (one row per day —
    // the entries_1day analog) is minted as REAL .xlsx workbooks (zip of
    // OOXML parts; one with a shared-string table, one with inline
    // strings — both producer encodings), then scanned back by the
    // JDK-StAX reader distributed over binaryFile (one task per
    // workbook), serial dates decoded by the P7 expression. The oracle
    // recomputes the report straight from `events`, so a lossy sheet
    // parse (dropped sparse cell, wrong sheet, broken shared-string
    // index, bad serial) cannot hash-match.
    Q(
      "src_xlsx_report",
      (s, dir) => {
        val out = Sources.scratch(s, "xlsx_report")
        val daily = t(s, dir, "events")
          .groupBy(to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("n"),
            sum(round(col("value") * 100).cast("long")).as("cents"),
            max(col("event_type")).as("top"))
          .orderBy("day")
          .collect() // bounded: one row per calendar day
        val header = Seq("Datum", "Anzahl", "UmsatzCent", "Typ", "Storniert")
        val body: Seq[Seq[Any]] = daily.toSeq.map { r =>
          Seq(r.getDate(0).toLocalDate, r.getLong(1), r.getLong(2),
            r.getString(3), r.getLong(2) % 2 == 0)
        }
        val d = new java.io.File(out)
        d.mkdirs()
        val (firstHalf, secondHalf) = body.splitAt((body.size + 1) / 2)
        Xlsx.write(new java.io.File(d, "report_0.xlsx"),
          header +: firstHalf, useSharedStrings = true)
        Xlsx.write(new java.io.File(d, "report_1.xlsx"),
          header +: secondHalf, useSharedStrings = false)
        Xlsx.readSheet(s, out)
          .select(
            // P7: Excel serial → date (epoch 1899-12-30)
            date_format(
              date_add(lit("1899-12-30").cast("date"),
                col("Datum").cast("int")), "yyyy-MM-dd").as("day"),
            col("Anzahl").cast("long").as("n_events"),
            col("UmsatzCent").cast("long").as("rev_cents"),
            col("Typ").as("top_type"),
            (col("Storniert") === "true").as("cancelled"))
          .orderBy("day")
      },
      Some("""
        SELECT strftime(ts, '%Y-%m-%d') AS day,
               count(*) AS n_events,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                 AS rev_cents,
               max(event_type) AS top_type,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) % 2 = 0
                 AS cancelled
        FROM events GROUP BY 1 ORDER BY day"""),
      doc = "S2 xlsx sheet scan (JDK-StAX over binaryFile, shared + inline " +
        "strings, P7 serial dates) via minted report workbooks; reference " +
        "fetch_report_helper.py:62-68"),

    // Aspect-tree config ingestion (SURVEY §3; reference
    // target_aspects.py:110-149): nested JSONC → flatten (quoted-key
    // strip, unquoted self-add, last-descendant scope leak, dict
    // collapse) → (aspect, word) lexicon, entering the engine as the
    // broadcast dim the J6 aspect joins consume. The oracle rows are
    // reference-derived: the output of the reference's own flatten/expand
    // run over this fixture (also asserted in AspectsSpec).
    Q(
      "src_aspect_tree",
      (s, dir) => {
        import s.implicits._
        val fixture = """
        {
          /* engine fixture: quoted keys, nesting, empties, scope leak */
          "'General'": ["alpha", "beta"],
          "Exhibits": {
            "'General'": ["art", "canvas"],
            "Modern": ["klee", "munch"],
            "Empty": [],
            "Nested": {"Deep": ["deepword"]}
          },
          "Cafe": ["coffee", "cake"]
        }"""
        graft.absa.TargetAspects.lexicon(fixture).zipWithIndex
          .map { case ((path, w), i) => (i + 1, path.mkString(">"), w) }
          .toDF("ord", "aspect", "word")
          .orderBy("ord")
      },
      Some("""
        SELECT * FROM (VALUES
          (1, 'General', 'alpha'), (2, 'General', 'beta'),
          (3, 'Exhibits>General', 'art'), (4, 'Exhibits>General', 'canvas'),
          (5, 'Exhibits>Modern', 'klee'), (6, 'Exhibits>Modern', 'munch'),
          (7, 'Exhibits>Modern', 'Modern'),
          (8, 'Exhibits>Empty', 'Empty'),
          (9, 'Exhibits>Nested>Deep', 'deepword'),
          (10, 'Exhibits>Nested>Deep', 'Deep'),
          (11, 'Exhibits>Nested', 'deepword'),
          (12, 'Exhibits>Nested', 'Deep'),
          (13, 'Exhibits>Nested', 'Nested'),
          (14, 'Exhibits', 'deepword'), (15, 'Exhibits', 'Deep'),
          (16, 'Exhibits', 'Nested'), (17, 'Exhibits', 'Exhibits'),
          (18, 'Cafe', 'coffee'), (19, 'Cafe', 'cake'), (20, 'Cafe', 'Cafe'))
          AS t(ord, aspect, word)
        ORDER BY ord"""),
      doc = "aspect-tree JSONC flatten to the broadcast aspect-word " +
        "lexicon (quirk-faithful); oracle rows generated by the " +
        "reference's own flatten; reference target_aspects.py:110-149"),

    // S5: HTML/XPath scrape scan — the reference's order-contains scrape
    // (scrape_gomus.py:277-365) re-run as a distributed binaryFile scan.
    // The fixture mints one gomus-shaped order page per order (verbatim
    // DOM nesting the reference xpaths encode, HTML entities in tickets,
    // German "d.M.yyyy HH:mm Uhr" dates and comma-decimal prices, storno
    // marker cells, plus two malformed-article shapes the scraper must
    // skip: a row with no id cell and a row whose td[3] has no element
    // child). The scrape itself — permissive HTML parse, the XPath
    // subset with union/positional/count() expressions, entity decode,
    // date/price parsing — runs inside the scan tasks; the oracle
    // recomputes every surviving article straight from lineitem, so a
    // parser or XPath divergence (wrong skip, undecoded entity, bad
    // date fallback) cannot hash-match.
    Q(
      "src_html_scrape",
      (s, dir) => {
        val out = Sources.scratch(s, "html_orders")
        val sub = t(s, dir, "lineitem")
          .filter(pmod(col("l_orderkey"), lit(400L)) === 0)
          .select("l_orderkey", "l_linenumber", "l_returnflag",
            "l_linestatus", "l_quantity", "l_extendedprice", "l_shipdate")
          .collect() // bounded fixture mint: 37 orders / 142 lines at sf0.01
        val dateFmt = java.time.format.DateTimeFormatter.ofPattern("d.M.yyyy")
        def article(r: org.apache.spark.sql.Row): String = {
          val ln = r.getInt(1)
          val typ = r.getString(2) match {
            case "A" => "Ticket"; case "R" => "Führung"; case _ => "Angebot"
          }
          val idCell =
            if (ln == 6) "<td>kein id</td>"
            else s"<td><a href='#'><div><i title='$typ'></i>$ln</div></a></td>"
          val shipDay = (r.get(6) match {
            case t: java.sql.Timestamp => t.toLocalDateTime
            case t: java.time.LocalDateTime => t
            case t: java.time.Instant =>
              java.time.LocalDateTime.ofInstant(t, java.time.ZoneOffset.UTC)
          }).toLocalDate
          val infobox =
            if (ln == 5) "ohne Termin"
            else "Einlass " + shipDay.format(dateFmt) + " 14:30 Uhr"
          val ticketCell =
            if (ln == 7) "<td>kein strong</td>"
            else "<td><strong>M&uuml;ller-" + r.getString(2) +
              r.getString(3) + "</strong></td>"
          val price = "%.2f".format(r.getDouble(5)).replace('.', ',') + " €"
          val storno = if (r.getString(2) == "R") "<td>Stornogebühr</td>" else ""
          s"<tr>$idCell<td><div>$infobox</div></td>$ticketCell" +
            s"<td>${r.getDouble(4).toInt}</td><td>$price</td>$storno</tr>"
        }
        def nest(path: Seq[Int], payload: String): String =
          path.foldRight(payload) { (idx, inner) =>
            ("<div>pad</div>" * (idx - 1)) + s"<div>$inner</div>"
          }
        val d = new java.io.File(out)
        d.mkdirs()
        sub.groupBy(_.getLong(0)).foreach { case (orderKey, lines) =>
          val tbl = "<table><tbody>" +
            lines.sortBy(_.getInt(1)).map(article).mkString("\n") +
            "</tbody></table>"
          // details path: //body/div[2]/div[2]/div[3]/div[3]/div[2]
          //   /div/div[2]/div/div/div/div[2]  (scrape_gomus.py:290-292)
          val page = "<html><body>" + nest(Seq(2, 2, 3, 3, 2),
            nest(Seq(1), nest(Seq(2), nest(Seq(1), nest(Seq(1),
              nest(Seq(1), nest(Seq(2), tbl))))))) + "</body></html>"
          java.nio.file.Files.write(
            new java.io.File(d, s"$orderKey.html").toPath,
            page.getBytes("UTF-8"))
        }
        graft.bronze.Scrape.orderContains(s, out)
          .select(col("order_id"), col("article_id"),
            col("article_type"), col("ticket"),
            date_format(col("date"), "yyyy-MM-dd HH:mm").as("date_s"),
            col("quantity"),
            round(col("price") * 100).cast("long").as("price_cents"),
            col("is_cancelled"))
          .orderBy("order_id", "article_id")
      },
      Some("""
        SELECT l_orderkey AS order_id,
               CAST(l_linenumber AS BIGINT) AS article_id,
               CASE l_returnflag WHEN 'A' THEN 'Ticket'
                    WHEN 'R' THEN 'Führung' ELSE 'Angebot' END
                 AS article_type,
               'Müller-' || l_returnflag || l_linestatus AS ticket,
               CASE WHEN l_linenumber = 5 THEN '1900-01-01 00:00'
                    ELSE strftime(l_shipdate, '%Y-%m-%d') || ' 14:30' END
                 AS date_s,
               CAST(l_quantity AS INTEGER) AS quantity,
               CAST(round(l_extendedprice * 100) AS BIGINT) AS price_cents,
               (l_returnflag = 'R') AS is_cancelled
        FROM lineitem
        WHERE l_orderkey % 400 = 0 AND l_linenumber NOT IN (6, 7)
        ORDER BY order_id, article_id"""),
      doc = "S5 HTML/XPath scrape scan (order-contains, all four skip " +
        "workarounds) over minted gomus-shaped pages; reference " +
        "scrape_gomus.py:277-365"),

    // S5 (capacity path): the most intricate scrape — per-quota capacity
    // pages where basic availability lives in `data-timestamp` cells
    // (Berlin local-time epochs) and detailed max/sold/reserved live in
    // popover JS object literals whose titles are year-less German dates
    // resolved against the page's start date; detailed overrides basic
    // over a 7-day x 96-slot zero grid (capacities.py:88-206). Pages are
    // minted per nation row from a deterministic slot rule; the oracle
    // regenerates grid + rule in SQL, so a wrong timezone decode, popover
    // parse, title-date resolution, or override precedence shifts values
    // to the wrong slot and cannot hash-match.
    Q(
      "src_html_capacity",
      (s, dir) => {
        val out = Sources.scratch(s, "html_capacity")
        val ks = t(s, dir, "nation")
          .select(col("n_nationkey").cast("int"))
          .collect().map(_.getInt(0)).sorted // bounded: 25 quota pages
        val months = Array("Januar", "Februar", "März", "April", "Mai",
          "Juni", "Juli", "August", "September", "Oktober", "November",
          "Dezember")
        val zone = java.time.ZoneId.of("Europe/Berlin")
        val minDate = java.time.LocalDate.of(2020, 10, 26)
        def epoch(d: Int, h: Int, m: Int): Long =
          java.time.ZonedDateTime.of(minDate.plusDays(d),
            java.time.LocalTime.of(h, m), zone).toEpochSecond
        def nest(path: Seq[Int], payload: String): String =
          path.foldRight(payload) { (idx, inner) =>
            ("<div>pad</div>" * (idx - 1)) + s"<div>$inner</div>"
          }
        val dOut = new java.io.File(out)
        dOut.mkdirs()
        ks.foreach { k =>
          val cells = (0 until (k % 4 + 2)).map { i =>
            val (d, h, m) = (i, 9 + (3 * i) % 10, 15 * (i % 4))
            val avail = (k * 7 + i * 13) % 50
            s"<td data-timestamp='${epoch(d, h, m)}'> $avail </td>"
          }.mkString
          val popovers = (0 until (k % 3)).map { i =>
            val (d, h, m) = if (i == 0) (1, 12, 15) else (2 * i, 10 + i, 30)
            val (mx, sold, res) = (k + 20 + i, (k % 5) + i, i % 3)
            val day = minDate.plusDays(d)
            val title = s"${day.getDayOfMonth}. " +
              s"${months(day.getMonthValue - 1)}, " +
              f"$h%02d:$m%02d Uhr"
            val content = "<table>\\n<tbody>\\n" +
              s"<tr><td>maximal:<\\/td><td>$mx<\\/td><\\/tr>\\n" +
              s"<tr><td>verkauft:<\\/td><td>$sold<\\/td><\\/tr>\\n" +
              s"<tr><td>reserviert:<\\/td><td>$res<\\/td><\\/tr>\\n" +
              "<\\/tbody><tfooter>" +
              s"<tr><td>frei:<\\/td><td>${mx - sold - res}<\\/td><\\/tr>" +
              "<\\/tfooter><\\/table>"
            s"""<script>
               |  $$("#info-${epoch(d, h, m)}").popover({
               |    placement : 'right',
               |    title : '<strong>$title</strong>',
               |    html: 'true',
               |    content : '$content'
               |  });
               |</script>""".stripMargin
          }.mkString("\n")
          val aux = "<span class='badge badge-primary'> " + k + " </span>" +
            "<input id=\"start_at\" value=\"26.10.2020\"/>" + popovers
          val tbl = "<table><tbody><tr><td>Zeit</td>" + cells +
            "</tr></tbody></table>"
          // basic table path: //body/div[2]/div[2]/div[3]/div/div[2]
          //   /div/div[2]/table (capacities.py:100-102)
          val page = s"<html><body><div>$aux</div><div>" +
            nest(Seq(2, 3, 1, 2, 1, 2), tbl) + "</div></body></html>"
          java.nio.file.Files.write(
            new java.io.File(dOut, s"$k.html").toPath,
            page.getBytes("UTF-8"))
        }
        graft.bronze.Scrape.capacities(s, out,
            java.time.LocalDate.of(2020, 10, 29))
          .orderBy("quota_id", "date", "time")
      },
      Some("""
        WITH q AS (SELECT CAST(n_nationkey AS INTEGER) AS k FROM nation),
        grid AS (
          SELECT k, d, sl FROM q,
            (SELECT unnest(range(0, 7)) AS d),
            (SELECT unnest(range(0, 96)) AS sl)),
        basic AS (
          SELECT k, i, i AS d, (9 + (3 * i) % 10) * 4 + (i % 4) AS sl,
                 (k * 7 + i * 13) % 50 AS avail
          FROM (SELECT k, unnest(range(0, k % 4 + 2)) AS i FROM q)),
        pop AS (
          SELECT k,
                 CASE WHEN i = 0 THEN 1 ELSE 2 * i END AS d,
                 CASE WHEN i = 0 THEN 49 ELSE (10 + i) * 4 + 2 END AS sl,
                 k + 20 + i AS mx, (k % 5) + i AS sold, i % 3 AS res
          FROM (SELECT k, unnest(range(0, k % 3)) AS i FROM q))
        SELECT g.k AS quota_id,
               strftime(DATE '2020-10-26' + g.d * INTERVAL 1 DAY, '%Y-%m-%d')
                 AS "date",
               lpad(CAST(g.sl // 4 AS VARCHAR), 2, '0') || ':' ||
                 lpad(CAST((g.sl % 4) * 15 AS VARCHAR), 2, '0') || ':00'
                 AS "time",
               CAST(coalesce(p.mx, b.avail, 0) AS INTEGER) AS "max",
               CAST(coalesce(p.sold, 0) AS INTEGER) AS sold,
               CAST(coalesce(p.res, 0) AS INTEGER) AS reserved,
               CAST(coalesce(p.mx - p.sold - p.res, b.avail, 0) AS INTEGER)
                 AS available,
               '2020-10-29' AS last_updated
        FROM grid g
          LEFT JOIN basic b ON g.k = b.k AND g.d = b.d AND g.sl = b.sl
          LEFT JOIN pop p ON g.k = p.k AND g.d = p.d AND g.sl = p.sl
        ORDER BY quota_id, "date", "time""""),
      doc = "S5 capacity scrape: Berlin-epoch basic cells + popover " +
        "hovercard overrides over the 7x96 zero grid; reference " +
        "capacities.py:88-206"),

    // K4: CSV sink with CR normalization, proven by round-trip — plant
    // \r\n and lone \r in a payload column, write through
    // Sources.writeCsvNormalized (reference data_preparation.py:56-74
    // rewrites \r\n|\r → \n in every string column before its CSV IR),
    // read the emitted files back, and emit per-row CR/LF accounting.
    // The oracle replays the normalization in pure SQL with no file IO;
    // value equality proves the sink+scan round-trip is lossless AND
    // CR-free.
    Q(
      "src_csv_sink_crlf",
      (s, dir) => {
        val out = Sources.scratch(s, "csv_sink_crlf")
        val planted = t(s, dir, "nation").select(
          col("n_nationkey").cast("long").as("n_nationkey"),
          col("n_name"),
          concat(col("n_name"), lit("\r\n"), lit("comment for "),
            col("n_name"), lit("\r"), lit("end")).as("payload"))
        Sources.writeCsvNormalized(planted, out)
        val schema = StructType(Seq(
          StructField("n_nationkey", LongType),
          StructField("n_name", StringType),
          StructField("payload", StringType)))
        s.read.schema(schema)
          .option("header", "true").option("multiLine", "true")
          .csv(out)
          .select(col("n_nationkey"), col("n_name"), col("payload"),
            length(col("payload")).as("payload_len"),
            (length(col("payload")) - length(translate(col("payload"), "\n", "")))
              .as("n_lf"),
            (length(col("payload")) - length(translate(col("payload"), "\r", "")))
              .as("n_cr"))
          .orderBy("n_nationkey")
      },
      Some("""
        SELECT n_nationkey, n_name, payload,
               CAST(length(payload) AS INT) AS payload_len,
               CAST(length(payload) - length(replace(payload, chr(10), '')) AS INT)
                 AS n_lf,
               CAST(length(payload) - length(replace(payload, chr(13), '')) AS INT)
                 AS n_cr
        FROM (
          SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
                 regexp_replace(n_name || chr(13) || chr(10) || 'comment for ' ||
                   n_name || chr(13) || 'end', '\r\n|\r', chr(10), 'g')
                   AS payload
          FROM nation)
        ORDER BY n_nationkey"""),
      doc = "K4 CSV sink with CR->LF normalization, round-trip proven; " +
        "reference data_preparation.py:56-74"),

    // Schema evolution across snapshot generations: generation 1 wrote
    // (key, price); generation 2 added a column. A mergeSchema parquet
    // read unifies the directory — old files surface the new column as
    // NULL — and downstream code distinguishes pre-schema rows
    // explicitly instead of silently defaulting. The lakehouse
    // add-a-column migration path with zero rewrite of history; at
    // 100 TB "rewrite old files" is not an option, the read-side merge
    // is. Oracle replays the generation split from the source table.
    Q(
      "src_schema_evolution",
      (s, dir) => {
        val base = Sources.scratch(s, "schema_evo")
        val o = t(s, dir, "orders")
        o.filter(col("o_orderkey") % 2 === 0)
          .select("o_orderkey", "o_totalprice")
          .write.mode("overwrite").parquet(s"$base/gen=1")
        o.filter(col("o_orderkey") % 2 === 1)
          .select("o_orderkey", "o_totalprice", "o_orderpriority")
          .write.mode("overwrite").parquet(s"$base/gen=2")
        s.read.option("mergeSchema", "true")
          .parquet(s"$base/gen=1", s"$base/gen=2")
          .withColumn("prio",
            coalesce(col("o_orderpriority"), lit("(pre-schema)")))
          .groupBy("prio")
          .agg(count(lit(1)).as("n_orders"),
            dsum(col("o_totalprice")).as("revenue"))
          .orderBy("prio")
      },
      Some("""
        SELECT prio, count(*) AS n_orders,
               CAST(sum(CAST(o_totalprice AS DECIMAL(30,4))) AS DOUBLE)
                 AS revenue
        FROM (SELECT CASE WHEN o_orderkey % 2 = 1 THEN o_orderpriority
                          ELSE '(pre-schema)' END AS prio,
                     o_totalprice
              FROM orders)
        GROUP BY prio ORDER BY prio"""),
      doc = "schema evolution: mergeSchema read across snapshot " +
        "generations (added column NULL for old files), explicit " +
        "pre-schema handling, no history rewrite")
  )
}
