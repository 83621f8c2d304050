package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text analysis — SURVEY.md §2.10 (N1–N12) + training-data-pipeline text
  * ops (language ID, quality scoring, token counting, fingerprinting).
  *
  * Tokenization is expression-only (`split` + higher-order functions), so
  * the whole path is codegen'd and shuffle-free until the aggregation; the
  * per-doc token arrays never round-trip through a UDF.
  */
object TextQueries extends QueryBase {

  /** Lowercased whitespace tokens of `text` (shared tokenizer base —
    * the same expression the curation family uses, see
    * [[CurationDefs.toks]]). */
  private def toks = CurationDefs.toks

  /** Flesch reading-ease scoring — the classic readability quality
    * signal of a curation pipeline, computed entirely with per-doc
    * expressions (no shuffle until the band rollup).
    *
    * This corpus has no sentence punctuation, so a sentence is defined
    * as a 15-word span (`ceil(words/15)`, documented fixture
    * convention); syllables are vowel-group runs `[aeiouy]+` with a
    * 1-per-word floor — the standard cheap heuristic. The per-doc score
    * `206.835 − 1.015·(w/s) − 84.6·(syll/w)` is a fixed-order double
    * chain over exact integers, so it is bit-identical across engines;
    * band averages aggregate integer MICRO-scores (score·1e6 rounded),
    * keeping the rollup order-independent. */
  private val readabilityQ = Q(
    "text_readability_score",
    (s, dir) => {
      val d = th(s, dir, "documents")
      val scored = d
        .withColumn("tk", split(lower(col("text")), " "))
        .withColumn("w", size(col("tk")).cast("long"))
        .withColumn("sents", expr("(w + 14) DIV 15"))
        .withColumn("syll", expr(
          "aggregate(transform(tk, x -> " +
            "greatest(CAST(regexp_count(x, '[aeiouy]+') AS BIGINT), 1L)), " +
            "0L, (a, x) -> a + x)"))
        .withColumn("score", lit(206.835) -
          lit(1.015) * (col("w").cast("double") / col("sents").cast("double")) -
          lit(84.6) * (col("syll").cast("double") / col("w").cast("double")))
        .withColumn("score_micro",
          round(col("score") * 1e6).cast("long"))
      scored
        .withColumn("band",
          when(col("score") >= 90, "very_easy")
            .when(col("score") >= 70, "easy")
            .when(col("score") >= 50, "medium")
            .when(col("score") >= 30, "hard")
            .otherwise("very_hard"))
        .groupBy("band")
        .agg(count(lit(1)).as("n_docs"),
          round((sum(col("score_micro")).cast("double") /
            count(lit(1)).cast("double")) / 1e6, 6).as("avg_score"),
          min(col("score_micro")).as("min_micro"),
          max(col("score_micro")).as("max_micro"))
        .orderBy("band")
    },
    Some("""
      WITH scored AS (
        SELECT doc_id,
               206.835
                 - 1.015 * (CAST(w AS DOUBLE) / CAST((w + 14) // 15 AS DOUBLE))
                 - 84.6 * (CAST(syll AS DOUBLE) / CAST(w AS DOUBLE)) AS score
        FROM (
          SELECT doc_id, CAST(len(toks) AS BIGINT) AS w,
                 CAST(list_aggregate(list_transform(toks, x ->
                   greatest(len(regexp_extract_all(x, '[aeiouy]+')), 1)),
                   'sum') AS BIGINT) AS syll
          FROM (SELECT doc_id, string_split(lower(text), ' ') AS toks
                FROM documents))),
      micro AS (
        SELECT doc_id, score,
               CAST(round(score * 1e6) AS BIGINT) AS score_micro,
               CASE WHEN score >= 90 THEN 'very_easy'
                    WHEN score >= 70 THEN 'easy'
                    WHEN score >= 50 THEN 'medium'
                    WHEN score >= 30 THEN 'hard'
                    ELSE 'very_hard' END AS band
        FROM scored)
      SELECT band, count(*) AS n_docs,
             round((CAST(sum(score_micro) AS DOUBLE) / count(*)) / 1e6, 6)
               AS avg_score,
             min(score_micro) AS min_micro,
             max(score_micro) AS max_micro
      FROM micro GROUP BY band ORDER BY band"""),
    doc = "Flesch reading-ease bands (vowel-group syllables, 15-word " +
      "pseudo-sentences): per-doc expression scoring, integer micro-score " +
      "rollup — order-independent, bit-identical across engines")

  /** RAKE keyword extraction (Rose et al. 2010): candidate phrases are
    * maximal stopword-free token runs, word scores are degree/frequency
    * over the candidate population, phrase score = Σ word scores — the
    * classic unsupervised keyphrase baseline.
    *
    * This corpus has no natural function words, so the delimiter set is
    * a fixed fixture stoplist drawn from its own highest-frequency
    * tokens (documented convention, same spirit as the 15-word
    * pseudo-sentences in [[readabilityQ]]). Shape: one doc-keyed shuffle
    * reassembles phrases (cumulative stopword count = phrase group id),
    * word stats are one vocabulary-sized aggregate, scoring is a
    * broadcast join over distinct phrases. Scores are sums of small
    * exact rationals rounded to 6; ordering uses the rounded value with
    * a phrase tiebreak, so the top-k is deterministic. */
  private val rakeQ = Q(
    "text_keyword_rake",
    (s, dir) => {
      val stoplist = Seq("data", "row", "key", "join", "scan")
      val d = th(s, dir, "documents")
      val words = d.select(col("doc_id"),
          posexplode(split(lower(col("text")), " ")).as(Seq("pos", "w")))
        .withColumn("is_stop", col("w").isInCollection(stoplist))
      val wgrp = Window.partitionBy("doc_id").orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val phrases = words
        .withColumn("grp", sum(col("is_stop").cast("int")).over(wgrp))
        .filter(!col("is_stop"))
        .groupBy("doc_id", "grp")
        .agg(expr("transform(array_sort(collect_list(struct(pos, w))), " +
          "t -> t.w)").as("ws"))
        .filter(size(col("ws")).between(1, 4))
        .select(array_join(col("ws"), " ").as("phrase"), col("ws"))
      val wordStats = phrases
        .select(explode(col("ws")).as("w"), size(col("ws")).as("len"))
        .groupBy("w")
        .agg(count(lit(1)).as("freq"), sum(col("len")).as("deg"))
      val phraseN = phrases.groupBy("phrase")
        .agg(count(lit(1)).as("n_occ"), first(col("ws")).as("ws"))
      phraseN.select(col("phrase"), col("n_occ"), explode(col("ws")).as("w"))
        .join(broadcast(wordStats), Seq("w"))
        .groupBy("phrase", "n_occ")
        .agg(round(sum(col("deg").cast("double") / col("freq").cast("double")),
          6).as("score"))
        .orderBy(col("score").desc, col("phrase"))
        .limit(25)
    },
    Some("""
      WITH words AS (
        SELECT doc_id, i AS pos, toks[i] AS w,
               list_contains(['data','row','key','join','scan'], toks[i])
                 AS is_stop
        FROM (SELECT doc_id, string_split(lower(text), ' ') AS toks
              FROM documents),
             LATERAL (SELECT unnest(range(1, len(toks) + 1)) AS i)),
      grouped AS (
        SELECT doc_id, pos, w, is_stop,
               CAST(sum(CASE WHEN is_stop THEN 1 ELSE 0 END)
                 OVER (PARTITION BY doc_id ORDER BY pos
                       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS grp
        FROM words),
      phrases AS (
        SELECT array_to_string(ws, ' ') AS phrase, ws
        FROM (SELECT doc_id, grp, list(w ORDER BY pos) AS ws
              FROM grouped WHERE NOT is_stop GROUP BY doc_id, grp)
        WHERE len(ws) BETWEEN 1 AND 4),
      wordstats AS (
        SELECT w, count(*) AS freq, CAST(sum(len) AS BIGINT) AS deg
        FROM (SELECT unnest(ws) AS w, len(ws) AS len FROM phrases)
        GROUP BY w),
      phrasen AS (
        SELECT phrase, count(*) AS n_occ, any_value(ws) AS ws
        FROM phrases GROUP BY phrase)
      SELECT p.phrase, p.n_occ,
             round(sum(CAST(s.deg AS DOUBLE) / s.freq), 6) AS score
      FROM (SELECT phrase, n_occ, unnest(ws) AS w FROM phrasen) p
      JOIN wordstats s ON s.w = p.w
      GROUP BY p.phrase, p.n_occ
      ORDER BY score DESC, phrase LIMIT 25"""),
    doc = "RAKE keyphrases: stopword-run phrase assembly (one doc " +
      "shuffle), degree/frequency word scores, deterministic rounded " +
      "top-k; Rose et al. 2010")

  /** N-gram novelty scoring — the curation signal for "how much of
    * this document is text the corpus hasn't seen yet" (the per-doc
    * complement of dedup: a doc can be 0% duplicate yet 0% novel).
    * Every 3-word shingle instance is attributed to the doc where the
    * shingle FIRST occurs (min doc_id — deterministic ownership);
    * novelty = owned instances / total instances. One gram-keyed
    * shuffle (first-occurrence aggregate) + one broadcast-back join —
    * linear in corpus grams, the same shape as text_df_prune. */
  private val noveltyQ = Q(
    "text_ngram_novelty",
    (s, dir) => {
      val d = t(s, dir, "documents")
        .select(col("doc_id"), split(lower(col("text")), " ").as("tk"))
      val grams = d
        .select(col("doc_id"), explode(expr(
          // sequence(0, n) with n < 0 runs DESCENDING in Spark 4 —
          // short docs must hit the empty branch, not the sequence.
          "CASE WHEN size(tk) >= 3 THEN transform(sequence(0, size(tk) - 3), " +
            "i -> concat_ws(' ', tk[i], tk[i+1], tk[i+2])) " +
            "ELSE array() END")).as("gram"))
      val firstDoc = grams.groupBy("gram")
        .agg(min(col("doc_id")).as("first_doc"))
      grams.join(firstDoc, "gram")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
            .as("n_novel"))
        .withColumn("novelty",
          round(col("n_novel").cast("double") /
            col("n_grams").cast("double"), 6))
        .orderBy("doc_id")
    },
    Some("""
      WITH grams AS (
        SELECT doc_id, tk[i + 1] || ' ' || tk[i + 2] || ' ' || tk[i + 3] AS gram
        FROM (SELECT doc_id, string_split(lower(text), ' ') AS tk
              FROM documents),
             LATERAL (SELECT unnest(range(0, greatest(len(tk) - 2, 0))) AS i) t),
      fd AS (SELECT gram, min(doc_id) AS first_doc FROM grams GROUP BY 1),
      agg AS (
        SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
               CAST(sum(CASE WHEN fd.first_doc = g.doc_id THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_novel
        FROM grams g JOIN fd ON fd.gram = g.gram
        GROUP BY 1)
      SELECT doc_id, n_grams, n_novel,
             round(CAST(n_novel AS DOUBLE) / n_grams, 6) AS novelty
      FROM agg ORDER BY doc_id"""),
    doc = "3-gram novelty scoring: shingle instances attributed to " +
      "their first-occurrence doc (min doc_id), novelty = owned/total " +
      "per doc; one gram shuffle + join-back, linear in corpus grams")

  /** jusText-style boilerplate stripping (Pomikálek 2011; the
    * trafilatura-class block-classification every web-corpus curation
    * run applies before dedup — r11 verdict item 6). A page is split
    * into BLOCKS; each block is classified by the three jusText core
    * signals — link density, length, stop-word density — and the doc is
    * rewritten from its content blocks only, with a per-reason audit.
    *
    * Pages are minted per document (fixture plumbing, identically in
    * the oracle): nav and footer blocks with high link density, a
    * shouty zero-stopword promo block, and the document's text split
    * across two paragraph blocks. Thresholds are evaluated in INTEGER
    * cross-multiplied form (10·link_chars > 3·text_chars ⟺ density
    * > 0.3; 50·n_stop < n_words ⟺ density < 0.02) so both engines
    * decide every block bit-identically — no float division anywhere.
    *
    * Scale shape: the whole pass is ONE projection — split, per-block
    * transform/filter higher-order expressions, tag-strip and link-text
    * regex per block — so at 100 TB it runs inside the scan stage with
    * zero shuffles (the final ORDER BY is presentation only).
    *
    * Why BOTH this and `text_boilerplate_html` stay (r13 verdict item
    * 7): they share ONE classifier ([[blockVerdict]]) but exercise the
    * two block-model paths a real pipeline has. This face is the
    * EXPRESSION-ONLY path — markup already in a column, blocks cut and
    * signal-extracted by codegen'd higher-order expressions, zero file
    * IO, zero custom code in the task — the shape a 100 TB run wants
    * when pages arrive as a parquet column. The html face is the
    * FILE-SCAN + OWN-PARSER path (binaryFile → [[graft.sources.Html]]
    * DOM → leafBlocks), whose failure modes (missed block, wrong
    * link-text attribution, entity decode) the expression face cannot
    * reach. Each face carries its own oracle row; retiring either would
    * drop coverage of its path. */
  /** The jusText threshold rules shared by BOTH boilerplate faces —
    * the expression-only `text_boilerplate_strip` (tag-strip regex
    * signals) and the real-markup `text_boilerplate_html`
    * ([[graft.sources.Html.leafBlocks]] signals). Integer
    * cross-multiplied: 10·link_chars > 3·text_chars ⟺ link density
    * > 0.3; 50·n_stop < n_words ⟺ stop density < 0.02 — no float
    * division, so every engine decides every block identically. */
  def blockVerdict(btext: org.apache.spark.sql.Column,
      linkLen: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val words = filter(split(btext, " "), w => w =!= "")
    val nWords = size(words)
    val nStop = size(filter(words,
      w => lower(w).isin("the", "a", "of", "and", "to")))
    when(lit(10) * linkLen > lit(3) * length(btext), "link")
      .when(nWords < 4, "short")
      .when(lit(50) * nStop < nWords, "lowstop")
      .otherwise("content")
  }

  private val boilerplateQ = Q(
    "text_boilerplate_strip",
    (s, dir) => {
      val toks = split(col("text"), " ")
      val h = expr("(size(split(text, ' ')) + 1) DIV 2")
      val page = concat_ws("\n",
        lit("<div class=\"nav\"><a href=\"/\">Home</a> | " +
          "<a href=\"/s\">Search</a> | <a href=\"/c\">Contact</a></div>"),
        concat(lit("<p>"), array_join(slice(toks, lit(1), h), " "),
          lit("</p>")),
        lit("<div>SUBSCRIBE NOW FOR PREMIUM ACCESS TODAY</div>"),
        concat(lit("<p>"),
          array_join(slice(toks, h + 1, size(toks) - h), " "), lit("</p>")),
        lit("<footer>(c) 2020 <a href=\"/p\">Privacy</a> " +
          "<a href=\"/t\">Terms</a></footer>"))
      val blocks = split(col("page"), "\n")
      def btextOf(b: org.apache.spark.sql.Column) =
        trim(regexp_replace(regexp_replace(b, lit("<[^>]*>"), lit(" ")),
          lit("\\s+"), lit(" ")))
      def featOf(b: org.apache.spark.sql.Column) = {
        val btext = btextOf(b)
        val linkLen = aggregate(
          regexp_extract_all(b, lit("<a[^>]*>([^<]*)</a>"), lit(1)),
          lit(0), (acc, x) => acc + length(x))
        struct(btext.as("btext"), blockVerdict(btext, linkLen).as("v"))
      }
      def nBy(v: String) = size(filter(col("feat"),
        f => f.getField("v") === v)).cast("long")
      // Sorted-input form (Finding A, OPTIMIZATION_r14.md): the page
      // mint + block classify chain runs above the doc_id sort, once.
      sortedByKeys(t(s, dir, "documents"), col("doc_id"))
        .select(col("doc_id"), page.as("page"))
        .select(col("doc_id"), transform(blocks, featOf(_)).as("feat"))
        .select(col("doc_id"),
          size(col("feat")).cast("long").as("n_blocks"),
          nBy("content").as("n_content"),
          nBy("link").as("n_link"),
          nBy("short").as("n_short"),
          nBy("lowstop").as("n_lowstop"),
          array_join(transform(
            filter(col("feat"), f => f.getField("v") === "content"),
            f => f.getField("btext")), " ").as("kept_text"))
    },
    Some("""
      WITH tk AS (
        SELECT doc_id, string_split(text, ' ') AS toks,
               (len(string_split(text, ' ')) + 1) // 2 AS h
        FROM documents),
      page AS (
        SELECT doc_id, concat(
          '<div class="nav"><a href="/">Home</a> | <a href="/s">Search</a> | <a href="/c">Contact</a></div>',
          chr(10), '<p>', array_to_string(toks[1:h], ' '), '</p>',
          chr(10), '<div>SUBSCRIBE NOW FOR PREMIUM ACCESS TODAY</div>',
          chr(10), '<p>', array_to_string(toks[h+1:len(toks)], ' '), '</p>',
          chr(10), '<footer>(c) 2020 <a href="/p">Privacy</a> <a href="/t">Terms</a></footer>')
          AS pg
        FROM tk),
      blocks AS (
        SELECT doc_id, i AS bidx, bl[i] AS block
        FROM (SELECT doc_id, string_split(pg, chr(10)) AS bl FROM page),
             LATERAL (SELECT unnest(range(1, len(bl) + 1)) AS i)),
      feat AS (
        SELECT doc_id, bidx,
          trim(regexp_replace(regexp_replace(block, '<[^>]*>', ' ', 'g'),
                              '\s+', ' ', 'g')) AS btext,
          coalesce(list_aggregate(list_transform(
            regexp_extract_all(block, '<a[^>]*>([^<]*)</a>', 1),
            x -> len(x)), 'sum'), 0) AS link_len
        FROM blocks),
      cls AS (
        SELECT doc_id, bidx, btext,
          CASE WHEN 10 * link_len > 3 * len(btext) THEN 'link'
               WHEN n_words < 4 THEN 'short'
               WHEN 50 * n_stop < n_words THEN 'lowstop'
               ELSE 'content' END AS v
        FROM (
          SELECT *, len(words) AS n_words,
                 len(list_filter(words, w -> list_contains(
                   ['the', 'a', 'of', 'and', 'to'], lower(w)))) AS n_stop
          FROM (SELECT *, list_filter(string_split(btext, ' '),
                            w -> w <> '') AS words
                FROM feat)))
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_blocks,
             CAST(count(*) FILTER (WHERE v = 'content') AS BIGINT) AS n_content,
             CAST(count(*) FILTER (WHERE v = 'link') AS BIGINT) AS n_link,
             CAST(count(*) FILTER (WHERE v = 'short') AS BIGINT) AS n_short,
             CAST(count(*) FILTER (WHERE v = 'lowstop') AS BIGINT) AS n_lowstop,
             coalesce(string_agg(btext, ' ' ORDER BY bidx)
               FILTER (WHERE v = 'content'), '') AS kept_text
      FROM cls GROUP BY doc_id ORDER BY doc_id"""),
    doc = "jusText-style boilerplate strip: per-block link-density / " +
      "length / stopword-density classification (integer cross-" +
      "multiplied thresholds), content-only rewrite + per-reason audit; " +
      "one shuffle-free projection")

  /** Real-markup face of the boilerplate strip (r12 verdict item 5):
    * the SAME classifier ([[blockVerdict]]) fed by the real HTML path —
    * pages are minted as FILES (fixture plumbing, block-identical to
    * `text_boilerplate_strip`'s inline page but wrapped in
    * html/body and parsed from bytes), each page is one `binaryFile`
    * row, and the block model comes from the own-parser DOM
    * ([[graft.sources.Html.leafBlocks]]: leaf block elements, visible
    * text, descendant-`<a>` link chars) instead of tag-strip regexes.
    * The oracle recomputes blocks + thresholds from `documents` in SQL,
    * so a parser divergence (missed block, wrong link-text attribution,
    * entity mishandling) cannot hash-match.
    *
    * Scale shape: the page MINT is driver-side fixture plumbing (one
    * local file per selected doc), bounded scale-independently —
    * `doc_id % 10 = 0 AND doc_id < 10000` caps it at 1000 pages no
    * matter the corpus size (×K mints shift copy keys by 1e9, so only
    * base-copy ids qualify). The OPERATOR (parse + classify) runs inside
    * the scan tasks (one task per file group, linear over page count);
    * the only shuffle is the final per-doc aggregate. */
  private val boilerplateHtmlQ = Q(
    "text_boilerplate_html",
    (s, dir) => {
      val out = graft.sources.Sources.scratchDir(dir, "boiler_pages")
      val docs = t(s, dir, "documents")
        .filter(col("doc_id") % 10 === 0 && col("doc_id") < 10000)
        .select("doc_id", "text")
        .collect() // bounded fixture mint: <= 1000 pages at ANY scale
      val d = new java.io.File(out)
      d.mkdirs()
      Option(d.listFiles()).foreach(_.foreach(f =>
        if (f.getName.endsWith(".html")) f.delete()))
      docs.foreach { r =>
        val toks = r.getString(1).split(" ")
        val h = (toks.length + 1) / 2
        val page = "<html><body>\n" +
          "<div class=\"nav\"><a href=\"/\">Home</a> | " +
          "<a href=\"/s\">Search</a> | <a href=\"/c\">Contact</a></div>\n" +
          "<p>" + toks.take(h).mkString(" ") + "</p>\n" +
          "<div>SUBSCRIBE NOW FOR PREMIUM ACCESS TODAY</div>\n" +
          "<p>" + toks.drop(h).mkString(" ") + "</p>\n" +
          "<footer>(c) 2020 <a href=\"/p\">Privacy</a> " +
          "<a href=\"/t\">Terms</a></footer>\n</body></html>"
        java.nio.file.Files.write(
          new java.io.File(d, s"${r.getLong(0)}.html").toPath,
          page.getBytes("UTF-8"))
      }
      import s.implicits._
      val idRe = """(\d+)\.html$""".r.unanchored
      val blocks = s.read.format("binaryFile")
        .option("pathGlobFilter", "*.html")
        .load(out)
        .select(col("path"), col("content"))
        .as[(String, Array[Byte])]
        .flatMap { case (path, bytes) =>
          val id = idRe.findFirstMatchIn(path)
            .map(_.group(1).toLong).getOrElse(-1L)
          graft.sources.Html
            .leafBlocks(graft.sources.Html.parse(new String(bytes, "UTF-8")))
            .zipWithIndex
            .map { case ((btext, ll), i) => (id, i, btext, ll) }
        }
        .toDF("doc_id", "bidx", "btext", "link_len")
      blocks
        .withColumn("v", blockVerdict(col("btext"), col("link_len")))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_blocks"),
          sum(when(col("v") === "content", 1L).otherwise(0L)).as("n_content"),
          sum(when(col("v") === "link", 1L).otherwise(0L)).as("n_link"),
          sum(when(col("v") === "short", 1L).otherwise(0L)).as("n_short"),
          sum(when(col("v") === "lowstop", 1L).otherwise(0L)).as("n_lowstop"),
          array_join(transform(array_sort(collect_list(
            when(col("v") === "content",
              struct(col("bidx"), col("btext"))))),
            x => x.getField("btext")), " ").as("kept_text"))
        .orderBy("doc_id")
    },
    Some("""
      WITH tk AS (
        SELECT doc_id, string_split(text, ' ') AS toks,
               (len(string_split(text, ' ')) + 1) // 2 AS h
        FROM documents WHERE doc_id % 10 = 0 AND doc_id < 10000),
      page AS (
        SELECT doc_id, concat(
          '<div class="nav"><a href="/">Home</a> | <a href="/s">Search</a> | <a href="/c">Contact</a></div>',
          chr(10), '<p>', array_to_string(toks[1:h], ' '), '</p>',
          chr(10), '<div>SUBSCRIBE NOW FOR PREMIUM ACCESS TODAY</div>',
          chr(10), '<p>', array_to_string(toks[h+1:len(toks)], ' '), '</p>',
          chr(10), '<footer>(c) 2020 <a href="/p">Privacy</a> <a href="/t">Terms</a></footer>')
          AS pg
        FROM tk),
      blocks AS (
        SELECT doc_id, i AS bidx, bl[i] AS block
        FROM (SELECT doc_id, string_split(pg, chr(10)) AS bl FROM page),
             LATERAL (SELECT unnest(range(1, len(bl) + 1)) AS i)),
      feat AS (
        SELECT doc_id, bidx,
          trim(regexp_replace(regexp_replace(block, '<[^>]*>', ' ', 'g'),
                              '\s+', ' ', 'g')) AS btext,
          coalesce(list_aggregate(list_transform(
            regexp_extract_all(block, '<a[^>]*>([^<]*)</a>', 1),
            x -> len(x)), 'sum'), 0) AS link_len
        FROM blocks),
      cls AS (
        SELECT doc_id, bidx, btext,
          CASE WHEN 10 * link_len > 3 * len(btext) THEN 'link'
               WHEN n_words < 4 THEN 'short'
               WHEN 50 * n_stop < n_words THEN 'lowstop'
               ELSE 'content' END AS v
        FROM (
          SELECT *, len(words) AS n_words,
                 len(list_filter(words, w -> list_contains(
                   ['the', 'a', 'of', 'and', 'to'], lower(w)))) AS n_stop
          FROM (SELECT *, list_filter(string_split(btext, ' '),
                            w -> w <> '') AS words
                FROM feat)))
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_blocks,
             CAST(count(*) FILTER (WHERE v = 'content') AS BIGINT) AS n_content,
             CAST(count(*) FILTER (WHERE v = 'link') AS BIGINT) AS n_link,
             CAST(count(*) FILTER (WHERE v = 'short') AS BIGINT) AS n_short,
             CAST(count(*) FILTER (WHERE v = 'lowstop') AS BIGINT) AS n_lowstop,
             coalesce(string_agg(btext, ' ' ORDER BY bidx)
               FILTER (WHERE v = 'content'), '') AS kept_text
      FROM cls GROUP BY doc_id ORDER BY doc_id"""),
    doc = "boilerplate strip over REAL markup: minted page files -> " +
      "binaryFile scan -> own-parser DOM leaf blocks " +
      "(sources/Html.leafBlocks) -> shared jusText thresholds; oracle " +
      "recomputes blocks+rules from documents, so parser divergence " +
      "cannot hash-match")

  /** Mojibake / unicode normalization (the ftfy-class cleaning pass a
    * web-corpus pipeline runs before any tokenizer — crawl text is full
    * of double-encoded UTF-8, typographic punctuation, NBSP and
    * zero-width characters that silently fragment token statistics).
    * Fixes, in order: the Latin-1-decoded UTF-8 mojibake pairs for the
    * German set (Ã¤→ä … ÃŸ→ß) and the â€¦-family punctuation triples
    * (curly quotes, dashes, ellipsis), strips stray  followed by
    * zero-width chars (ZWSP/ZWNJ/ZWJ/BOM), maps NBSP to space, deletes
    * C0 control chars, then collapses whitespace. Each rule is a plain
    * `replace`/`regexp_replace` applied in one documented order, so the
    * DuckDB face replays the chain literally.
    *
    * The corruption is MINTED (fixture plumbing, identical in the
    * oracle): per doc_id one of four corruption suffixes is appended.
    * Audit counts (mojibake lead bytes seen, zero-width chars, NBSPs)
    * come from the PRE-fix text. Map-only: runs inside the scan at any
    * corpus size. */
  /** The ftfy-class repair chain shared by `text_unicode_fix` and the
    * `pipe_web_curation` composite: the ordered mojibake replace pairs
    * (double-encoded UTF-8 German set + â€-family punctuation triples),
    * then NBSP→space, zero-width strip, C0-control delete, whitespace
    * collapse. ONE definition; [[unicodeFixSql]] is its DuckDB twin —
    * the two faces can only drift in this file. */
  val mojiPairs: Seq[(String, String)] = Seq(
    "Ã¤" -> "ä", "Ã¶" -> "ö", "Ã¼" -> "ü", "Ã„" -> "Ä",
    "Ã–" -> "Ö", "Ãœ" -> "Ü", "ÃŸ" -> "ß", "Ã©" -> "é",
    "â€ž" -> "„", "â€œ" -> "“", "â€˜" -> "‘",
    "â€™" -> "’", "â€“" -> "–", "â€”" -> "—",
    "â€¦" -> "…")

  def unicodeFixChain(raw: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val fixed0 = mojiPairs.foldLeft(raw) { case (c, (bad, good)) =>
      replace(c, lit(bad), lit(good))
    }
    trim(regexp_replace(regexp_replace(regexp_replace(
      translate(fixed0, "\u00a0", " "),
      "[\u200b\u200c\u200d\ufeff]", ""),
      "[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f]", ""),
      "\\s+", " "))
  }

  /** DuckDB twin of [[unicodeFixChain]] — interpolate with the raw-text
    * SQL EXPRESSION. Unicode targets are emitted as chr(N) so no literal
    * control/zero-width bytes enter Scala or SQL sources. */
  def unicodeFixSql(rawExpr: String): String = {
    val repl = mojiPairs.foldLeft(rawExpr) { case (acc, (bad, good)) =>
      val g = good.map(ch => if (ch < 128) s"'$ch'" else s"chr(${ch.toInt})")
        .mkString(" || ")
      s"replace($acc, '$bad', $g)"
    }
    s"""trim(regexp_replace(regexp_replace(regexp_replace(
       |  replace($repl, chr(160), ' '),
       |  '[' || chr(8203) || chr(8204) || chr(8205) || chr(65279) || ']',
       |  '', 'g'),
       |  '[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f]', '', 'g'),
       |  '\\s+', ' ', 'g'))""".stripMargin
  }

  private val unicodeFixQ = Q(
    "text_unicode_fix",
    (s, dir) => {
      val plant = element_at(array(
        lit(" MÃ¼ller sagte â€žhalloâ€œ im CafÃ©"),
        lit(" dash â€“ und â€” ellipse â€¦ fertig"),
        lit(" zero\u200bwidth\u200c joined\u200d text\ufeff here"),
        lit(" nbsp\u00a0and\u00a0ctrl\u0007 bytes")),
        (col("doc_id") % 4 + 1).cast("int"))
      val corrupted = concat(col("text"), plant)
      def nOf(c: org.apache.spark.sql.Column, needle: String) =
        ((length(c) - length(replace(c, lit(needle), lit("")))) /
          needle.length).cast("long")
      val fixed = unicodeFixChain(col("raw"))
      // Sorted-input form (Finding A): the replace chain runs above the
      // doc_id sort, once.
      sortedByKeys(t(s, dir, "documents"), col("doc_id"))
        .select(col("doc_id"), corrupted.as("raw"))
        .select(col("doc_id"),
          fixed.as("text_fixed"),
          nOf(col("raw"), "Ã").as("n_moji_lead"),
          nOf(col("raw"), "â€").as("n_punct_lead"),
          ((length(col("raw")) - length(regexp_replace(col("raw"),
            "[\u200b\u200c\u200d\ufeff]", ""))).cast("long"))
            .as("n_zero_width"),
          nOf(col("raw"), "\u00a0").as("n_nbsp"))
    },
    Some(s"""
      WITH raw AS (
        SELECT doc_id, text ||
          CASE doc_id % 4
            WHEN 0 THEN ' MÃ¼ller sagte â€žhalloâ€œ im CafÃ©'
            WHEN 1 THEN ' dash â€“ und â€” ellipse â€¦ fertig'
            WHEN 2 THEN ' zero' || chr(8203) || 'width' || chr(8204) ||
                        ' joined' || chr(8205) || ' text' || chr(65279) ||
                        ' here'
            ELSE ' nbsp' || chr(160) || 'and' || chr(160) || 'ctrl' ||
                 chr(7) || ' bytes' END AS raw
        FROM documents)
      SELECT doc_id,
        ${unicodeFixSql("raw")} AS text_fixed,
        CAST((len(raw) - len(replace(raw, 'Ã', ''))) AS BIGINT)
          AS n_moji_lead,
        CAST((len(raw) - len(replace(raw, 'â€', ''))) / 2 AS BIGINT)
          AS n_punct_lead,
        CAST(len(raw) - len(regexp_replace(raw,
          '[' || chr(8203) || chr(8204) || chr(8205) || chr(65279) || ']',
          '', 'g')) AS BIGINT) AS n_zero_width,
        CAST((len(raw) - len(replace(raw, chr(160), ''))) AS BIGINT)
          AS n_nbsp
      FROM raw ORDER BY doc_id"""),
    doc = "mojibake/unicode repair pack (ftfy-class): double-encoded " +
      "UTF-8 German set + curly punctuation, zero-width strip, NBSP, " +
      "control chars, whitespace collapse — ordered replace chain " +
      "replayed literally by the oracle; map-only")

  val all: Seq[Q] = Seq(readabilityQ, rakeQ, noveltyQ, boilerplateQ,
    boilerplateHtmlQ, unicodeFixQ) ++ Seq(
    // N1/W5: tokenize + 1-based positional explode, global term counts.
    // reference src/absa/post_words.py:126-231.
    Q(
      "text_token_positions",
      (s, dir) => {
        val d = th(s, dir, "documents")
        // Two-phase distinct (see text_ngram_phrases): partial-agg on
        // (word, doc_id) map-side instead of Expand-doubling the explode.
        d.select(col("doc_id"), posexplode(toks).as(Seq("pos0", "word")))
          .select(col("doc_id"), (col("pos0") + 1).as("word_index"), col("word"))
          .groupBy("word", "doc_id")
          .agg(count(lit(1)).as("c"), min(col("word_index")).as("mp"))
          .groupBy("word")
          .agg(sum(col("c")).as("n_occ"), count(lit(1)).as("n_docs"),
            min(col("mp")).as("min_pos"))
          .orderBy(col("n_occ").desc, col("word").asc)
          .limit(50)
      },
      Some("""
        SELECT word, count(*) AS n_occ, count(DISTINCT doc_id) AS n_docs,
               min(word_index) AS min_pos
        FROM (SELECT doc_id,
                     unnest(string_split_regex(lower(text), '\s+')) AS word,
                     generate_subscripts(string_split_regex(lower(text), '\s+'), 1)
                       AS word_index
              FROM documents)
        GROUP BY word ORDER BY n_occ DESC, word ASC LIMIT 50"""),
      doc = "N1/W5 tokenizer + 1-based posexplode; reference post_words.py:126-231"),

    // J5: n-gram phrases via array slicing — the shuffle-linear rewrite of
    // the reference's n-1 self-join chain (src/absa/post_ngrams.py:111-168).
    Q(
      "text_ngram_phrases",
      (s, dir) => {
        val d = th(s, dir, "documents")
        // Two-phase distinct: partial-agg on (phrase, doc_id) collapses
        // repeats map-side, then a small second agg — a direct
        // count+countDistinct would Expand the 1M-row explode 2x into one
        // shuffle (2.5x slower here, worse at scale).
        d.select(col("doc_id"), toks.as("tk"))
          .select(col("doc_id"),
            explode(CurationDefs.wordNgrams(col("tk"), 2)).as("phrase"))
          .groupBy("phrase", "doc_id")
          .agg(count(lit(1)).as("c"))
          .groupBy("phrase")
          .agg(sum(col("c")).as("n_occ"), count(lit(1)).as("n_docs"))
          .filter(col("n_occ") >= 3)
          .orderBy(col("n_occ").desc, col("phrase").asc)
          .limit(50)
      },
      Some("""
        SELECT phrase, count(*) AS n_occ, count(DISTINCT doc_id) AS n_docs
        FROM (SELECT doc_id,
                     unnest([array_to_string(tk[i:i+1], ' ')
                             FOR i IN range(1, len(tk))]) AS phrase
              FROM (SELECT doc_id, string_split_regex(lower(text), '\s+') AS tk
                    FROM documents))
        GROUP BY phrase HAVING count(*) >= 3
        ORDER BY n_occ DESC, phrase ASC LIMIT 50"""),
      doc = "J5 ngram window rewrite (no self-join chain); reference post_ngrams.py:111-168"),

    // N3/U3: stopword removal as a broadcast anti-join over exploded
    // tokens. reference topic_modeling.py:270-335, stopwords.py:19-25.
    Q(
      "text_stopword_filter",
      (s, dir) => {
        val d = th(s, dir, "documents")
        val stop = s.createDataFrame(Seq("the", "a", "of", "and", "to")
          .map(Tuple1(_))).toDF("sw")
        // Two-phase distinct (see text_ngram_phrases): vocabulary per
        // source is tiny relative to token volume, so the (source, word)
        // partial agg collapses the shuffle to near-nothing.
        d.select(col("source"), explode(toks).as("word"))
          .join(broadcast(stop), col("word") === col("sw"), "left_anti")
          .groupBy("source", "word")
          .agg(count(lit(1)).as("c"))
          .groupBy("source")
          .agg(sum(col("c")).as("n_content_tokens"),
            count(lit(1)).as("n_distinct"))
          .orderBy("source")
      },
      Some("""
        SELECT source, count(*) AS n_content_tokens,
               count(DISTINCT word) AS n_distinct
        FROM (SELECT source, unnest(string_split_regex(lower(text), '\s+')) AS word
              FROM documents)
        WHERE word NOT IN ('the', 'a', 'of', 'and', 'to')
        GROUP BY source ORDER BY source"""),
      doc = "N3 stopword anti-join; reference topic_modeling.py:270-335"),

    // Quality scoring: length/punct/stopword ratios + composite — the
    // training-data filter stage. All built-ins, rounded for parity.
    Q(
      "text_quality_score",
      (s, dir) => {
        // Sorted-input form (Finding A, OPTIMIZATION_r14.md): sort by
        // doc_id first, score above the sort once.
        val d = sortedByKeys(t(s, dir, "documents"), col("doc_id"))
        val nTok = size(toks).cast("double")
        val nStop = size(filter(toks,
          w => w.isin("the", "a", "of", "and", "to"))).cast("double")
        val nPunct = (length(col("text")) -
          length(regexp_replace(col("text"), "[^a-zA-Z0-9\\s]", ""))).cast("double")
        val avgWordLen = (length(col("text")) + 1).cast("double") / greatest(nTok, lit(1.0))
        d.select(col("doc_id"),
            col("n_chars"),
            size(toks).as("n_tokens"),
            round(nStop / greatest(nTok, lit(1.0)), 6).as("stopword_ratio"),
            round(nPunct / greatest(length(col("text")).cast("double"), lit(1.0)), 6)
              .as("punct_ratio"),
            round(avgWordLen, 6).as("avg_word_len"))
          .withColumn("quality",
            round(when(col("n_tokens") >= 20 && col("stopword_ratio") < 0.5,
              lit(1.0) - col("punct_ratio")).otherwise(0.0), 6))
      },
      Some("""
        SELECT doc_id, n_chars, n_tokens, stopword_ratio, punct_ratio, avg_word_len,
               round(CASE WHEN n_tokens >= 20 AND stopword_ratio < 0.5
                          THEN 1.0 - punct_ratio ELSE 0.0 END, 6) AS quality
        FROM (
          SELECT doc_id, n_chars, len(tk) AS n_tokens,
                 round(len([w FOR w IN tk IF w IN ('the','a','of','and','to')]) /
                       greatest(len(tk), 1), 6) AS stopword_ratio,
                 round((length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\s]', '', 'g'))) /
                       greatest(length(text), 1), 6) AS punct_ratio,
                 round((length(text) + 1) / greatest(len(tk), 1), 6) AS avg_word_len
          FROM (SELECT doc_id, n_chars, text,
                       string_split_regex(lower(text), '\s+') AS tk
                FROM documents))
        ORDER BY doc_id"""),
      doc = "training-pipeline quality scoring (length/punct/stopword ratios)"),

    // Language ID via stopword-profile scoring (n-gram heuristic class).
    Q(
      "text_langid",
      (s, dir) => {
        // Sorted-input form (Finding A).
        val d = sortedByKeys(t(s, dir, "documents"), col("doc_id"))
        def score(words: Seq[String]) =
          size(filter(toks, w => w.isin(words: _*)))
        val en = score(Seq("the", "a", "of", "and"))
        val de = score(Seq("der", "die", "das", "und"))
        val es = score(Seq("el", "la", "los", "de"))
        d.select(col("doc_id"), col("lang").as("labeled"),
            en.as("s_en"), de.as("s_de"), es.as("s_es"))
          .withColumn("predicted",
            when(greatest(col("s_en"), col("s_de"), col("s_es")) === 0, "unk")
              .when(col("s_en") >= col("s_de") && col("s_en") >= col("s_es"), "en")
              .when(col("s_de") >= col("s_es"), "de")
              .otherwise("es"))
      },
      Some("""
        SELECT doc_id, lang AS labeled, s_en, s_de, s_es,
               CASE WHEN greatest(s_en, s_de, s_es) = 0 THEN 'unk'
                    WHEN s_en >= s_de AND s_en >= s_es THEN 'en'
                    WHEN s_de >= s_es THEN 'de'
                    ELSE 'es' END AS predicted
        FROM (SELECT doc_id, lang,
                     len([w FOR w IN tk IF w IN ('the','a','of','and')]) AS s_en,
                     len([w FOR w IN tk IF w IN ('der','die','das','und')]) AS s_de,
                     len([w FOR w IN tk IF w IN ('el','la','los','de')]) AS s_es
              FROM (SELECT doc_id, lang, string_split_regex(lower(text), '\s+') AS tk
                    FROM documents))
        ORDER BY doc_id"""),
      doc = "language-ID heuristic via stopword profiles (training pipeline); " +
        "fallback path of N2 — the primary is text_langid_ngram"),

    // N2 primary: langdetect-parity character-trigram naive-Bayes
    // language ID (graft.functions.LangId — deterministic re-expression
    // of langdetect's public algorithm; reference topic_modeling.py:
    // 401-407, vectors from tests/test_topic_modeling.py:21-33 pass in
    // LangIdSpec). Scores sum as exact micro-log-unit longs, and the
    // oracle's weight tables are GENERATED from the same in-memory model
    // (LangId.sqlWeightValues), so SQL replays the identical computation
    // by construction. Link-only / out-of-vocabulary docs → '(none)'.
    Q(
      "text_langid_ngram",
      (s, dir) => {
        val det = udf((text: String) =>
          graft.functions.LangId.detect(text).orNull)
        th(s, dir, "documents")
          .select(coalesce(det(col("text")), lit("(none)")).as("detected"))
          .groupBy("detected")
          .agg(count(lit(1)).as("n_docs"))
          .orderBy("detected")
      },
      Some {
        s"""
        WITH $langIdCtes
        SELECT coalesce(b.lang, '(none)') AS detected, count(*) AS n_docs
        FROM documents d LEFT JOIN best b ON d.doc_id = b.doc_id
        GROUP BY 1 ORDER BY detected"""
      },
      doc = "N2 langdetect-parity trigram naive-Bayes language ID; oracle " +
        "weight tables generated from the same model; reference " +
        "topic_modeling.py:401-407"),

    // BPE-ish regex token counting — the reference's token accounting
    // (A15) generalized to a subword-style regex.
    Q(
      "text_token_count",
      (s, dir) => {
        val d = th(s, dir, "documents")
        val bpeish = size(regexp_extract_all(col("text"),
          lit("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"), lit(0)))
        d.select(col("source"), size(toks).as("ws_tokens"), bpeish.as("bpe_tokens"))
          .groupBy("source")
          .agg(sum(col("ws_tokens")).as("total_ws"),
            sum(col("bpe_tokens")).as("total_bpe"),
            // Exact mean: integer sum / count divided once as double —
            // a parallel double avg() is summation-order-dependent and can
            // land a half-ulp away from the oracle before round(…, 6).
            round(sum(col("bpe_tokens")).cast("double") / count(lit(1)), 6)
              .as("avg_bpe"))
          .orderBy("source")
      },
      Some("""
        SELECT source, CAST(sum(ws_tokens) AS BIGINT) AS total_ws,
               CAST(sum(bpe_tokens) AS BIGINT) AS total_bpe,
               round(CAST(sum(bpe_tokens) AS DOUBLE) / count(*), 6) AS avg_bpe
        FROM (SELECT source,
                     len(string_split_regex(lower(text), '\s+')) AS ws_tokens,
                     len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]'))
                       AS bpe_tokens
              FROM documents)
        GROUP BY source ORDER BY source"""),
      doc = "token counting, whitespace + BPE-ish regex (training pipeline); A15 analog"),

    // Document fingerprinting: md5 over the normalized text (lower,
    // punctuation stripped, whitespace collapsed) — the canonical-form
    // hash used for exact dedup at scale.
    Q(
      "text_fingerprint",
      (s, dir) => {
        // Sorted-input form (Finding A).
        val d = sortedByKeys(t(s, dir, "documents"), col("doc_id"))
        val normalized = trim(regexp_replace(
          regexp_replace(lower(col("text")), "[^a-z0-9\\s]", ""), "\\s+", " "))
        d.select(col("doc_id"), md5(normalized).as("fingerprint"))
      },
      Some("""
        SELECT doc_id,
               md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', '', 'g'),
                   '\s+', ' ', 'g'))) AS fingerprint
        FROM documents ORDER BY doc_id"""),
      doc = "document fingerprint via normalized md5 (training pipeline)"),

    // A11: document-frequency pruning — tokens occurring in only one doc
    // are noise; anti-join them out (the reference's df==1 prune).
    Q(
      "text_df_prune",
      (s, dir) => {
        val d = th(s, dir, "documents")
        val tokens = d.select(col("doc_id"), explode(toks).as("word"))
        // All shuffles run on the (word, doc_id) partial aggregate, never
        // on raw tokens: the per-pair counts collapse map-side, the hapax
        // set derives from pair counts, and the final per-doc total is a
        // sum of pair counts — the raw explode volume never crosses the
        // network.
        val perDoc = tokens.groupBy("word", "doc_id").agg(count(lit(1)).as("c"))
        val dfOne = perDoc.groupBy("word")
          .agg(count(lit(1)).as("df"))
          .filter(col("df") === 1)
        // No broadcast hint: the df==1 hapax set is roughly half the vocab
        // at corpus scale — let AQE pick broadcast only when it truly fits.
        perDoc.join(dfOne.select("word"), Seq("word"), "left_anti")
          .groupBy("doc_id").agg(sum(col("c")).as("n_kept_tokens"))
          .orderBy("doc_id")
      },
      Some("""
        WITH tokens AS (
          SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS word
          FROM documents)
        SELECT doc_id, count(*) AS n_kept_tokens
        FROM tokens
        WHERE word NOT IN (SELECT word FROM tokens
                           GROUP BY word HAVING count(DISTINCT doc_id) = 1)
        GROUP BY doc_id ORDER BY doc_id"""),
      doc = "A11 document-frequency prune; reference topic_modeling.py:322-330"),

    // Repetition-based quality gate (the Gopher-style dup-ngram rules a
    // crawl-curation job applies before tokenization): per doc, the
    // fraction of word-bigrams that are duplicates and the token coverage
    // of the single most frequent bigram; docs over either threshold
    // (CurationDefs.DupMax / TopMax — shared with the batch/streaming
    // intake) drop. Plan shape: ZERO shuffles before the final sort —
    // all three bigram statistics come from ONE pass over the doc's own
    // token array in the codegen'd `bigram_stats` kernel
    // (graft.functions.BigramStats), and all references stay inside one
    // Project where subexpression elimination collapses them to a single
    // kernel run; the oracle recomputes the mode via the independent
    // unnest+GROUP BY route and the ScalaTest model via a third
    // (collections) route.
    Q(
      "text_repetition_filter",
      (s, dir) => {
        // Sorted-input form (Finding A).
        val d = sortedByKeys(t(s, dir, "documents"), col("doc_id"))
        val bs = col("bs")
        val dupFrac = (bs("n_bigrams") - bs("n_distinct")) /
          greatest(bs("n_bigrams"), lit(1))
        val topFrac = lit(2.0) * bs("top_count") / greatest(col("n_tokens"), lit(1))
        d.select(col("doc_id"), toks.as("t"))
          .select(col("doc_id"), size(col("t")).as("n_tokens"),
            expr("bigram_stats(t)").as("bs"))
          .select(col("doc_id"), col("n_tokens"),
            round(dupFrac, 6).as("dup_bigram_frac"),
            round(topFrac, 6).as("top_bigram_frac"),
            (dupFrac <= CurationDefs.DupMax && topFrac <= CurationDefs.TopMax)
              .as("keep"))
      },
      Some("""
        WITH tk AS (
          SELECT doc_id, string_split_regex(lower(text), '\s+') AS t
          FROM documents),
        g AS (
          SELECT doc_id, t,
                 CASE WHEN len(t) >= 2
                      THEN list_transform(generate_series(1, len(t) - 1),
                             i -> t[i] || ' ' || t[i + 1])
                      ELSE [] END AS g2
          FROM tk),
        big AS (
          SELECT doc_id, g2w, count(*) AS c
          FROM (SELECT doc_id, unnest(g2) AS g2w FROM g)
          GROUP BY doc_id, g2w),
        top AS (SELECT doc_id, max(c) AS top_c FROM big GROUP BY doc_id)
        SELECT g.doc_id, len(t) AS n_tokens,
               round((len(g2) - len(list_distinct(g2))) / greatest(len(g2), 1), 6)
                 AS dup_bigram_frac,
               round(2.0 * coalesce(top_c, 0) / greatest(len(t), 1), 6)
                 AS top_bigram_frac,
               ((len(g2) - len(list_distinct(g2))) / greatest(len(g2), 1) <= 0.08
                AND 2.0 * coalesce(top_c, 0) / greatest(len(t), 1) <= 0.2) AS keep
        FROM g LEFT JOIN top ON g.doc_id = top.doc_id
        ORDER BY g.doc_id"""),
      doc = "repetition-based quality gate (dup-bigram + top-bigram coverage " +
        "fractions), shuffle-free via sorted-run-length aggregate HOF"),

    // Context-window chunking: split each document into stride-overlapped
    // token windows (CurationDefs geometry: 32 tokens, stride 24, min
    // tail 8 — the same chunkExplode the batch/streaming intake uses) —
    // the step that turns curated documents into training/RAG sequences.
    // Expression-only (sequence + explode + slice): per-row map work, no
    // shuffle, so a 100 TB corpus chunks at scan speed.
    Q(
      "text_chunk_split",
      (s, dir) => {
        // Sorted-input form (Finding A): Generate emits each doc's
        // windows in ascending chunk_start order, so sorting by doc_id
        // below the explode preserves the (doc_id, chunk_start) total
        // order the final orderBy used to establish.
        val d = sortedByKeys(t(s, dir, "documents"), col("doc_id"))
        CurationDefs.chunkExplode(d.select(col("doc_id"), toks.as("t")))
      },
      Some("""
        WITH tk AS (
          SELECT doc_id, string_split_regex(lower(text), '\s+') AS t
          FROM documents)
        SELECT doc_id, s AS chunk_start,
               least(s + 31, len(t)) - s + 1 AS n_chunk_tokens,
               array_to_string(t[s:least(s + 31, len(t))], ' ') AS chunk
        FROM (SELECT doc_id, t, unnest(generate_series(1, len(t), 24)) AS s
              FROM tk)
        WHERE least(s + 31, len(t)) - s + 1 >= 8
        ORDER BY doc_id, chunk_start"""),
      doc = "stride-overlapped token-window chunking (32/24, min tail 8) " +
        "for sequence/RAG preparation; expression-only, shuffle-free"),

    // BM25 ranked retrieval (k1 = 1.2, b = 0.75, Lucene-style
    // idf = ln((N-df+0.5)/(df+0.5)+1)) for a fixed 3-term query — the
    // relevance scorer a curation stack uses to mine domain-matched
    // documents. Plan shape: per-doc tf/dl are row-level array ops; the
    // ONLY aggregation is one global 1-row stats frame (N, avgdl, per-term
    // df) broadcast back over the corpus, so at 100 TB the corpus makes
    // two streaming passes and never shuffles by key.
    Q(
      "text_bm25_rank",
      (s, dir) => {
        val terms = Seq("spark", "window", "merge")
        val t = toks
        val d = th(s, dir, "documents")
          .select(col("doc_id") +: size(t).cast("long").as("dl") +:
            terms.zipWithIndex.map { case (w, i) =>
              size(filter(t, x => x === w)).cast("long").as(s"tf${i + 1}")
            }: _*)
        val aggs = avg(col("dl")).as("avgdl") +: count(lit(1)).as("n") +:
          terms.indices.map { i =>
            sum((col(s"tf${i + 1}") > 0).cast("long")).as(s"df${i + 1}")
          }
        val stats = d.agg(aggs.head, aggs.tail: _*)
        val norm = lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))
        val score = terms.indices.map { i =>
          val tf = col(s"tf${i + 1}").cast("double")
          val df = col(s"df${i + 1}")
          log((col("n") - df + lit(0.5)) / (df + lit(0.5)) + lit(1)) *
            tf * lit(2.2) / (tf + norm)
        }.reduce(_ + _)
        d.crossJoin(broadcast(stats))
          .select(col("doc_id"), round(score, 6).as("bm25"))
          .orderBy(col("bm25").desc, col("doc_id"))
          .limit(20)
      },
      Some("""
        WITH tk AS (
          SELECT doc_id, string_split_regex(lower(text), '\s+') AS t
          FROM documents),
        d AS (
          SELECT doc_id, len(t) AS dl,
                 len([w FOR w IN t IF w = 'spark'])  AS tf1,
                 len([w FOR w IN t IF w = 'window']) AS tf2,
                 len([w FOR w IN t IF w = 'merge'])  AS tf3
          FROM tk),
        stats AS (
          SELECT avg(dl) AS avgdl, count(*) AS n,
                 CAST(sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df1,
                 CAST(sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df2,
                 CAST(sum(CASE WHEN tf3 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df3
          FROM d)
        SELECT doc_id,
               round(
                 ln((n - df1 + 0.5) / (df1 + 0.5) + 1) * tf1 * 2.2
                   / (tf1 + 1.2 * (0.25 + 0.75 * dl / avgdl)) +
                 ln((n - df2 + 0.5) / (df2 + 0.5) + 1) * tf2 * 2.2
                   / (tf2 + 1.2 * (0.25 + 0.75 * dl / avgdl)) +
                 ln((n - df3 + 0.5) / (df3 + 0.5) + 1) * tf3 * 2.2
                   / (tf3 + 1.2 * (0.25 + 0.75 * dl / avgdl)), 6) AS bm25
        FROM d, stats
        ORDER BY bm25 DESC, doc_id LIMIT 20"""),
      doc = "BM25 ranked retrieval (k1=1.2, b=0.75, Lucene idf) — one global " +
        "stats row broadcast back over row-level tf/dl; no keyed shuffle"),

    // LM-perplexity quality scoring (the CCNet-style filter: score every
    // document by an n-gram language model and gate on the score;
    // Wenzek et al. 2020 use an external KenLM 5-gram — here a 2-gram
    // add-0.5 model trained on the corpus itself, the self-contained
    // variant). nll = mean over the doc's bigrams of
    // -ln((C(w1,w2)+0.5) / (C(w1)+0.5·V)). The fixture plants repetitive
    // boilerplate (first bigram ×40, re-keyed +200000): template spam is
    // the LOW-perplexity tail a real pipeline trims, and the plants
    // separate fully from natural docs (CurationOpsSpec asserts the gap).
    // Plan shape: TWO corpus passes total — bigram extraction is a
    // row-level array transform feeding ONE hash shuffle for the bigram
    // count table (vocabulary-sized, ≪ corpus rows); the context table
    // AND the vocabulary size both derive from that small table (every
    // token of a ≥2-token doc occurs as some bigram's w1 or w2, so
    // distinct(w1 ∪ w2) of the count table IS the vocabulary — no
    // separate corpus-wide countDistinct pass); the second pass re-joins
    // corpus bigrams to the tables on their natural keys (AQE broadcasts
    // them when they fit) and reduces per doc — no all-pairs term
    // anywhere, so the same plan holds at 100 TB.
    Q(
      "text_lm_score",
      (s, dir) => {
        val base = th(s, dir, "documents").select(col("doc_id"), toks.as("t"))
        val corpus = base
          .unionByName(base
            .filter(col("doc_id") % 50 === 0 && size(col("t")) >= 2)
            .select((col("doc_id") + 200000L).as("doc_id"),
              flatten(array_repeat(slice(col("t"), 1, 2), 40)).as("t")))
          .filter(size(col("t")) >= 2)
        // The bigram frame used to feed the count model (bc, then uc and
        // vv) AND the scoring join's probe side — four tokenize+explode
        // passes in the executed plan (one per pruned consumer subtree;
        // exchange reuse can NOT dedupe them because column pruning
        // makes each copy canonically different — the probe keeps
        // doc_id, the aggregates drop it — and the r14 persist A/B lost
        // to the cache write). r15 shape: the model counts become WINDOW
        // counts over the one frame — count(*) over (partition by w1)
        // is exactly uc's per-w1 total and count(*) over (partition by
        // w1, w2) exactly bc's pair count, attached per occurrence row
        // with no join. The w1 window plans the single exchange and the
        // (w1, w2) window reuses it (hash clustering on a PREFIX of the
        // keys satisfies the wider clustering — only a sort is added).
        // Two tokenize passes remain: the scored frame and the
        // vocabulary scalar. Every per-row value is an identical
        // integer count, so the averaged multiset is unchanged.
        val bg = corpus
          .select(col("doc_id"),
            explode(CurationDefs.bigramPairs(col("t"))).as("p"))
          .select(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))
        val vv = bg.select(explode(array(col("w1"), col("w2"))).as("w"))
          .agg(countDistinct(col("w")).as("v"))
        val scored = bg
          .withColumn("cu", count(lit(1))
            .over(Window.partitionBy("w1")))
          .withColumn("cb", count(lit(1))
            .over(Window.partitionBy("w1", "w2")))
        scored
          .crossJoin(broadcast(vv))
          .groupBy("doc_id")
          .agg(
            round(avg(-log((col("cb") + lit(0.5)) /
              (col("cu") + lit(0.5) * col("v")))), 6).as("nll"),
            count(lit(1)).as("n_bigrams"))
          .orderBy("doc_id")
      },
      Some("""
        WITH tk0 AS (
          SELECT doc_id, string_split_regex(lower(text), '\s+') AS t
          FROM documents),
        tk AS (
          SELECT doc_id, t FROM tk0
          UNION ALL
          SELECT doc_id + 200000 AS doc_id,
                 flatten([t[1:2] FOR i IN range(1, 41)]) AS t
          FROM tk0 WHERE doc_id % 50 = 0 AND len(t) >= 2),
        bg AS (
          SELECT doc_id, p[1] AS w1, p[2] AS w2
          FROM (SELECT doc_id,
                       unnest([[t[i], t[i+1]] FOR i IN range(1, len(t))]) AS p
                FROM tk WHERE len(t) >= 2)),
        bc AS (SELECT w1, w2, count(*) AS cb FROM bg GROUP BY 1, 2),
        uc AS (SELECT w1, CAST(sum(cb) AS BIGINT) AS cu FROM bc GROUP BY 1),
        vv AS (SELECT count(DISTINCT w) AS v
               FROM (SELECT unnest(t) AS w FROM tk WHERE len(t) >= 2))
        SELECT bg.doc_id,
               round(avg(-ln((bc.cb + 0.5) / (uc.cu + 0.5 * vv.v))), 6) AS nll,
               CAST(count(*) AS BIGINT) AS n_bigrams
        FROM bg JOIN bc USING (w1, w2) JOIN uc USING (w1), vv
        GROUP BY bg.doc_id
        ORDER BY doc_id"""),
      doc = "bigram-LM perplexity scoring (CCNet-style quality filter, " +
        "self-trained add-0.5 model); planted boilerplate lands in the " +
        "low-NLL tail"),

    // URL canonicalization + host-level dedup rollup — the web-corpus
    // curation step that collapses crawl-duplicate URLs before content
    // dedup: lowercase scheme/host, strip leading www. and default
    // ports, drop tracking params (utm_*) and fragments, keep meaningful
    // params in order. Expression-only (regex + array HOF — runs at scan
    // speed, no shuffle until the per-host rollup). URLs are minted
    // deterministically from doc_id so both engines see the same crawl
    // frontier: 4 host spellings of 2 canonical hosts x tracking-param /
    // fragment variants, collapsing ~3:1.
    Q(
      "text_url_normalize",
      (s, dir) => {
        val d = t(s, dir, "documents")
        val url = concat(
          lit("HTTPS://"),
          element_at(
            array(lit("WWW.Example.COM"), lit("example.com"),
              lit("blog.example.com"), lit("Docs.Example.Com:443")),
            (col("doc_id") % 4 + 1).cast("int")),
          lit("/p/"), (col("doc_id") % 50).cast("string"),
          when(col("doc_id") % 3 === 0,
            concat(lit("?utm_source=feed&id="), (col("doc_id") % 7).cast("string")))
            .when(col("doc_id") % 3 === 1,
              concat(lit("?id="), (col("doc_id") % 7).cast("string"),
                lit("&utm_campaign=x")))
            .otherwise(lit("")),
          when(col("doc_id") % 5 === 0, lit("#frag")).otherwise(lit("")))
        t(s, dir, "documents").select(col("doc_id"), url.as("url"))
          .withColumn("host",
            regexp_replace(
              regexp_replace(
                lower(regexp_extract(col("url"), "^[A-Za-z]+://([^/?#]+)", 1)),
                "^www\\.", ""),
              ":(443|80)$", ""))
          .withColumn("path",
            regexp_extract(col("url"), "^[A-Za-z]+://[^/?#]+([^?#]*)", 1))
          .withColumn("q", regexp_extract(col("url"), "\\?([^#]*)", 1))
          .withColumn("q2", concat_ws("&",
            filter(split(col("q"), "&"),
              x => !x.startsWith("utm_") && x =!= lit(""))))
          .withColumn("canon", concat(lit("https://"), col("host"), col("path"),
            when(col("q2") =!= "", concat(lit("?"), col("q2"))).otherwise(lit(""))))
          .groupBy("host")
          .agg(count(lit(1)).as("n_urls"),
            countDistinct(col("url")).as("n_raw_distinct"),
            countDistinct(col("canon")).as("n_canonical"),
            min(col("canon")).as("first_canon"))
          .orderBy("host")
      },
      Some("""
        WITH u AS (
          SELECT doc_id,
            'HTTPS://' ||
            CASE doc_id % 4 WHEN 0 THEN 'WWW.Example.COM'
                            WHEN 1 THEN 'example.com'
                            WHEN 2 THEN 'blog.example.com'
                            ELSE 'Docs.Example.Com:443' END ||
            '/p/' || CAST(doc_id % 50 AS VARCHAR) ||
            CASE WHEN doc_id % 3 = 0
                   THEN '?utm_source=feed&id=' || CAST(doc_id % 7 AS VARCHAR)
                 WHEN doc_id % 3 = 1
                   THEN '?id=' || CAST(doc_id % 7 AS VARCHAR) || '&utm_campaign=x'
                 ELSE '' END ||
            CASE WHEN doc_id % 5 = 0 THEN '#frag' ELSE '' END AS url
          FROM documents),
        p AS (
          SELECT doc_id, url,
                 regexp_replace(regexp_replace(
                   lower(regexp_extract(url, '^[A-Za-z]+://([^/?#]+)', 1)),
                   '^www\.', ''), ':(443|80)$', '') AS host,
                 regexp_extract(url, '^[A-Za-z]+://[^/?#]+([^?#]*)', 1) AS path,
                 regexp_extract(url, '\?([^#]*)', 1) AS q
          FROM u),
        c AS (
          SELECT doc_id, url, host,
                 'https://' || host || path ||
                 CASE WHEN q2 <> '' THEN '?' || q2 ELSE '' END AS canon
          FROM (SELECT *, array_to_string(
                  list_filter(string_split(q, '&'),
                    x -> NOT starts_with(x, 'utm_') AND x <> ''), '&') AS q2
                FROM p))
        SELECT host, count(*) AS n_urls,
               count(DISTINCT url) AS n_raw_distinct,
               count(DISTINCT canon) AS n_canonical,
               min(canon) AS first_canon
        FROM c GROUP BY host ORDER BY host"""),
      doc = "URL canonicalization (host/port/www/tracking-param/fragment " +
        "normalization) + per-host crawl-dedup rollup, expression-only"),

    // N4: deterministic rule-based POS tagging from raw text — the
    // lexicon+suffix cascade in graft.functions.PosTag replaces the
    // fixture-carried-tag stance; both the Catalyst when-chain and this
    // oracle's CASE are generated from ONE rule table so they cannot
    // drift. reference src/absa/post_opinion_patterns.py:346-363 (spaCy
    // tagging boundary).
    Q(
      "text_pos_tag",
      (s, dir) => {
        val d = th(s, dir, "documents")
        d.select(col("lang"), explode(toks).as("w"))
          .select(col("lang"), col("w"),
            graft.functions.PosTag.tag(col("w")).as("tag"))
          .groupBy("lang", "tag")
          .agg(count(lit(1)).as("n_tokens"),
            countDistinct(col("w")).as("n_words"),
            min(col("w")).as("first_word"))
          .orderBy("lang", "tag")
      },
      Some(s"""
        SELECT lang, tag, count(*) AS n_tokens,
               CAST(count(DISTINCT w) AS BIGINT) AS n_words,
               min(w) AS first_word
        FROM (SELECT lang, ${graft.functions.PosTag.sqlCase("w")} AS tag, w
              FROM (SELECT lang,
                           unnest(string_split_regex(lower(text), '\\s+')) AS w
                    FROM documents))
        GROUP BY lang, tag ORDER BY lang, tag"""),
      doc = "N4 rule-based POS tagger (lexicon + German suffix cascade); " +
        "reference post_opinion_patterns.py:346-363"),

    // BPE merge training (Sennrich et al. 2016) over the corpus word
    // table, 6 unrolled merge rounds. Determinism contract: words are
    // delimiter-framed symbol strings ("·h·e·l·l·o·"); a merge applies
    // the LITERAL replace "·a·b·" -> "·ab·", which is left-to-right and
    // non-overlapping with the shared delimiter consumed (so "abab"
    // merges its first pair per pass, not both — documented engine
    // policy; Spark's replace() and DuckDB's replace() agree exactly).
    // The top pair breaks count ties by (a, b) ascending. Scale posture:
    // the corpus is scanned ONCE (word extraction); every merge round
    // then works on the VOCAB-sized (word, freq) frame — pair counting
    // is a vocab-sized shuffle and the winning pair is a 1-row
    // broadcast, so 6 rounds cost 6 vocab passes regardless of corpus
    // size. Output: the learned merge table + the top-20 subword
    // vocabulary it induces.
    Q(
      "text_bpe_train",
      (s, dir) => {
        val d = th(s, dir, "documents")
        val base = Bpe.vocab(d.select(explode(
          expr("regexp_extract_all(lower(text), '[a-z]+', 0)")).as("word")))
        val (cur, rawMerges) = Bpe.learn(base)
        val merges = rawMerges.zipWithIndex.map { case (m, i) =>
          m.select(lit("merge").as("kind"), lit(i + 1).as("rk"),
            concat(col("a"), lit("+"), col("b")).as("item"), col("n"))
        }
        // Top-20 via the bounded-heap TopKPerKey operator (map-side
        // partial heaps, one 20-row merge) instead of ranking the whole
        // vocabulary under a SinglePartition window; the residual rank
        // window below orders the 20 surviving rows only (allowlisted in
        // UnpartitionedWindowSpec with that bound).
        val tokens = graft.plans.TopK.perKey(
            cur.select(col("freq"), explode(expr(Bpe.toksE)).as("token"))
              .groupBy("token").agg(sum("freq").as("n"))
              .withColumn("__g", lit(1)),
            Seq("__g"), Seq(("n", false), ("token", true)), 20)
          .withColumn("rk", row_number().over(
            Window.orderBy(col("n").desc, col("token"))))
          .select(lit("token").as("kind"), col("rk"), col("token").as("item"),
            col("n"))
        merges.reduce(_ unionByName _).unionByName(tokens)
          .orderBy("kind", "rk")
      },
      Some {
        s"""
        WITH ${Bpe.sqlCtes},
        tok AS (
          SELECT token, CAST(sum(freq) AS BIGINT) AS n FROM (
            SELECT freq, unnest(list_filter(string_split(sym, '·'),
                                x -> x <> '')) AS token
            FROM r6)
          GROUP BY token)
        SELECT kind, rk, item, n FROM (
          ${(1 to 6).map(i =>
            s"SELECT 'merge' AS kind, $i AS rk, a || '+' || b AS item, n FROM m$i")
            .mkString("\n          UNION ALL ")}
          UNION ALL
          SELECT 'token', CAST(rk AS INT), token, n FROM (
            SELECT token, n,
                   row_number() OVER (ORDER BY n DESC, token) AS rk
            FROM tok)
          WHERE rk <= 20)
        ORDER BY kind, rk"""
      },
      doc = "BPE merge training (6 unrolled rounds) on the vocab-sized " +
        "word table: one corpus scan, per-round vocab-sized pair count " +
        "+ 1-row broadcast merge via literal delimiter-framed replace; " +
        "emits the merge table and induced top-20 subword vocabulary"),

    // BPE ENCODING with the learned merges — the tokenizer-application
    // half (what a training-data pipeline runs over every document once
    // the merge table exists). The key scale property: encoding is done
    // ONCE PER DISTINCT WORD (the vocab frame carries the merged symbol
    // string), and per-document token counts come from a keyed join of
    // the corpus word stream against that vocab-sized (word → n_tok)
    // frame — the corpus is never re-processed through the merge loop.
    // Output: per-language corpus tokenization stats + the exact
    // chars-per-token compression ratio (single IEEE division over
    // identical BIGINTs on both sides — bit-stable, emitted unrounded).
    Q(
      "text_bpe_encode",
      (s, dir) => {
        val d = th(s, dir, "documents")
        val words = d.select(col("lang"), explode(
          expr("regexp_extract_all(lower(text), '[a-z]+', 0)")).as("word"))
        val (cur, _) = Bpe.learn(Bpe.vocab(words.select("word")))
        val enc = cur.select(col("word"),
          size(expr(Bpe.toksE)).as("n_tok"))
        words.join(enc, "word")
          .groupBy("lang")
          .agg(count(lit(1)).as("n_words"),
            sum(col("n_tok").cast("long")).as("n_tokens"),
            sum(length(col("word")).cast("long")).as("n_chars"))
          .withColumn("chars_per_token",
            col("n_chars").cast("double") / col("n_tokens").cast("double"))
          .orderBy("lang")
      },
      Some {
        s"""
        WITH ${Bpe.sqlCtes},
        wl AS (
          SELECT lang, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
          FROM documents),
        enc AS (
          SELECT word, len(list_filter(string_split(sym, '·'),
                           x -> x <> '')) AS n_tok
          FROM r6)
        SELECT lang, count(*) AS n_words,
               CAST(sum(n_tok) AS BIGINT) AS n_tokens,
               CAST(sum(length(word)) AS BIGINT) AS n_chars,
               CAST(CAST(sum(length(word)) AS BIGINT) AS DOUBLE) /
                 CAST(CAST(sum(n_tok) AS BIGINT) AS DOUBLE) AS chars_per_token
        FROM wl JOIN enc USING (word)
        GROUP BY lang ORDER BY lang"""
      },
      doc = "BPE encoding via the learned merge table: per-distinct-word " +
        "merge application on the vocab frame, corpus token counts from " +
        "one keyed join — the corpus never re-enters the merge loop"),

    // PMI collocation mining (pointwise mutual information over adjacent
    // word pairs — the classic phrase detector, cf. word2vec-phrases).
    // All probabilities live in BIGRAM space: one (a,b) count table,
    // marginals n_a• / n_•b re-aggregated FROM that table (vocab²-bounded,
    // far smaller than the corpus), and the grand total as a 1-row
    // broadcast. PMI = ln((n_ab·N)/(n_a·n_b)) — one fixed-order double
    // chain over exact integers, so the value is bit-comparable; ranking
    // uses (count desc, pair) which is integer-deterministic regardless.
    Q(
      "text_pmi_collocations",
      (s, dir) => {
        val d = th(s, dir, "documents")
        val bi = d.select(split(lower(col("text")), " ").as("tk"))
          .filter(size(col("tk")) >= 2)
          .select(explode(expr(
            "transform(sequence(0, size(tk) - 2), " +
              "i -> struct(tk[i] AS a, tk[i+1] AS b))")).as("p"))
          .select(col("p.a").as("a"), col("p.b").as("b"))
        val cnt = bi.groupBy("a", "b").agg(count(lit(1)).as("n_ab"))
          .localCheckpoint()
        val ma = cnt.groupBy("a").agg(sum("n_ab").as("n_a"))
        val mb = cnt.groupBy("b").agg(sum("n_ab").as("n_b"))
        val tot = cnt.agg(sum("n_ab").as("nn"))
        cnt.join(ma, "a").join(mb, "b").crossJoin(broadcast(tot))
          .filter(col("n_ab") >= 5)
          .withColumn("pmi", log(
            (col("n_ab").cast("double") * col("nn").cast("double")) /
              (col("n_a").cast("double") * col("n_b").cast("double"))))
          .select(col("a"), col("b"), col("n_ab"), col("n_a"), col("n_b"),
            col("pmi"))
          .orderBy(col("n_ab").desc, col("a"), col("b"))
          .limit(30)
      },
      Some("""
        WITH bi AS (
          SELECT toks[i] AS a, toks[i + 1] AS b
          FROM (SELECT toks, unnest(range(1, len(toks))) AS i
                FROM (SELECT string_split(lower(text), ' ') AS toks
                      FROM documents))),
        cnt AS (
          SELECT a, b, count(*) AS n_ab FROM bi GROUP BY a, b),
        ma AS (SELECT a, CAST(sum(n_ab) AS BIGINT) AS n_a
               FROM cnt GROUP BY a),
        mb AS (SELECT b, CAST(sum(n_ab) AS BIGINT) AS n_b
               FROM cnt GROUP BY b),
        tot AS (SELECT CAST(sum(n_ab) AS BIGINT) AS nn FROM cnt)
        SELECT a, b, n_ab, n_a, n_b,
               ln((CAST(n_ab AS DOUBLE) * CAST(nn AS DOUBLE)) /
                  (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))) AS pmi
        FROM cnt JOIN ma USING (a) JOIN mb USING (b) CROSS JOIN tot
        WHERE n_ab >= 5
        ORDER BY n_ab DESC, a, b LIMIT 30"""),
      doc = "PMI collocations over the bigram count table (marginals and " +
        "total derived from it, vocab-squared-bounded); fixed-order ln " +
        "chain over exact integers, integer-deterministic ranking"))

  /** DuckDB face of the trigram language detector — CTE chain
    * `w, fl, norm, grams, vocab, hits, scores, best` ending in
    * `best(doc_id, lang)`; shared by `text_langid_ngram` (distribution)
    * and `ml_eval_langid` (confusion-matrix evaluation). Weight/floor
    * tables are generated from the SAME model the Scala detector uses. */
  private[queries] def langIdCtes: String = {
    val lc = graft.functions.LangId.letterClass
    s"""w(lang, tri, wt) AS (SELECT * FROM (VALUES
          ${graft.functions.LangId.sqlWeightValues})),
        fl(lang, fw) AS (SELECT * FROM (VALUES
          ${graft.functions.LangId.sqlFloorValues})),
        norm AS (
          SELECT doc_id,
            trim(regexp_replace(regexp_replace(regexp_replace(lower(text),
              'https?://\\S+', ' ', 'g'),
              '[${lc}0-9._-]+@[${lc}0-9._-]+', ' ', 'g'),
              '[^$lc]+', ' ', 'g')) AS t
          FROM documents),
        grams AS (
          SELECT doc_id, substr(concat(' ', t, ' '), i, 3) AS tri
          FROM norm, LATERAL (SELECT unnest(range(1, length(t) + 1)) AS i)
          WHERE t <> ''),
        vocab AS (SELECT DISTINCT tri FROM w),
        hits AS (SELECT g.doc_id, g.tri FROM grams g JOIN vocab v USING (tri)),
        scores AS (
          SELECT h.doc_id, l.lang, sum(coalesce(w.wt, l.fw)) AS score
          FROM hits h CROSS JOIN fl l
          LEFT JOIN w ON w.lang = l.lang AND w.tri = h.tri
          GROUP BY h.doc_id, l.lang),
        best AS (
          SELECT doc_id, lang FROM (
            SELECT doc_id, lang, row_number() OVER (PARTITION BY doc_id
              ORDER BY score DESC, lang ASC) AS rn
            FROM scores) WHERE rn = 1)"""
  }

  /** Shared BPE machinery (Sennrich et al. 2016) for `text_bpe_train` /
    * `text_bpe_encode`: words are delimiter-framed symbol strings
    * ("·h·e·l·l·o·"); a merge applies the LITERAL replace
    * "·a·b·" → "·ab·" (left-to-right, non-overlapping, shared delimiter
    * consumed — Spark's replace() and DuckDB's replace() agree exactly);
    * the top pair breaks count ties by (a, b) ascending. The Scala and
    * SQL faces below implement the SAME 6 unrolled rounds so the two
    * catalog queries cannot drift from their oracles independently. */
  private object Bpe {
    val toksE = "filter(split(sym, '·'), x -> x <> '')"

    /** Corpus word stream → delimiter-framed (word, freq, sym) vocab. */
    def vocab(words: DataFrame): DataFrame =
      words.groupBy("word").agg(count(lit(1)).as("freq"))
        .withColumn("sym",
          concat(lit("·"), expr("regexp_replace(word, '(.)', '$1·')")))
        .localCheckpoint()

    /** 6 merge rounds over the vocab frame; returns the final vocab
      * (merged `sym`) and the per-round 1-row (a, b, n) merge frames.
      * Each round: vocab-sized pair count, 1-row broadcast, literal
      * replace — cost independent of corpus size. */
    def learn(base: DataFrame): (DataFrame, Seq[DataFrame]) = {
      def topPair(cur: DataFrame): DataFrame =
        cur.withColumn("toks", expr(toksE))
          .filter(size(col("toks")) >= 2)
          .select(col("freq"), explode(expr(
            "transform(sequence(0, size(toks)-2), " +
              "i -> struct(toks[i] AS a, toks[i+1] AS b))")).as("p"))
          .groupBy(col("p.a").as("a"), col("p.b").as("b"))
          .agg(sum("freq").as("n"))
          .orderBy(col("n").desc, col("a"), col("b")).limit(1)
      var cur = base
      var merges = Seq.empty[DataFrame]
      var r = 1
      while (r <= 6) {
        val m = topPair(cur).localCheckpoint()
        merges = merges :+ m
        cur = cur.crossJoin(broadcast(m))
          .withColumn("sym", expr(
            "replace(sym, concat('·', a, '·', b, '·'), concat('·', a, b, '·'))"))
          .drop("a", "b", "n")
        r += 1
      }
      (cur, merges)
    }

    /** DuckDB CTE chain `words, r0, p1, m1, r1, …, r6` replaying the same
      * 6 rounds; callers append their own tail CTEs/projection. */
    def sqlCtes: String = {
      def pairCte(p: String, rPrev: String) =
        s"""$p AS (
           |  SELECT a, b, CAST(sum(freq) AS BIGINT) AS n FROM (
           |    SELECT freq, toks[i] AS a, toks[i+1] AS b FROM (
           |      SELECT freq, unnest(range(1, len(toks))) AS i, toks
           |      FROM (SELECT freq,
           |                   list_filter(string_split(sym, '·'),
           |                               x -> x <> '') AS toks
           |            FROM $rPrev)
           |      WHERE len(toks) >= 2))
           |  GROUP BY a, b)""".stripMargin
      def mergeCtes(i: Int) =
        s"""${pairCte(s"p$i", s"r${i - 1}")},
           |m$i AS (SELECT a, b, n FROM p$i ORDER BY n DESC, a, b LIMIT 1),
           |r$i AS (SELECT word, freq,
           |               replace(sym, '·' || a || '·' || b || '·',
           |                       '·' || a || b || '·') AS sym
           |        FROM r${i - 1} CROSS JOIN m$i)""".stripMargin
      s"""words AS (
         |  SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
         |  FROM documents),
         |r0 AS (
         |  SELECT word, count(*) AS freq,
         |         '·' || regexp_replace(word, '(.)', '\\1·', 'g') AS sym
         |  FROM words GROUP BY word),
         |${(1 to 6).map(mergeCtes).mkString(",\n")}""".stripMargin
    }
  }
}
