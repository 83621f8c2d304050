package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Upsert
import graft.multimodal.Multimodal

/** Pipeline-level operators: the merge sink (K1), the gold
  * customer-characteristics rollup (A6/A7), deterministic sampling (O1),
  * POS-pattern subsequence matching (N5), and the multimodal binary
  * plumbing.
  */
object PipelineQueries extends QueryBase {

  /** The three-algorithm aspect matcher shared by `pipe_aspect_match`
    * (full corpus) and `pipe_aspect_match_delta` (watermark-incremental).
    * `docs` must carry (post_id, text) plus any passthrough columns;
    * returns one row per (token occurrence × matching aspect ×
    * algorithm): passthrough ++ (word_index, phrase, aspect_id,
    * aspect_word, match_algorithm). See pipe_aspect_match's doc for the
    * plan rationale (vocab-bounded kernels behind a persist, guarded
    * trigram + banded levenshtein, broadcast token join). */
  /** The checked-in aspect-word lexicon (aspect_id, word) — the engine
    * analog of the reference's target_aspect_word table, designed so
    * every threshold and best-match contract binds visibly (see
    * pipe_aspect_match's doc). Shared with the streaming twin
    * [[graft.streaming.Incremental.aspectTokenMatches]]. */
  private[graft] val aspectLexicon: Seq[(Int, String)] = Seq(
    (1, "spark"), (1, "streams"), (2, "windows"), (2, "merge"),
    (3, "tables"), (3, "victor"), (4, "customeres"), (5, "customers"))

  private def aspectMatches(s: org.apache.spark.sql.SparkSession,
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val lex = aspectLexicon.toDF("aspect_id", "word")
    val passthrough = docs.columns.filter(_ != "text").toSeq
    val toks = docs
      .select(passthrough.map(col) :+
        posexplode(split(lower(col("text")), " ")): _*)
      .filter(length(col("col")) > 0)
      .select(passthrough.map(col) ++ Seq(
        (col("pos") + 1).cast("long").as("word_index"),
        col("col").as("phrase")): _*)
    val vocab = toks.select("phrase").distinct()
    val scored = vocab.crossJoin(broadcast(lex))
      .withColumn("m_eq", lower(col("phrase")) === lower(col("word")))
      .withColumn("sim", expr("trigram_sim(phrase, word)"))
      .withColumn("tg_q", expr("trigram_sim(phrase, word) >= 0.65D"))
      .withColumn("d", expr("levenshtein(lower(phrase), lower(word), " +
        "cast(floor(0.19D * length(phrase)) as int))"))
      .withColumn("lv_q",
        col("d") >= 0 && length(col("phrase")) <= 255)
      .withColumn("m_lv", col("d").cast("double") / length(col("phrase")))
      // best_phrase_match materialization point (see doc). Size is
      // |distinct vocab| x |lexicon| rows (a few hundred here;
      // vocab-bounded, never corpus-bounded) so the resident cost is
      // KBs — but the returned frame is lazy and still references this
      // relation, so the builder can't unpersist; it is tracked in
      // CacheLedger and drivers release it after materialization.
      .persist()
    graft.core.CacheLedger.track(scored)
    val w = Window.partitionBy("phrase")
    val withBest = scored
      .withColumn("tg_best", max(when(col("tg_q"), col("sim"))).over(w))
      .withColumn("lv_best", min(when(col("lv_q"), col("m_lv"))).over(w))
    def branch(qual: Column, algo: String) =
      withBest.filter(qual)
        .groupBy("phrase", "aspect_id")
        .agg(min(col("word")).as("aspect_word"))
        .withColumn("match_algorithm", lit(algo))
    val matched = branch(col("m_eq"), "equality")
      .unionByName(
        branch(col("tg_q") && col("sim") === col("tg_best"), "trigram"))
      .unionByName(
        branch(col("lv_q") && col("m_lv") === col("lv_best"),
          "levenshtein"))
    toks.join(broadcast(matched), Seq("phrase"))
  }

  /** DuckDB face of [[aspectMatches]]: CTE chain scoring the distinct
    * vocabulary of `docsCte` (must provide source, post_id, text plus
    * `extra` passthrough columns) against the lexicon under all three
    * algorithms; emits `<p>tok` (exploded tokens) and `<p>matched`
    * (phrase → qualifying best-match aspects per algorithm). */
  private def aspectMatchSql(p: String, docsCte: String,
      extra: String = ""): String = {
    val ex = if (extra.isEmpty) "" else extra + ", "
    s"""
${p}lex(aspect_id, word) AS (SELECT * FROM (VALUES
  (1, 'spark'), (1, 'streams'), (2, 'windows'), (2, 'merge'),
  (3, 'tables'), (3, 'victor'), (4, 'customeres'), (5, 'customers'))),
${p}toksr AS (
  SELECT source, post_id, $ex
         CAST(generate_subscripts(string_split(lower(text), ' '), 1)
           AS BIGINT) AS word_index,
         unnest(string_split(lower(text), ' ')) AS phrase
  FROM $docsCte),
${p}tok AS (SELECT * FROM ${p}toksr WHERE length(phrase) > 0),
${p}vocab AS (SELECT DISTINCT phrase FROM ${p}tok),
${p}scored AS (
  SELECT phrase, aspect_id, word,
         lower(phrase) = lower(word) AS m_eq,
         (WITH t1 AS (SELECT list_distinct(flatten(
             [[substr(concat('  ', w, ' '), i, 3)
               FOR i IN range(1, length(w) + 2)]
              FOR w IN [x FOR x IN
                regexp_split_to_array(lower(phrase), '[^a-z0-9]+')
                IF x <> '']])) AS a,
           list_distinct(flatten(
             [[substr(concat('  ', w, ' '), i, 3)
               FOR i IN range(1, length(w) + 2)]
              FOR w IN [x FOR x IN
                regexp_split_to_array(lower(word), '[^a-z0-9]+')
                IF x <> '']])) AS b)
          SELECT CASE WHEN len(list_distinct(a || b)) = 0 THEN 0.0
                 ELSE len(list_intersect(a, b)) * 1.0 /
                      len(list_distinct(a || b)) END FROM t1) AS sim,
         CAST(levenshtein(lower(phrase), lower(word)) AS DOUBLE)
           / length(phrase) AS m_lv_raw
  FROM ${p}vocab CROSS JOIN ${p}lex),
${p}flags AS (
  SELECT *, sim >= 0.65 AS tg_q,
         length(phrase) <= 255
           AND levenshtein(lower(phrase), lower(word))
             <= floor(0.19 * length(phrase)) AS lv_q
  FROM ${p}scored),
${p}best AS (
  SELECT *,
         max(CASE WHEN tg_q THEN sim END)
           OVER (PARTITION BY phrase) AS tg_best,
         min(CASE WHEN lv_q THEN m_lv_raw END)
           OVER (PARTITION BY phrase) AS lv_best
  FROM ${p}flags),
${p}matched AS (
  SELECT phrase, aspect_id, min(word) AS aspect_word,
         'equality' AS match_algorithm
  FROM ${p}best WHERE m_eq GROUP BY 1, 2
  UNION ALL
  SELECT phrase, aspect_id, min(word), 'trigram'
  FROM ${p}best WHERE tg_q AND sim = tg_best GROUP BY 1, 2
  UNION ALL
  SELECT phrase, aspect_id, min(word), 'levenshtein'
  FROM ${p}best WHERE lv_q AND m_lv_raw = lv_best GROUP BY 1, 2)"""
  }

  val all: Seq[Q] = Seq(
    // K1 upsert/merge: incoming rows win PK conflicts, survivors keep.
    // reference src/_utils/database.py:140-174 (COPY + ON CONFLICT UPDATE).
    Q(
      "pipe_upsert_merge",
      (s, dir) => {
        val o = t(s, dir, "orders")
        val existing = o.filter(col("o_orderkey") % 3 =!= 0)
        val incoming = o.filter(col("o_orderkey") % 2 === 0)
          .withColumn("o_totalprice", col("o_totalprice") + 1000.0)
        Upsert.merge(existing, incoming, Seq("o_orderkey"))
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n_rows"), dsum(col("o_totalprice"), 10000L).as("total"))
          .orderBy("o_orderstatus")
      },
      Some("""
        WITH existing AS (SELECT * FROM orders WHERE o_orderkey % 3 <> 0),
        incoming AS (SELECT * REPLACE (o_totalprice + 1000.0 AS o_totalprice)
                     FROM orders WHERE o_orderkey % 2 = 0),
        merged AS (
          SELECT * FROM existing
          WHERE o_orderkey NOT IN (SELECT o_orderkey FROM incoming)
          UNION ALL SELECT * FROM incoming)
        SELECT o_orderstatus, count(*) AS n_rows,
               CAST(sum(CAST(o_totalprice AS DECIMAL(30,4))) AS DOUBLE) AS total
        FROM merged GROUP BY o_orderstatus ORDER BY o_orderstatus"""),
      doc = "K1 upsert merge sink semantics; reference database.py:140-174"),

    // A6/A7 gold rollup: the customer_characteristics view shape —
    // per-customer lifetime aggregates from two fact tables plus a
    // most-common (mode) attribute, assembled by left joins.
    // reference migration_032.sql:7-180.
    Q(
      "pipe_customer_gold",
      (s, dir) => {
        val c = t(s, dir, "customer")
        val o = t(s, dir, "orders")
        val li = t(s, dir, "lineitem")
        val oAgg = o.groupBy("o_custkey").agg(
          count(lit(1)).as("order_count"),
          dsum(col("o_totalprice"), 10000L).as("total_spend"),
          date_format(max(col("o_orderdate")), "yyyy-MM-dd").as("last_order_day"))
        val wMode = Window.partitionBy("o_custkey")
          .orderBy(col("cnt").desc, col("o_orderpriority").asc)
        val mode = o.groupBy("o_custkey", "o_orderpriority")
          .agg(count(lit(1)).as("cnt"))
          .withColumn("rn", row_number().over(wMode))
          .filter(col("rn") === 1)
          .select(col("o_custkey").as("m_custkey"),
            col("o_orderpriority").as("most_common_priority"))
        val oKeys = o.select(col("o_orderkey"), col("o_custkey"))
        val liAgg = li.join(oKeys, li("l_orderkey") === oKeys("o_orderkey"))
          .groupBy("o_custkey")
          .agg(dsum(col("l_quantity")).as("total_qty"), count(lit(1)).as("item_count"))
          .withColumnRenamed("o_custkey", "l_custkey")
        c.select(col("c_custkey"), col("c_mktsegment"))
          .join(oAgg, c("c_custkey") === oAgg("o_custkey"), "left")
          .join(mode, c("c_custkey") === mode("m_custkey"), "left")
          .join(liAgg, c("c_custkey") === liAgg("l_custkey"), "left")
          .select(col("c_custkey"), col("c_mktsegment"),
            coalesce(col("order_count"), lit(0)).as("order_count"),
            coalesce(col("total_spend"), lit(0.0)).as("total_spend"),
            col("last_order_day"), col("most_common_priority"),
            coalesce(col("total_qty"), lit(0.0)).as("total_qty"),
            coalesce(col("item_count"), lit(0)).as("item_count"))
          .orderBy("c_custkey")
      },
      Some("""
        WITH o_agg AS (
          SELECT o_custkey, count(*) AS order_count,
                 CAST(sum(CAST(o_totalprice AS DECIMAL(30,4))) AS DOUBLE) AS total_spend,
                 strftime(max(o_orderdate), '%Y-%m-%d') AS last_order_day
          FROM orders GROUP BY o_custkey),
        mode AS (
          SELECT o_custkey, o_orderpriority AS most_common_priority FROM (
            SELECT o_custkey, o_orderpriority,
                   row_number() OVER (PARTITION BY o_custkey
                                      ORDER BY count(*) DESC, o_orderpriority ASC) AS rn
            FROM orders GROUP BY o_custkey, o_orderpriority)
          WHERE rn = 1),
        li_agg AS (
          SELECT o_custkey,
                 CAST(sum(CAST(l_quantity AS DECIMAL(30,4))) AS DOUBLE) AS total_qty,
                 count(*) AS item_count
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          GROUP BY o_custkey)
        SELECT c_custkey, c_mktsegment,
               coalesce(order_count, 0) AS order_count,
               coalesce(total_spend, 0.0) AS total_spend,
               last_order_day, most_common_priority,
               coalesce(total_qty, 0.0) AS total_qty,
               coalesce(item_count, 0) AS item_count
        FROM customer
          LEFT JOIN o_agg ON c_custkey = o_agg.o_custkey
          LEFT JOIN mode ON c_custkey = mode.o_custkey
          LEFT JOIN li_agg ON c_custkey = li_agg.o_custkey
        ORDER BY c_custkey"""),
      doc = "A6/A7 customer_characteristics gold view; reference migration_032.sql:7-180"),

    // O1 deterministic sampling: hash-mod keeps an exact, seed-stable 10%
    // — the distributed replacement for ORDER BY RANDOM() LIMIT n
    // (reference src/_utils/database.py:279-288), which needs a global
    // sort; hash-mod sampling is a pushdown-friendly filter.
    Q(
      "pipe_sample_hash",
      (s, dir) => {
        val c = t(s, dir, "customer")
        val bucket = pmod(conv(substring(md5(col("c_name")), 1, 15), 16, 10)
          .cast("long"), lit(100))
        c.filter(bucket < 10)
          .groupBy("c_mktsegment")
          .agg(count(lit(1)).as("n_sampled"), round(davg(col("c_acctbal")), 6).as("avg_bal"))
          .orderBy("c_mktsegment")
      },
      Some("""
        SELECT c_mktsegment, count(*) AS n_sampled,
               round(CAST(sum(CAST(c_acctbal AS DECIMAL(30,4))) AS DOUBLE) / count(c_acctbal), 6) AS avg_bal
        FROM customer
        WHERE CAST(concat('0x', substr(md5(c_name), 1, 15)) AS BIGINT) % 100 < 10
        GROUP BY c_mktsegment ORDER BY c_mktsegment"""),
      doc = "O1 deterministic hash-mod sampling; reference database.py:279-288"),

    // N5 POS-pattern subsequence match: find ADJ-NOUN bigram positions in
    // the tag sequence, emit the matched word pairs. Tags come from the
    // rule-based N4 tagger (graft.functions.PosTag — lexicon + German
    // suffix cascade), so the pattern matcher runs end-to-end from raw
    // text exactly as the reference runs spaCy upstream of it.
    // reference src/absa/post_opinion_patterns.py:401-421.
    Q(
      "pipe_pos_pattern",
      (s, dir) => {
        val d = th(s, dir, "documents")
        val tk = split(lower(col("text")), "\\s+")
        val tags = transform(tk, w => graft.functions.PosTag.tag(w))
        val hits = filter(sequence(lit(1), size(col("tk")) - 1),
          i => element_at(col("tags"), i) === "ADJ" &&
            element_at(col("tags"), i + 1) === "NOUN")
        d.select(col("doc_id"), tk.as("tk"), tags.as("tags"))
          .select(col("doc_id"), explode(transform(hits,
            i => concat_ws(" ", element_at(col("tk"), i), element_at(col("tk"), i + 1))))
            .as("phrase"))
          .groupBy("phrase")
          .agg(count(lit(1)).as("n_occ"), countDistinct(col("doc_id")).as("n_docs"))
          .filter(col("n_occ") >= 2)
          .orderBy(col("n_occ").desc, col("phrase").asc)
          .limit(50)
      },
      Some(s"""
        WITH tagged AS (
          SELECT doc_id, tk,
                 [${graft.functions.PosTag.sqlCase("w")} FOR w IN tk] AS tags
          FROM (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS tk
                FROM documents)),
        hits AS (
          SELECT doc_id,
                 unnest([tk[i] || ' ' || tk[i+1] FOR i IN range(1, len(tk))
                         IF tags[i] = 'ADJ' AND tags[i+1] = 'NOUN']) AS phrase
          FROM tagged)
        SELECT phrase, count(*) AS n_occ, count(DISTINCT doc_id) AS n_docs
        FROM hits GROUP BY phrase HAVING count(*) >= 2
        ORDER BY n_occ DESC, phrase ASC LIMIT 50"""),
      doc = "N5 POS-pattern subsequence match; reference post_opinion_patterns.py:401-421"),

    // The full ABSA opinion-pattern composite (reference
    // post_opinion_patterns.py:295-448 downstream into 104-210):
    //   posts (non-museum, text present)
    //   × opinion-pattern dim (J11 cross join — the 2-row
    //     opinion_patterns.jsonc config: adj_noun / noun_adj)
    //   → POS-tag subsequence match (N5; rule-based N4 tagger
    //     graft.functions.PosTag, spaCy model out of engine per SURVEY §2.10)
    //   → aspect/sentiment phrase extraction per match
    //   → aspect-word embedding lookup (N6 md5-derived vectors)
    //   → bounded DBSCAN bins over DISTINCT aspect vectors (N7 —
    //     post-aggregation frame, weighted vertices, driver fit capped,
    //     labels broadcast back)
    //   → ordered collect rollup per bin (A16).
    // The DuckDB oracle replays everything including the clustering
    // (minPts=2 ⇒ recursive connected components; integer vectors make
    // the cosine threshold exact — dot > 0 AND dot² ≥ (0.85)²·|a|²·|b|²).
    Q(
      "pipe_opinion_patterns",
      (s, dir) => {
        import s.implicits._
        val posts = th(s, dir, "documents")
          .filter(col("doc_id") % 7 =!= 0 && col("text").isNotNull)
          .select(col("doc_id"), split(lower(col("text")), "\\s+").as("tk"))
        val patterns = Seq(
          ("adj_noun", "ADJ", "NOUN", 2), // {pos:ADJ,isSentiment},{pos:NOUN,isAspect}
          ("noun_adj", "NOUN", "ADJ", 1)) // {pos:NOUN,isAspect},{pos:ADJ,isSentiment}
          .toDF("pattern_name", "pos1", "pos2", "aspect_seg")
        val tags = transform(col("tk"), w => graft.functions.PosTag.tag(w))
        val hits = filter(sequence(lit(1), size(col("tk")) - 1), i =>
          element_at(col("tags"), i) === col("pos1") &&
            element_at(col("tags"), i + 1) === col("pos2"))
        val phrases = posts.withColumn("tags", tags)
          .crossJoin(broadcast(patterns))
          .select(col("doc_id"), col("pattern_name"), col("aspect_seg"),
            col("tk"), explode(hits).as("i"))
          .select(col("doc_id"), col("pattern_name"),
            element_at(col("tk"), when(col("aspect_seg") === 1, col("i"))
              .otherwise(col("i") + 1)).as("aspect_phrase"),
            element_at(col("tk"), when(col("aspect_seg") === 1, col("i") + 1)
              .otherwise(col("i"))).as("sentiment_phrase"))
        // N6: deterministic embedding per distinct aspect word.
        val dims = (0 to 3).map(dd =>
          (pmod(h64(concat(col("aspect_phrase"), lit(s":$dd"))), lit(2001L))
            - 1000).as(s"v$dd"))
        val lex = phrases.groupBy("aspect_phrase")
          .agg(count(lit(1)).as("occ"))
          .select(col("aspect_phrase") +: col("occ") +: dims: _*)
          .withColumn("vec", array(col("v0"), col("v1"), col("v2"), col("v3")))
          .withColumn("s2",
            expr("aggregate(vec, 0L, (a, x) -> a + x * x)"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        // the returned lazy frame references the persisted lexicon;
        // Verify releases it after materializing (CacheLedger contract).
        graft.core.CacheLedger.track(lex)
        // N7: fully distributed (r10 verdict item 1 — the 4096-word
        // driver cap is retired): minPts=2 weighted DBSCAN ≡ connected
        // components of the eps-graph plus weighted singletons (a word
        // occurring ≥ 2 times is core alone — its duplicates sit at
        // distance 0). Pairs from sign-LSH blocking + probe cap
        // (DbscanCC.epsComponents); exact integer cosine verify
        // (dot > 0 AND dot² ≥ 0.85²·|a|²·|b|²); the oracle replays the
        // identical hyperplanes/cap/closure (DbscanSql.ccSql).
        val labels = graft.ml.DbscanCC.epsComponents(
          lex, idCol = "aspect_phrase", vecCol = "vec", s2Col = "s2",
          dims = 4, bands = 8, bits = 4, cap = 64, salt = "oa",
          cosine = 0.85, requireDotPos = true)
        val compAll = lex
          .join(labels.withColumnRenamed("id", "aspect_phrase"),
            Seq("aspect_phrase"), "left")
          .select(col("aspect_phrase"),
            coalesce(col("label"), col("aspect_phrase")).as("cluster"),
            col("label").isNotNull.as("edged"), col("occ"), col("s2"))
        val keep = compAll.groupBy("cluster")
          .agg(max(col("edged")).as("any_edged"),
            sum(col("occ")).as("occ_sum"), min(col("s2")).as("s2_min"))
          .filter(col("any_edged") ||
            (col("occ_sum") >= 2 && col("s2_min") > 0))
          .select("cluster")
        // A16 rollup per bin, labels assigned distributedly.
        phrases
          .join(compAll.select("aspect_phrase", "cluster"),
            Seq("aspect_phrase"))
          .join(keep, Seq("cluster"), "left_semi")
          .groupBy("cluster")
          .agg(
            min(col("aspect_phrase")).as("rep_aspect"),
            count(lit(1)).as("n_phrases"),
            countDistinct(col("aspect_phrase")).as("n_aspects"),
            count(when(col("pattern_name") === "adj_noun", 1)).as("n_adj_noun"),
            count(when(col("pattern_name") === "noun_adj", 1)).as("n_noun_adj"),
            array_join(slice(array_sort(collect_set(col("sentiment_phrase"))),
              1, 5), " ").as("top_sentiments"))
          .select("rep_aspect", "n_phrases", "n_aspects", "n_adj_noun",
            "n_noun_adj", "top_sentiments")
          .orderBy("rep_aspect")
      },
      Some(s"""
        WITH posts AS (
          SELECT doc_id, string_split_regex(lower(text), '\\s+') AS tk
          FROM documents WHERE doc_id % 7 <> 0 AND text IS NOT NULL),
        pat(pattern_name, pos1, pos2, aspect_seg) AS (SELECT * FROM (VALUES
          ('adj_noun', 'ADJ', 'NOUN', 2), ('noun_adj', 'NOUN', 'ADJ', 1))),
        tagged AS (
          SELECT doc_id, tk,
                 [${graft.functions.PosTag.sqlCase("w")} FOR w IN tk] AS tags
          FROM posts),
        phrases AS (
          SELECT doc_id, pattern_name,
                 tk[CASE WHEN aspect_seg = 1 THEN i ELSE i + 1 END] AS aspect_phrase,
                 tk[CASE WHEN aspect_seg = 1 THEN i + 1 ELSE i END] AS sentiment_phrase
          FROM (SELECT t.doc_id, t.tk, p.pattern_name, p.aspect_seg,
                       unnest([i FOR i IN range(1, len(t.tk))
                               IF t.tags[i] = p.pos1 AND t.tags[i+1] = p.pos2]) AS i
                FROM tagged t CROSS JOIN pat p)),
        lex AS (
          SELECT aspect_phrase, count(*) AS occ,
            CAST(concat('0x', substr(md5(aspect_phrase || ':0'), 1, 15)) AS BIGINT) % 2001 - 1000 AS v0,
            CAST(concat('0x', substr(md5(aspect_phrase || ':1'), 1, 15)) AS BIGINT) % 2001 - 1000 AS v1,
            CAST(concat('0x', substr(md5(aspect_phrase || ':2'), 1, 15)) AS BIGINT) % 2001 - 1000 AS v2,
            CAST(concat('0x', substr(md5(aspect_phrase || ':3'), 1, 15)) AS BIGINT) % 2001 - 1000 AS v3
          FROM phrases GROUP BY aspect_phrase),
        lexn AS (
          SELECT aspect_phrase, occ, [v0, v1, v2, v3] AS vec,
                 v0*v0 + v1*v1 + v2*v2 + v3*v3 AS s2 FROM lex),
        ${DbscanSql.ccSql("o_", "lexn", "aspect_phrase", "vec", "s2",
          dims = 4, bands = 8, bits = 4, cap = 64, salt = "oa",
          cosineSql = "0.85", requireDotPos = true)},
        comp_all AS (
          SELECT l.aspect_phrase, coalesce(c.comp, l.aspect_phrase) AS comp,
                 c.comp IS NOT NULL AS edged, l.occ, l.s2
          FROM lexn l LEFT JOIN o_cc c ON c.id = l.aspect_phrase),
        keep AS (
          SELECT comp FROM comp_all GROUP BY comp
          HAVING bool_or(edged) OR (sum(occ) >= 2 AND min(s2) > 0)),
        labeled AS (
          SELECT ph.pattern_name, ph.aspect_phrase, ph.sentiment_phrase, ca.comp
          FROM phrases ph JOIN comp_all ca USING (aspect_phrase)
          WHERE ca.comp IN (SELECT comp FROM keep))
        SELECT min(aspect_phrase) AS rep_aspect, count(*) AS n_phrases,
               count(DISTINCT aspect_phrase) AS n_aspects,
               count(*) FILTER (pattern_name = 'adj_noun') AS n_adj_noun,
               count(*) FILTER (pattern_name = 'noun_adj') AS n_noun_adj,
               array_to_string(list_slice(list_sort(list(DISTINCT sentiment_phrase)), 1, 5), ' ')
                 AS top_sentiments
        FROM labeled GROUP BY comp ORDER BY rep_aspect"""),
      doc = "ABSA opinion-pattern composite: J11 pattern cross join → N5 " +
        "POS subsequence → phrase extraction → N6 embedding lookup → N7 " +
        "bounded DBSCAN bins → A16 rollup; reference " +
        "post_opinion_patterns.py:104-210,295-448"),

    // Multimodal with a REAL codec: deterministic PNGs minted per doc id
    // (executor-side), decoded back through JDK javax.imageio, and
    // featurized as pixel-luminance histograms. PNG is lossless and the
    // pixel values are an integer formula of the id, so the oracle
    // recomputes the decoded statistics in pure SQL from the id alone —
    // a wrong byte anywhere in encode→decode→featurize changes the
    // histogram and fails the value compare.
    Q(
      "pipe_multimodal_media",
      (s, dir) => {
        val media = Multimodal.asImageMedia(th(s, dir, "documents"))
        val dec = Multimodal.decodeMedia(media)
        val l1 = expr("aggregate(feature, CAST(0.0 AS DOUBLE), (a, x) -> a + CAST(x AS DOUBLE))")
        dec.select(col("media_id"), col("width"), col("height"),
            concat_ws(",", col("hist")).as("hist_csv"),
            round(l1, 3).as("feature_l1"))
          .orderBy("media_id")
      },
      Some("""
        WITH d AS (
          SELECT doc_id, 4 + doc_id % 5 AS w, 4 + doc_id % 3 AS h
          FROM documents),
        px AS (
          SELECT d.doc_id,
                 ((d.doc_id*31 + x*7 + y*13) % 256
                + (d.doc_id*17 + x*11 + y*5) % 256
                + (d.doc_id*29 + x*3 + y*19) % 256) // 3 AS lum
          FROM d,
          LATERAL (SELECT unnest(range(0, d.w)) AS x),
          LATERAL (SELECT unnest(range(0, d.h)) AS y)),
        hist AS (
          SELECT doc_id, lum // 16 AS bin, count(*) AS c
          FROM px GROUP BY doc_id, bin),
        bins AS (SELECT doc_id, unnest(range(0, 16)) AS bin FROM d),
        filled AS (
          SELECT b.doc_id, b.bin, CAST(coalesce(h.c, 0) AS BIGINT) AS c
          FROM bins b LEFT JOIN hist h USING (doc_id, bin))
        SELECT f.doc_id AS media_id,
               CAST(d.w AS INTEGER) AS width, CAST(d.h AS INTEGER) AS height,
               string_agg(CAST(f.c AS VARCHAR), ',' ORDER BY f.bin) AS hist_csv,
               CAST(1.0 AS DOUBLE) AS feature_l1
        FROM filled f JOIN d USING (doc_id)
        GROUP BY f.doc_id, d.w, d.h ORDER BY media_id"""),
      doc = "multimodal binary column + REAL javax.imageio PNG decode via " +
        "mapPartitions batch featurize; oracle replays the pixel formula"),

    // Multimodal audio with a REAL codec: deterministic 16-bit PCM WAVs
    // minted per doc id through the JDK's own WAV writer
    // (javax.sound.sampled — audio's ImageIO analog), decoded back via
    // AudioSystem, featurized as an integer amplitude histogram + exact
    // abs-sum. WAV/PCM is lossless and the samples are an integer
    // formula of the id, so the oracle recomputes the decoded statistics
    // in pure SQL — a wrong byte anywhere in the 44-byte RIFF header
    // handling, endianness, or sample math changes the values.
    Q(
      "pipe_multimodal_audio",
      (s, dir) => {
        // Sorted-input form (same rows, same total order): the output
        // order is media_id = doc_id, so the range sort runs FIRST over
        // the narrow 8-byte doc_id frame and mint+decode run ABOVE it,
        // exactly once. The previous shape sorted the DECODED frame:
        // the range-partitioner's sampling pass drains every child
        // partition, so the whole mint+decode pipeline executed twice
        // per run (and the exchange carried the wide featurized rows).
        // The sort's 32 range partitions also replace th()'s round-robin
        // spread — one exchange where there were two.
        val docs = sortedByKeys(
          t(s, dir, "documents").select(col("doc_id")), col("doc_id"))
        val media = Multimodal.asAudioMedia(docs)
        Multimodal.decodeAudioMedia(media)
          .select(col("media_id"), col("n_samples"), col("sample_rate"),
            concat_ws(",", col("amp_hist")).as("hist_csv"), col("sum_abs"))
      },
      Some("""
        WITH d AS (
          SELECT doc_id, 64 + doc_id % 65 AS n FROM documents),
        sm AS (
          SELECT d.doc_id, (d.doc_id*131 + i*17) % 65536 AS u
          FROM d, LATERAL (SELECT unnest(range(0, d.n)) AS i)),
        hist AS (
          SELECT doc_id, u // 4096 AS bin, count(*) AS c
          FROM sm GROUP BY doc_id, bin),
        bins AS (SELECT doc_id, unnest(range(0, 16)) AS bin FROM d),
        filled AS (
          SELECT b.doc_id, b.bin, CAST(coalesce(h.c, 0) AS BIGINT) AS c
          FROM bins b LEFT JOIN hist h USING (doc_id, bin)),
        sums AS (
          SELECT doc_id, CAST(sum(abs(u - 32768)) AS BIGINT) AS sum_abs
          FROM sm GROUP BY doc_id)
        SELECT f.doc_id AS media_id,
               CAST(d.n AS INTEGER) AS n_samples,
               CAST(8000 AS INTEGER) AS sample_rate,
               string_agg(CAST(f.c AS VARCHAR), ',' ORDER BY f.bin)
                 AS hist_csv,
               s.sum_abs
        FROM filled f JOIN d USING (doc_id) JOIN sums s USING (doc_id)
        GROUP BY f.doc_id, d.n, s.sum_abs ORDER BY media_id"""),
      doc = "multimodal audio: REAL javax.sound.sampled WAV/PCM decode " +
        "via mapPartitions batch featurize; oracle replays the sample " +
        "formula"),

    // Training-corpus curation composite — the end-to-end pipeline a
    // 100 TB pretraining-data job actually runs, chained from the
    // engine's individually-verified stages: quality gate → exact dedup
    // → SimHash near-dup drop → deterministic hash sample → per-language
    // rollup. Scale shape: every stage is one hash shuffle (fingerprint /
    // signature partition, keeper = row_number 1) or a pushed-down
    // filter; nothing collects, nothing compares cross-bucket, and the
    // keeper windows partition on high-cardinality keys so no executor
    // sees more than one dup group. Input plants re-keyed duplicates so
    // both dedup stages do real work; the oracle replays all five stages
    // in SQL — a divergence in any stage (ratio filter, canonical form,
    // signature bit, sample bucket) changes the final counts and content
    // fingerprints.
    Q(
      "pipe_corpus_curation",
      (s, dir) => {
        val d = th(s, dir, "documents").select("doc_id", "lang", "text")
        val input = d.unionByName(
          d.filter(col("doc_id") % 7 === 0)
            .withColumn("doc_id", col("doc_id") + 200000))
        val nPunct = (length(col("text")) -
          length(regexp_replace(col("text"), "[^a-zA-Z0-9\\s]", "")))
          .cast("double")
        val scored = input
          .withColumn("tk", split(lower(col("text")), "\\s+"))
          .withColumn("n_tokens", size(col("tk")).cast("long"))
          .withColumn("punct_ratio",
            nPunct / greatest(length(col("text")).cast("double"), lit(1.0)))
        val quality = scored
          .filter(col("n_tokens") >= 15 && col("punct_ratio") < 0.2)
        val canonical = md5(trim(regexp_replace(
          regexp_replace(lower(col("text")), "[^a-z0-9\\s]", ""),
          "\\s+", " ")))
        val exact = quality.withColumn("fp", canonical)
          .withColumn("rk",
            row_number().over(Window.partitionBy("fp").orderBy("doc_id")))
          .filter(col("rk") === 1).drop("rk")
        val near = exact
          .withColumn("simhash", expr("simhash32(array_distinct(tk))"))
          .withColumn("rk",
            row_number().over(Window.partitionBy("simhash").orderBy("doc_id")))
          .filter(col("rk") === 1).drop("rk")
        val sampled = near.filter(
          pmod(h64(concat(lit("s:"), col("doc_id").cast("string"))),
            lit(10L)) < 3)
        sampled.groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_tokens")).as("sum_tokens"),
            wsum(h64(col("text")))
              .cast(org.apache.spark.sql.types.DecimalType(38, 0))
              .cast("string").as("sum_fp"))
          .orderBy("lang")
      },
      Some("""
        WITH input AS (
          SELECT doc_id, lang, text FROM documents
          UNION ALL
          SELECT doc_id + 200000, lang, text FROM documents
          WHERE doc_id % 7 = 0),
        scored AS (
          SELECT doc_id, lang, text,
                 string_split_regex(lower(text), '\s+') AS tk,
                 len(string_split_regex(lower(text), '\s+')) AS n_tokens,
                 (length(text) -
                  length(regexp_replace(text, '[^a-zA-Z0-9\s]', '', 'g')))
                   / greatest(length(text), 1) AS punct_ratio
          FROM input),
        quality AS (
          SELECT * FROM scored WHERE n_tokens >= 15 AND punct_ratio < 0.2),
        exact AS (
          SELECT * FROM quality
          QUALIFY row_number() OVER (
            PARTITION BY md5(trim(regexp_replace(regexp_replace(lower(text),
              '[^a-z0-9\s]', '', 'g'), '\s+', ' ', 'g')))
            ORDER BY doc_id) = 1),
        near AS (
          SELECT * FROM (
            SELECT *,
                   CAST(list_sum([CASE WHEN CAST(list_sum(
                       [CASE WHEN (h // CAST(pow(2, j) AS BIGINT)) % 2 = 1
                             THEN 1 ELSE -1 END FOR h IN th]) AS BIGINT) > 0
                         THEN CAST(pow(2, j) AS BIGINT) ELSE 0 END
                       FOR j IN range(0, 32)]) AS BIGINT) AS simhash
            FROM (SELECT *,
                         [CAST(concat('0x', substr(md5(w), 1, 15)) AS BIGINT)
                          FOR w IN list_distinct(tk)] AS th
                  FROM exact))
          QUALIFY row_number() OVER (PARTITION BY simhash ORDER BY doc_id) = 1),
        sampled AS (
          SELECT * FROM near
          WHERE CAST(concat('0x', substr(md5('s:' || doc_id), 1, 15))
                  AS BIGINT) % 10 < 3)
        SELECT lang, count(*) AS n_docs,
               CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
               CAST(sum(CAST(concat('0x', substr(md5(text), 1, 15)) AS BIGINT))
                 AS VARCHAR) AS sum_fp
        FROM sampled GROUP BY lang ORDER BY lang"""),
      doc = "training-corpus curation composite: quality gate -> exact " +
        "dedup -> SimHash near-dup drop -> hash sample -> per-language " +
        "rollup, every stage one hash shuffle"),

    // K3 + K2 sinks end-to-end: cache a full rollup to a table path
    // (query-cache semantics — executors write parquet, the count marker
    // is re-read from the files like the reference's post-insert
    // COUNT(*)), then replace-content it with a restricted snapshot. The
    // final read sees ONLY the second snapshot — a replace that leaves
    // stale rows (upsert-not-delete) changes the row set and cannot
    // hash-match; a cache that recomputed instead of reading files would
    // not prove the sink wrote. The K3 marker rides along as a column.
    Q(
      "pipe_replace_cache",
      (s, dir) => {
        val tbl = graft.sources.Sources.scratchDir(dir, "replace_cache_tbl")
        val full = t(s, dir, "orders")
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n_orders"),
            round(dsum(col("o_totalprice")), 2).as("sum_price"))
        val marker = Upsert.cacheQuery(s, tbl, full) // K3: count from files
        Upsert.replaceWrite(s, tbl, // K2: snapshot replaces content
          full.filter(col("o_orderpriority") =!= "1-URGENT"))
        s.read.parquet(tbl)
          .withColumn("cache_marker_rows", lit(marker))
          .orderBy("o_orderpriority")
      },
      Some("""
        SELECT o_orderpriority, count(*) AS n_orders,
               round(CAST(sum(CAST(o_totalprice AS DECIMAL(30,4))) AS DOUBLE),
                 2) AS sum_price,
               (SELECT count(DISTINCT o_orderpriority) FROM orders)
                 AS cache_marker_rows
        FROM orders WHERE o_orderpriority <> '1-URGENT'
        GROUP BY o_orderpriority ORDER BY o_orderpriority"""),
      doc = "K3 query-cache sink + K2 replace-content sink end-to-end " +
        "(staged atomic swap, count-from-files marker); reference " +
        "database.py:96-99,300-325"),

    // K1 at fact scale: partition-aware upsert. The daily batch touches
    // one of five priority partitions; the merge scans ONLY that
    // partition (static partition pruning — UpsertSpec asserts the
    // 1-file numFiles metric and that untouched partitions' files keep
    // their mtimes) and dynamic-overwrite rewrites only it. This is the
    // shape that keeps the reference's daily upsert cadence viable
    // against a date-partitioned 100 TB fact. The oracle replays the
    // update+insert batch relationally over orders.
    Q(
      "pipe_upsert_partitioned",
      (s, dir) => {
        val tbl = graft.sources.Sources.scratchDir(dir, "upsert_part_tbl")
        val p = new org.apache.hadoop.fs.Path(tbl)
        val hfs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
        if (hfs.exists(p)) hfs.delete(p, true) // fresh fixture per run
        val pk = Seq("o_orderpriority", "o_orderkey")
        val base = t(s, dir, "orders")
          .select(col("o_orderpriority"), col("o_orderkey"),
            col("o_totalprice"))
        Upsert.upsertWritePartitioned(s, tbl, base, pk,
          Seq("o_orderpriority"))
        val upd = base
          .filter(col("o_orderpriority") === "3-MEDIUM" &&
            col("o_orderkey") % 10 === 0)
          .withColumn("o_totalprice", col("o_totalprice") + 1000)
        val incoming = upd.unionByName(
          upd.withColumn("o_orderkey", col("o_orderkey") + 10000000L))
        Upsert.upsertWritePartitioned(s, tbl, incoming, pk,
          Seq("o_orderpriority"))
        s.read.parquet(tbl)
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n_rows"),
            round(dsum(col("o_totalprice")), 2).as("sum_price"))
          .orderBy("o_orderpriority")
      },
      Some("""
        WITH upd AS (
          SELECT o_orderpriority, o_orderkey, o_totalprice + 1000
                   AS o_totalprice
          FROM orders
          WHERE o_orderpriority = '3-MEDIUM' AND o_orderkey % 10 = 0),
        final AS (
          SELECT o_orderpriority, o_orderkey, o_totalprice FROM orders
          WHERE NOT (o_orderpriority = '3-MEDIUM' AND o_orderkey % 10 = 0)
          UNION ALL SELECT * FROM upd
          UNION ALL SELECT o_orderpriority, o_orderkey + 10000000,
                           o_totalprice FROM upd)
        SELECT o_orderpriority, count(*) AS n_rows,
               round(CAST(sum(CAST(o_totalprice AS DECIMAL(30,4))) AS DOUBLE),
                 2) AS sum_price
        FROM final GROUP BY o_orderpriority ORDER BY o_orderpriority"""),
      doc = "K1 partition-aware upsert: partition-pruned merge + dynamic " +
        "partition overwrite, only the touched partition rewritten; " +
        "reference database.py:140-174 at fact scale"),

    // §2.11 orchestration composite — the FillDbDaily stage graph as ONE
    // DataFrame lineage, driver-gate visible: raw gomus report → bronze
    // normalizer (Excel serials, id-mapping broadcast, flag parsing) →
    // FK-violation filter (null escape + drop) → K1 upsert into the live
    // table → gold rollup. Where the reference crosses four process
    // boundaries (Luigi task → CSV → psycopg2 COPY → PG view), the
    // engine runs one job whose only materialization is the sink table.
    // The oracle replays every stage relationally.
    Q(
      "pipe_fill_db_daily",
      (s, dir) => {
        val tbl = graft.sources.Sources.scratchDir(dir, "fill_db_daily_tbl")
        val p = new org.apache.hadoop.fs.Path(tbl)
        val hfs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
        if (hfs.exists(p)) hfs.delete(p, true) // fresh fixture per run
        // NOT th: measured both ways at sf0.1 (r5) — an explicit
        // repartition costs more than the serial scan saves here, because
        // the upsert merge reshuffles on the PK anyway and the dominant
        // cost is the two staged table swaps (write+rename+read), not the
        // map work.
        val o = t(s, dir, "orders")
        val c = t(s, dir, "customer")
        val key = col("o_orderkey")
        // bronze: the bronze_orders report shape (oracle-green on its own)
        val raw = o.select(
          key.cast("string").as("Bestellnummer"),
          (key % 2000 + 40000 + 0.5).cast("string").as("Erstellt"),
          when(key % 7 === 0, lit(null).cast("string"))
            .otherwise(concat(col("o_custkey").cast("string"), lit(".0")))
            .as("Kundennummer"),
          when(key % 3 === 0, "JA").when(key % 3 === 1, "ja")
            .otherwise("nein").as("ist gültig?"),
          when(key % 4 === 0, "BEZAHLT").when(key % 4 === 1, "bezahlt")
            .otherwise("offen").as("Bezahlstatus"),
          when(key % 2 === 0, "online").otherwise("kasse").as("Herkunft"))
        val mapping = c.filter(col("c_custkey") % 2 === 0)
          .select(col("c_custkey").as("gomus_id"),
            (col("c_custkey") * 2 + 1).cast("long").as("customer_id"))
        val normalized = graft.bronze.Gomus.extractOrders(raw, mapping)
        // FK filter: only customers with c_custkey % 4 == 0 exist in the
        // reference table → mapped-but-unknown ids drop, NULLs escape
        val ref = c.filter(col("c_custkey") % 4 === 0)
          .select((col("c_custkey") * 2 + 1).cast("long").as("customer_id"))
        val filtered = graft.core.FkFilter.filter(normalized, Seq(
          graft.core.FkFilter.Fk(Seq("customer_id"), "customer", ref,
            Seq("customer_id"))))
        // K1: yesterday's snapshot (even order ids, legacy origin), then
        // today's batch (ids % 3 == 0) merges over it
        val base = filtered.filter(col("order_id") % 2 === 0)
          .withColumn("origin", lit("legacy"))
        Upsert.upsertWrite(s, tbl, base, Seq("order_id"))
        Upsert.upsertWrite(s, tbl,
          filtered.filter(col("order_id") % 3 === 0), Seq("order_id"))
        // gold
        s.read.parquet(tbl)
          .groupBy("origin")
          .agg(count(lit(1)).as("n_orders"),
            sum(when(col("paid"), 1L).otherwise(0L)).as("n_paid"),
            countDistinct(col("customer_id")).as("n_customers"),
            max(date_format(col("order_date"), "yyyy-MM-dd")).as("max_day"))
          .orderBy("origin")
      },
      Some("""
        WITH normalized AS (
          SELECT o_orderkey AS order_id,
            DATE '1899-12-30'
              + CAST(floor(o_orderkey % 2000 + 40000 + 0.5) AS INT)
              AS order_date,
            -- Missing ids short-circuit to 0 with NO mapping lookup
            -- (orders.py:90-91, pinned by GomusGoldenSpec); present even
            -- ids map, odd ids are unmapped -> NULL.
            CASE WHEN o_orderkey % 7 = 0 THEN 0
                 WHEN o_custkey % 2 = 0 THEN CAST(o_custkey * 2 + 1 AS INT)
            END AS customer_id,
            o_orderkey % 4 IN (0, 1) AS paid,
            CASE WHEN o_orderkey % 2 = 0 THEN 'online' ELSE 'kasse' END
              AS origin
          FROM orders),
        filtered AS (
          -- FK membership: the reference table holds ids 2k+1 for k%4=0;
          -- the missing-id 0 is NOT a member and drops, NULLs escape.
          SELECT * FROM normalized
          WHERE customer_id IS NULL
             OR (customer_id % 2 = 1
                 AND ((customer_id - 1) // 2) % 4 = 0)),
        merged AS (
          SELECT order_id, order_date, customer_id, paid, 'legacy' AS origin
          FROM filtered
          WHERE order_id % 2 = 0 AND order_id % 3 <> 0
          UNION ALL
          SELECT * FROM filtered WHERE order_id % 3 = 0)
        SELECT origin, count(*) AS n_orders,
               CAST(sum(CASE WHEN paid THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_paid,
               count(DISTINCT customer_id) AS n_customers,
               strftime(max(order_date), '%Y-%m-%d') AS max_day
        FROM merged GROUP BY origin ORDER BY origin"""),
      doc = "FillDbDaily orchestration composite: bronze normalizer -> " +
        "FK filter -> K1 upsert -> gold rollup in one lineage; reference " +
        "_fill_db.py:24-45"),

    // J4 batch condenser WITH deltas (reference condense_performance_
    // values + linear_delta, data_preparation.py:242-365): the stored
    // snapshot is the rollup over half the events; the incoming snapshot
    // covers all events. Unchanged rows drop (null-safe row equality),
    // survivors carry per-metric new-minus-old deltas with missing-prior
    // → 0. One key-join, no collect — the hourly-performance cadence at
    // fact scale.
    Q(
      "pipe_condense_deltas",
      (s, dir) => {
        val e = t(s, dir, "events")
          .filter(pmod(col("user_id"), lit(50L)) === 0)
          .select(col("user_id"), col("event_id"),
            round(col("value") * 100).cast("long").as("cents"))
        def snap(df: org.apache.spark.sql.DataFrame) = df
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_events"), sum(col("cents")).as("sum_cents"))
        val latest = snap(e.filter(col("event_id") % 2 === 0))
        val incoming = snap(e)
        graft.core.Condense.withDeltas(incoming, latest, Seq("user_id"),
            Seq("n_events", "sum_cents"))
          .orderBy("user_id")
      },
      Some("""
        WITH e AS (
          SELECT user_id, event_id, CAST(round(value * 100) AS BIGINT)
                   AS cents
          FROM events WHERE user_id % 50 = 0),
        inc AS (
          SELECT user_id, count(*) AS n_events,
                 CAST(sum(cents) AS BIGINT) AS sum_cents
          FROM e GROUP BY user_id),
        old AS (
          SELECT user_id, count(*) AS n_events,
                 CAST(sum(cents) AS BIGINT) AS sum_cents
          FROM e WHERE event_id % 2 = 0 GROUP BY user_id)
        SELECT i.user_id, i.n_events, i.sum_cents,
               coalesce(i.n_events - o.n_events, 0) AS delta_n_events,
               coalesce(i.sum_cents - o.sum_cents, 0) AS delta_sum_cents
        FROM inc i LEFT JOIN old o USING (user_id)
        WHERE NOT (i.n_events IS NOT DISTINCT FROM o.n_events
               AND i.sum_cents IS NOT DISTINCT FROM o.sum_cents)
        ORDER BY user_id"""),
      doc = "J4 batch condenser with linear deltas (drop-unchanged + " +
        "new-minus-old, missing-prior -> 0); reference " +
        "data_preparation.py:242-365"),

    // Per-stratum minwise sampling: EXACTLY min(k, |stratum|) docs per
    // language, chosen by smallest md5(doc_id) — a deterministic uniform
    // sample without replacement that any engine reproduces bit-for-bit
    // (the keep set depends only on ids, not partitioning). Complements
    // pipe_sample_hash (hash-mod = Bernoulli RATE sample, approximate
    // count) with the exact-COUNT cut a training-mix spec needs ("20 docs
    // per language"). One shuffle (the per-stratum window); at 100 TB the
    // same plan holds — the window sorts within language partitions only.
    Q(
      "pipe_minwise_sample",
      (s, dir) => {
        val k = 20
        val d = t(s, dir, "documents")
        val w = Window.partitionBy("lang")
          .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
        d.select(col("doc_id"), col("lang"), col("n_chars"))
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") <= k)
          .orderBy("lang", "rk")
      },
      Some("""
        SELECT doc_id, lang, n_chars, rk FROM (
          SELECT doc_id, lang, n_chars,
                 row_number() OVER (PARTITION BY lang
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
          FROM documents)
        WHERE rk <= 20 ORDER BY lang, rk"""),
      doc = "deterministic minwise per-stratum sampling: exactly k docs " +
        "per language by smallest md5(doc_id), reproducible on any " +
        "engine and partitioning"),

    // Z-order (Morton-curve) layout assignment — the multi-dimensional
    // data-skipping primitive: interleave the bits of two clustering keys
    // with the magic-mask spread (4 shift+mask steps per key, pure
    // codegen'd integer ops, no shuffle until the rollup), bucket rows by
    // Z prefix, and measure per-bucket bounding boxes against the same
    // bucketing over the table's natural order. Writing files in Z order
    // is what makes min/max pruning effective on BOTH keys at once; the
    // query's output shows it: the Z layout's average per-bucket key
    // spans are a fraction of the natural layout's. Compact 2-row result
    // (one per layout) the oracle replays bit-for-bit.
    //
    // The 64 "files" per layout are exact ntile(64) buckets — what an
    // OPTIMIZE ZORDER write produces — computed DISTRIBUTED via
    // RangeWindow (sketch-bounded range groups + per-group rank offsets +
    // a window PARTITIONED by range group), not via ntile over a global
    // Window.orderBy: that plans as a corpus-sized SinglePartition
    // WindowExec, the one shape that cannot survive a 100x scale-up.
    // UnpartitionedWindowSpec pins both properties (no unpartitioned
    // window here; bucket ids still exactly ntile — the DuckDB oracle
    // below replays plain ntile(64) and hash-matches).
    Q(
      "pipe_zorder_layout",
      (s, dir) => {
        // Persisted: the two layouts each run RangeWindow's sketch +
        // count actions plus the main pass against this frame (6 scans
        // otherwise); tracked in CacheLedger, released by drivers after
        // the 2-row result materializes.
        val li = graft.core.CacheLedger.track(
          t(s, dir, "lineitem")
            .select(col("l_orderkey"), col("l_linenumber"),
              col("l_partkey").as("x"), col("l_suppkey").as("y"))
            .withColumn("z",
              graft.core.Morton.interleave16(col("x"), col("y")))
            .persist())
        def layout(rangeKey: Column, tieKeys: Seq[Column], label: String) = {
          val (ranked, n) = graft.plans.RangeWindow.withRank(
            li, rangeKey, tieKeys, 64, "__rk")
          ranked.withColumn("bucket",
              graft.plans.RangeWindow.ntileFromRank(col("__rk"), n, 64))
            .groupBy("bucket")
            .agg((max(col("x")) - min(col("x"))).as("xspan"),
              (max(col("y")) - min(col("y"))).as("yspan"))
            .agg(lit(label).as("layout"),
              count(lit(1)).as("n_buckets"),
              round(avg(col("xspan")), 6).as("avg_xspan"),
              round(avg(col("yspan")), 6).as("avg_yspan"))
        }
        layout(col("z"), Seq(col("l_orderkey"), col("l_linenumber")),
            "zorder")
          .unionByName(
            layout(col("l_orderkey"), Seq(col("l_linenumber")), "natural"))
          .orderBy("layout")
      },
      Some("""
        WITH base AS (
          SELECT l_orderkey, l_linenumber,
                 l_partkey & 65535 AS x, l_suppkey & 65535 AS y
          FROM lineitem),
        s1 AS (SELECT *, (x | (x << 8)) & 16711935 AS xa,
                         (y | (y << 8)) & 16711935 AS ya FROM base),
        s2 AS (SELECT *, (xa | (xa << 4)) & 252645135 AS xb,
                         (ya | (ya << 4)) & 252645135 AS yb FROM s1),
        s3 AS (SELECT *, (xb | (xb << 2)) & 858993459 AS xc,
                         (yb | (yb << 2)) & 858993459 AS yc FROM s2),
        s4 AS (SELECT *, (xc | (xc << 1)) & 1431655765 AS xd,
                         (yc | (yc << 1)) & 1431655765 AS yd FROM s3),
        zz AS (SELECT l_orderkey, l_linenumber, x, y,
                      (xd | (yd << 1)) AS z FROM s4),
        zb AS (SELECT ntile(64) OVER (ORDER BY z, l_orderkey, l_linenumber)
                        AS bucket, x, y FROM zz),
        nb AS (SELECT ntile(64) OVER (ORDER BY l_orderkey, l_linenumber)
                        AS bucket, x, y FROM zz),
        za AS (SELECT bucket, max(x) - min(x) AS xspan,
                      max(y) - min(y) AS yspan FROM zb GROUP BY 1),
        na AS (SELECT bucket, max(x) - min(x) AS xspan,
                      max(y) - min(y) AS yspan FROM nb GROUP BY 1)
        SELECT 'natural' AS layout, count(*) AS n_buckets,
               round(avg(xspan), 6) AS avg_xspan,
               round(avg(yspan), 6) AS avg_yspan FROM na
        UNION ALL
        SELECT 'zorder', count(*), round(avg(xspan), 6), round(avg(yspan), 6)
        FROM za
        ORDER BY layout"""),
      doc = "Z-order (Morton) layout assignment via magic-mask bit " +
        "interleave; exact ntile(64) file buckets computed distributed " +
        "(RangeWindow range groups, no single-partition sort), bounding " +
        "boxes measured against the natural layout"),

    // Slowly-changing-dimension type-2 build: collapse each customer's
    // order-status history into [valid_from, valid_to] effective ranges
    // with an is_current flag — the warehouse dimension-versioning
    // pattern (the reference's gomus customer re-imports overwrite in
    // place; SCD2 is what the same feed needs once history must be
    // queryable). Plan shape: one (key, day) aggregate picks the
    // deterministic last status per day (max_by on the unique order id),
    // then change-detection lag and range-closing lead run as two window
    // functions over ONE o_custkey sort; per-key window state is a
    // single row, so the build is two keyed shuffles at any history
    // length.
    Q(
      "pipe_scd2_dimension",
      (s, dir) => {
        val o = t(s, dir, "orders")
        val snap = o.groupBy(col("o_custkey"),
            to_date(col("o_orderdate")).as("day"))
          .agg(max_by(col("o_orderstatus"), col("o_orderkey")).as("status"))
        val w = Window.partitionBy("o_custkey").orderBy("day")
        val chg = snap
          .withColumn("prev", lag(col("status"), 1).over(w))
          .filter(col("prev").isNull || col("prev") =!= col("status"))
        chg
          .withColumn("next_day", lead(col("day"), 1).over(w))
          .select(col("o_custkey"), col("status"),
            date_format(col("day"), "yyyy-MM-dd").as("valid_from"),
            date_format(date_sub(col("next_day"), 1), "yyyy-MM-dd")
              .as("valid_to"),
            col("next_day").isNull.as("is_current"))
          .orderBy("o_custkey", "valid_from")
      },
      Some("""
        WITH snap AS (
          SELECT o_custkey, CAST(o_orderdate AS DATE) AS day,
                 max_by(o_orderstatus, o_orderkey) AS status
          FROM orders GROUP BY 1, 2),
        chg AS (
          SELECT o_custkey, day, status FROM (
            SELECT o_custkey, day, status,
                   lag(status) OVER (PARTITION BY o_custkey ORDER BY day)
                     AS prev
            FROM snap)
          WHERE prev IS NULL OR prev <> status),
        ranged AS (
          SELECT o_custkey, day, status,
                 lead(day) OVER (PARTITION BY o_custkey ORDER BY day)
                   AS next_day
          FROM chg)
        SELECT o_custkey, status,
               strftime(day, '%Y-%m-%d') AS valid_from,
               strftime(next_day - INTERVAL 1 DAY, '%Y-%m-%d') AS valid_to,
               next_day IS NULL AS is_current
        FROM ranged ORDER BY o_custkey, valid_from"""),
      doc = "SCD2 dimension versioning: per-day deterministic snapshot " +
        "(max_by), lag change-detection, lead range-close, is_current " +
        "flag — two keyed shuffles, O(1) window state per key"),

    // Snapshot diff / change-data audit: classify every PK between two
    // table snapshots as added / removed / changed / unchanged, with
    // exact value-delta totals — the audit face of the upsert sink (K1
    // writes changes; this op answers "what changed between snapshot A
    // and B"). Snapshot B is a deterministic mutation of orders (every
    // 97th key deleted, every 13th repriced +1.50, every 101st re-keyed
    // in as an insert). ONE full-outer PK join (both sides shuffle on
    // the key — at 100 TB this is the canonical co-partitioned join,
    // bucketable via join_bucketed_colocate's layout), then an O(4)
    // rollup. Null-safe equality (<=>) classifies changes so NULL
    // columns can't masquerade as 'unchanged'.
    Q(
      "pipe_snapshot_diff",
      (s, dir) => {
        val a = t(s, dir, "orders")
          .select(col("o_orderkey").as("k"), col("o_totalprice").as("price_a"),
            col("o_orderstatus").as("status_a"))
        val b0 = t(s, dir, "orders")
        val b = b0.filter(col("o_orderkey") % 97 =!= 0)
          .select(col("o_orderkey").as("k"),
            when(col("o_orderkey") % 13 === 0, col("o_totalprice") + 1.5)
              .otherwise(col("o_totalprice")).as("price_b"),
            col("o_orderstatus").as("status_b"))
          .unionByName(b0.filter(col("o_orderkey") % 101 === 0)
            .select((col("o_orderkey") + 1000000000L).as("k"),
              col("o_totalprice").as("price_b"),
              col("o_orderstatus").as("status_b")))
        a.join(b, Seq("k"), "full_outer")
          .withColumn("status",
            when(col("price_a").isNull, lit("added"))
              .when(col("price_b").isNull, lit("removed"))
              .when(col("price_a") <=> col("price_b") &&
                col("status_a") <=> col("status_b"), lit("unchanged"))
              .otherwise(lit("changed")))
          .groupBy("status")
          .agg(count(lit(1)).as("n_keys"),
            dsum(coalesce(col("price_b"), lit(0.0)) -
              coalesce(col("price_a"), lit(0.0))).as("revenue_delta"),
            min(col("k")).as("first_key"), max(col("k")).as("last_key"))
          .orderBy("status")
      },
      Some("""
        WITH a AS (
          SELECT o_orderkey AS k, o_totalprice AS price_a,
                 o_orderstatus AS status_a
          FROM orders),
        b AS (
          SELECT o_orderkey AS k,
                 CASE WHEN o_orderkey % 13 = 0 THEN o_totalprice + 1.5
                      ELSE o_totalprice END AS price_b,
                 o_orderstatus AS status_b
          FROM orders WHERE o_orderkey % 97 <> 0
          UNION ALL
          SELECT o_orderkey + 1000000000 AS k, o_totalprice, o_orderstatus
          FROM orders WHERE o_orderkey % 101 = 0),
        d AS (
          SELECT coalesce(a.k, b.k) AS k, price_a, price_b,
                 CASE WHEN price_a IS NULL THEN 'added'
                      WHEN price_b IS NULL THEN 'removed'
                      WHEN price_a IS NOT DISTINCT FROM price_b
                           AND status_a IS NOT DISTINCT FROM status_b
                      THEN 'unchanged'
                      ELSE 'changed' END AS status
          FROM a FULL OUTER JOIN b ON a.k = b.k)
        SELECT status, count(*) AS n_keys,
               CAST(sum(CAST(coalesce(price_b, 0) - coalesce(price_a, 0)
                 AS DECIMAL(30,4))) AS DOUBLE) AS revenue_delta,
               min(k) AS first_key, max(k) AS last_key
        FROM d GROUP BY status ORDER BY status"""),
      doc = "snapshot diff audit: full-outer PK join + null-safe " +
        "change classification + exact delta totals; one co-partitioned " +
        "shuffle and an O(4) rollup"),

    // Late-arriving dimension handling (inferred members): facts that
    // reference dim keys not present yet get STUB dim rows (key +
    // defaults + inferred flag) so the fact load stays FK-clean; when
    // the real dim row arrives it overwrites the stub via the K1 merge
    // shape (anti-join + union, here in-plan). Simulation: every 11th
    // customer is "late" (absent at fact-load time); the ones ALSO
    // divisible by 3 arrive during the run and resolve their stubs.
    // Scale: one anti-join to discover missing keys (broadcastable dim
    // side is only needed per-partition — at 100 TB both sides shuffle
    // on the PK, the bucketed-layout join), one merge; rollup is O(2).
    // The fk_clean column asserts zero dangling fact keys END-TO-END —
    // the property the pattern exists to protect.
    Q(
      "pipe_inferred_members",
      (s, dir) => {
        val cust = t(s, dir, "customer")
          .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
        val dim = cust.filter(col("c_custkey") % 11 =!= 0)
          .withColumn("inferred", lit(false))
        val facts = t(s, dir, "orders").select("o_custkey", "o_orderkey")
        val stubs = facts.select(col("o_custkey").as("c_custkey")).distinct()
          .join(dim, Seq("c_custkey"), "left_anti")
          .select(col("c_custkey"), lit("(inferred)").as("c_name"),
            lit("UNKNOWN").as("c_mktsegment"), lit(true).as("inferred"))
        val dim2 = dim.unionByName(stubs)
        val late = cust
          .filter(col("c_custkey") % 11 === 0 && col("c_custkey") % 3 === 0)
          .withColumn("inferred", lit(false))
        val dim3 = late.unionByName(
          dim2.join(late.select("c_custkey"), Seq("c_custkey"), "left_anti"))
        val dangling = facts
          .join(dim3, facts("o_custkey") === dim3("c_custkey"), "left_anti")
          .count() // bounded: a COUNT, not a collect of rows
        dim3.groupBy(col("inferred"))
          .agg(count(lit(1)).as("n_customers"),
            min(col("c_custkey")).as("first_key"),
            max(col("c_custkey")).as("last_key"))
          .withColumn("status",
            when(col("inferred"), lit("inferred")).otherwise(lit("real")))
          .withColumn("fk_clean", lit(dangling == 0L))
          .select(col("status"), col("n_customers"), col("first_key"),
            col("last_key"), col("fk_clean"))
          .orderBy("status")
      },
      Some("""
        WITH cust AS (
          SELECT c_custkey, c_name, c_mktsegment FROM customer),
        dim AS (
          SELECT *, false AS inferred FROM cust WHERE c_custkey % 11 <> 0),
        stubs AS (
          SELECT DISTINCT o_custkey AS c_custkey, '(inferred)' AS c_name,
                 'UNKNOWN' AS c_mktsegment, true AS inferred
          FROM orders
          WHERE o_custkey NOT IN (SELECT c_custkey FROM dim)),
        dim2 AS (SELECT * FROM dim UNION ALL SELECT * FROM stubs),
        late AS (
          SELECT *, false AS inferred FROM cust
          WHERE c_custkey % 11 = 0 AND c_custkey % 3 = 0),
        dim3 AS (
          SELECT * FROM late
          UNION ALL
          SELECT * FROM dim2
          WHERE c_custkey NOT IN (SELECT c_custkey FROM late)),
        dangling AS (
          SELECT count(*) AS n FROM orders
          WHERE o_custkey NOT IN (SELECT c_custkey FROM dim3))
        SELECT CASE WHEN inferred THEN 'inferred' ELSE 'real' END AS status,
               count(*) AS n_customers,
               min(c_custkey) AS first_key, max(c_custkey) AS last_key,
               (SELECT n FROM dangling) = 0 AS fk_clean
        FROM dim3 GROUP BY inferred ORDER BY status"""),
      doc = "late-arriving dimension: inferred-member stubs for fact keys " +
        "missing from the dim, stub resolution via the K1 anti+union " +
        "merge, end-to-end fk_clean assertion"),

    // Dead-letter routing (ingest quarantine): every row is classified
    // by its FIRST failing validation rule (fixed rule order — a row
    // failing several rules lands in exactly one bucket, so the report
    // partitions the input) and the output is the per-reason ledger a
    // DLQ consumer reads. The input plants violations deterministically
    // (re-keyed copies with nulled keys / bad enums / negated prices /
    // out-of-range dates). Pure row-level classification + one
    // O(reasons) aggregate — the quarantine SPLIT itself is the same
    // frame filtered by reason, costing one shared scan. Distinct from
    // core/Checks (constraint metrics): this is the routing face.
    Q(
      "pipe_dlq_quarantine",
      (s, dir) => {
        // o_orderdate normalizes to TIMESTAMP at load; the DLQ rules
        // work on its yyyy-MM-dd string face on both sides.
        val o = t(s, dir, "orders")
          .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
            col("o_totalprice"),
            date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"))
        // Plant: every 7th order re-keyed with one violation class.
        val planted = o.unionByName(
          o.filter(col("o_orderkey") % 7 === 0)
            .withColumn("o_orderkey", col("o_orderkey") + 2000000L)
            .withColumn("o_custkey",
              when(col("o_orderkey") % 4 === 0, lit(null).cast("long"))
                .otherwise(col("o_custkey")))
            .withColumn("o_orderstatus",
              when(col("o_orderkey") % 4 === 1, lit("X"))
                .otherwise(col("o_orderstatus")))
            .withColumn("o_totalprice",
              when(col("o_orderkey") % 4 === 2, -col("o_totalprice"))
                .otherwise(col("o_totalprice")))
            .withColumn("o_orderdate",
              when(col("o_orderkey") % 4 === 3, lit("1899-01-01"))
                .otherwise(col("o_orderdate"))))
        val reason =
          when(col("o_custkey").isNull, "null_key")
            .when(!col("o_orderstatus").isin("F", "O", "P"), "bad_status")
            .when(col("o_totalprice") <= 0, "nonpositive_amount")
            .when(col("o_orderdate") < "1990-01-01", "date_out_of_range")
            .otherwise(lit("ok"))
        planted.withColumn("reason", reason)
          .groupBy("reason")
          .agg(count(lit(1)).as("n_rows"),
            min(col("o_orderkey")).as("first_key"),
            max(col("o_orderkey")).as("last_key"))
          .orderBy("reason")
      },
      Some("""
        WITH base AS (
          SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
                 strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate
          FROM orders),
        planted AS (
          SELECT * FROM base
          UNION ALL
          SELECT o_orderkey + 2000000 AS k,
                 CASE WHEN (o_orderkey + 2000000) % 4 = 0 THEN NULL
                      ELSE o_custkey END,
                 CASE WHEN (o_orderkey + 2000000) % 4 = 1 THEN 'X'
                      ELSE o_orderstatus END,
                 CASE WHEN (o_orderkey + 2000000) % 4 = 2
                      THEN -o_totalprice ELSE o_totalprice END,
                 CASE WHEN (o_orderkey + 2000000) % 4 = 3
                      THEN '1899-01-01' ELSE o_orderdate END
          FROM base WHERE o_orderkey % 7 = 0)
        SELECT reason, count(*) AS n_rows,
               min(o_orderkey) AS first_key, max(o_orderkey) AS last_key
        FROM (SELECT o_orderkey,
                     CASE WHEN o_custkey IS NULL THEN 'null_key'
                          WHEN o_orderstatus NOT IN ('F', 'O', 'P')
                            THEN 'bad_status'
                          WHEN o_totalprice <= 0
                            THEN 'nonpositive_amount'
                          WHEN o_orderdate < '1990-01-01'
                            THEN 'date_out_of_range'
                          ELSE 'ok' END AS reason
              FROM planted)
        GROUP BY reason ORDER BY reason"""),
      doc = "dead-letter quarantine routing: first-failing-rule " +
        "classification (fixed rule order partitions the input) + " +
        "per-reason ledger; row-level map work, O(reasons) aggregate"),

    // CDC log application — the consumer side of change-data-capture:
    // a sequence-numbered op log (I/U/D) folds onto a base snapshot by
    // LAST-WRITER-WINS per key (max seq), with deletes dropping the key
    // and inserts/updates replacing the row. The log is planted
    // deterministically (every 5th key updated at seq 1, every 9th
    // deleted at seq 2, a re-keyed insert block at seq 3, and a
    // late-seq update that must beat the earlier delete for keys
    // divisible by 45 — the seq-ordering edge). Plan: ONE window over
    // the log keyed by PK (max-seq pick), one anti-join + union against
    // the base — the same two shuffles at any log length; nothing
    // replays the log row-by-row.
    Q(
      "pipe_cdc_apply",
      (s, dir) => {
        val base = t(s, dir, "customer")
          .select(col("c_custkey").as("k"), col("c_mktsegment").as("seg"))
        val log = base.filter(col("k") % 5 === 0)
            .select(col("k"), lit(1L).as("seq"), lit("U").as("op"),
              lit("UPDATED_1").as("seg"))
          .unionByName(base.filter(col("k") % 9 === 0)
            .select(col("k"), lit(2L).as("seq"), lit("D").as("op"),
              lit(null).cast("string").as("seg")))
          .unionByName(base.filter(col("k") % 7 === 0)
            .select((col("k") + 5000000L).as("k"), lit(3L).as("seq"),
              lit("I").as("op"), lit("INSERTED").as("seg")))
          .unionByName(base.filter(col("k") % 45 === 0)
            .select(col("k"), lit(4L).as("seq"), lit("U").as("op"),
              lit("UPDATED_LATE").as("seg")))
        val w = Window.partitionBy("k").orderBy(col("seq").desc)
        val lastOp = log.withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1).select("k", "op", "seg")
        val applied = lastOp.filter(col("op") =!= "D")
          .select(col("k"), col("seg"))
          .unionByName(
            base.join(lastOp.select("k"), Seq("k"), "left_anti"))
        applied.groupBy("seg")
          .agg(count(lit(1)).as("n_rows"), min(col("k")).as("first_key"),
            max(col("k")).as("last_key"))
          .orderBy("seg")
      },
      Some("""
        WITH base AS (
          SELECT c_custkey AS k, c_mktsegment AS seg FROM customer),
        log AS (
          SELECT k, CAST(1 AS BIGINT) AS seq, 'U' AS op,
                 'UPDATED_1' AS seg
          FROM base WHERE k % 5 = 0
          UNION ALL
          SELECT k, 2, 'D', NULL FROM base WHERE k % 9 = 0
          UNION ALL
          SELECT k + 5000000, 3, 'I', 'INSERTED' FROM base WHERE k % 7 = 0
          UNION ALL
          SELECT k, 4, 'U', 'UPDATED_LATE' FROM base WHERE k % 45 = 0),
        last_op AS (
          SELECT k, op, seg FROM (
            SELECT k, op, seg,
                   row_number() OVER (PARTITION BY k ORDER BY seq DESC)
                     AS rn
            FROM log)
          WHERE rn = 1),
        applied AS (
          SELECT k, seg FROM last_op WHERE op <> 'D'
          UNION ALL
          SELECT k, seg FROM base
          WHERE k NOT IN (SELECT k FROM last_op))
        SELECT seg, count(*) AS n_rows, min(k) AS first_key,
               max(k) AS last_key
        FROM applied GROUP BY seg ORDER BY seg"""),
      doc = "CDC apply: last-writer-wins per key over a seq-numbered " +
        "I/U/D log (one PK window + one anti-join/union merge), deletes " +
        "drop, late update beats earlier delete"),

    // Small-file compaction — the table-maintenance op every streaming
    // ingest eventually needs (micro-batches leave thousands of tiny
    // files; scans then pay per-file open cost and lose row-group
    // locality). A 48-file fragmented copy is rewritten as 4
    // range-partitioned files (repartitionByRange on the PK also leaves
    // the data CLUSTERED, min/max file skipping on the key works
    // afterwards — compaction and clustering in one pass). The output
    // proves content parity through the rewrite (row count + exact key
    // checksum identical before/after) plus the file counts; the
    // driver-side work is one bounded directory listing.
    Q(
      "pipe_small_file_compact",
      (s, dir) => {
        val base = new java.io.File(System.getProperty("java.io.tmpdir"),
          "graft_compact").getAbsolutePath
        val o = t(s, dir, "orders")
          .select("o_orderkey", "o_custkey", "o_totalprice")
        o.repartition(48).write.mode("overwrite").parquet(s"$base/small")
        val small = s.read.parquet(s"$base/small")
        small.repartitionByRange(4, col("o_orderkey"))
          .write.mode("overwrite").parquet(s"$base/compact")
        val compact = s.read.parquet(s"$base/compact")
        def nFiles(p: String): Int =
          new java.io.File(p).listFiles()
            .count(_.getName.endsWith(".parquet"))
        def phase(name: String, df: org.apache.spark.sql.DataFrame,
            path: String) =
          df.agg(count(lit(1)).as("n_rows"),
              wsum(col("o_orderkey")).cast("long").as("key_sum"))
            .select(lit(name).as("phase"),
              lit(nFiles(path)).as("n_files"), col("n_rows"),
              col("key_sum"))
        phase("1_before", small, s"$base/small")
          .unionByName(phase("2_after", compact, s"$base/compact"))
          .orderBy("phase")
      },
      Some("""
        SELECT phase, n_files, count(*) AS n_rows,
               CAST(sum(o_orderkey) AS BIGINT) AS key_sum
        FROM orders
        CROSS JOIN (SELECT * FROM (VALUES ('1_before', 48), ('2_after', 4))
                    t(phase, n_files))
        GROUP BY phase, n_files ORDER BY phase"""),
      doc = "small-file compaction: 48 fragment files rewritten as 4 " +
        "range-clustered files (compaction + key clustering in one " +
        "pass), content parity proven by row count + exact key checksum"),

    // Sequence packing — the "concat-and-chunk" step every LLM training
    // pipeline runs between curation and tokenized shards: documents
    // are concatenated in a deterministic order and cut into
    // fixed-budget examples (256 tokens here); each document belongs to
    // the example its FIRST token lands in (greedy concat assignment).
    // Scale posture: packing is SHARD-LOCAL (hash shard = doc_id % 8,
    // the window partitions by shard) — the running token offset is a
    // per-shard cumulative sum, never a global single-partition sort;
    // at 100 TB the shard count scales out and each shard packs
    // independently, exactly how distributed packers work. Output is
    // the per-example manifest (doc span, token count, fill ratio
    // against the 256 budget — >1 when a boundary-spanning doc is
    // pulled wholly into its start example).
    Q(
      "pipe_sequence_pack",
      (s, dir) => {
        val d = t(s, dir, "documents")
          .select(col("doc_id"),
            size(split(lower(col("text")), " ")).cast("long").as("ntok"))
          .withColumn("shard", expr("doc_id % 8"))
        val w = Window.partitionBy("shard").orderBy("doc_id")
        d.withColumn("cum", sum(col("ntok")).over(w))
          .withColumn("ex", expr("(cum - ntok) div 256"))
          .groupBy("shard", "ex")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("ntok")).as("n_tokens"),
            min(col("doc_id")).as("first_doc"),
            max(col("doc_id")).as("last_doc"))
          .withColumn("fill",
            round(col("n_tokens").cast("double") / 256.0, 6))
          .orderBy("shard", "ex")
      },
      Some("""
        WITH d AS (
          SELECT doc_id, doc_id % 8 AS shard,
                 CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS ntok
          FROM documents),
        packed AS (
          SELECT shard, doc_id, ntok,
                 (CAST(sum(ntok) OVER (PARTITION BY shard ORDER BY doc_id)
                   AS BIGINT) - ntok) // 256 AS ex
          FROM d)
        SELECT shard, ex, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(ntok) AS BIGINT) AS n_tokens,
               min(doc_id) AS first_doc, max(doc_id) AS last_doc,
               round(CAST(sum(ntok) AS DOUBLE) / 256.0, 6) AS fill
        FROM packed GROUP BY shard, ex
        ORDER BY shard, ex"""),
      doc = "LLM sequence packing (concat-and-chunk, 256-token budget): " +
        "shard-local running offsets (no global sort), greedy " +
        "start-token example assignment, per-example manifest with " +
        "fill ratios"),

    // Token-bucket rate limiting replayed over the event log — the
    // admission-control audit an ingestion pipeline runs to size
    // quotas: capacity 5 tokens, refill 1 token/day, one token per event
    // (rates chosen to BIND on this fixture's ~1.1 events/user/day). The bucket state is integer milli-tokens with floor
    // refill arithmetic, so the whole replay is exact integer
    // recursion — same fold discipline as ml_hmm_viterbi (one groupBy
    // collect per user, codegen aggregate fold, state = 3 longs;
    // oracle = recursive CTE walking the identical recurrence).
    Q(
      "pipe_rate_limit",
      (s, dir) => {
        // Streaming per-user fold (r7 verdict item 4): the collected-
        // array form bounded memory by the hottest user's full history;
        // flatMapSortedGroups streams the (ts, event_id)-sorted iterator
        // through the token-bucket recurrence with 3 longs of live state
        // per user (10^6-event hot user fits the 2 GB SpillBench heap —
        // docs/SCALE.md §hot-user). Same integer milli-token arithmetic,
        // same order, identical values.
        import s.implicits._
        val ev = t(s, dir, "events")
          .select(col("user_id"), unix_micros(col("ts")).as("us"),
            col("event_id"))
          .as[(Long, Long, Long)]
        ev.groupByKey(_._1)
          .flatMapSortedGroups(col("us").asc, col("event_id").asc) { (user, it) =>
            var tok = 5000L
            var last = -1L
            var adm = 0L
            var n = 0L
            it.foreach { e =>
              if (last < 0L) { tok = 4000L; adm = 1L }
              else {
                val refilled =
                  math.min(5000L, tok + (e._2 - last) * 1000L / 86400000000L)
                if (refilled >= 1000L) { tok = refilled - 1000L; adm += 1L }
                else tok = refilled
              }
              last = e._2
              n += 1
            }
            Iterator.single((user, n, adm, tok))
          }
          .toDF("user_id", "n_events", "n_admitted", "tokens_milli")
          .orderBy("user_id")
      },
      Some("""
        WITH RECURSIVE seq AS (
          SELECT user_id,
                 row_number() OVER (PARTITION BY user_id
                                    ORDER BY epoch_us(ts), event_id) AS t,
                 epoch_us(ts) AS us
          FROM events),
        n AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_events
              FROM seq GROUP BY 1),
        v AS (
          SELECT s.user_id, s.t, CAST(4000 AS BIGINT) AS tok,
                 s.us AS last, CAST(1 AS BIGINT) AS adm
          FROM seq s WHERE s.t = 1
          UNION ALL
          SELECT s.user_id, s.t,
                 CASE WHEN least(5000, v.tok +
                     ((s.us - v.last) * 1000) // 86400000000) >= 1000
                   THEN least(5000, v.tok +
                     ((s.us - v.last) * 1000) // 86400000000) - 1000
                   ELSE least(5000, v.tok +
                     ((s.us - v.last) * 1000) // 86400000000) END,
                 s.us,
                 v.adm + CASE WHEN least(5000, v.tok +
                     ((s.us - v.last) * 1000) // 86400000000) >= 1000
                   THEN 1 ELSE 0 END
          FROM v JOIN seq s ON s.user_id = v.user_id AND s.t = v.t + 1)
        SELECT v.user_id, n.n_events, CAST(v.adm AS BIGINT) AS n_admitted,
               CAST(v.tok AS BIGINT) AS tokens_milli
        FROM v JOIN n ON n.user_id = v.user_id AND v.t = n.n_events
        ORDER BY v.user_id"""),
      doc = "token-bucket rate-limit replay (cap 5, 1 token/day): exact " +
        "integer milli-token recursion as one codegen fold per user; " +
        "recursive-CTE oracle walks the identical recurrence"),

    // J6 END-TO-END: the reference's three-algorithm aspect-match
    // composite (src/absa/post_aspects.py:59-118 temp-table plan;
    // phrase_matching.py:26-75 phrase_match → best_phrase_match →
    // final): post n-grams × aspect-word lexicon scored under ALL THREE
    // algorithms — equality (:125-143), trigram ≥ 0.65 (:146-166), and
    // levenshtein ratio ≤ 0.19 with the length-255 pre-filter
    // (:169-199) — each with per-(source, post, word_index) best-match
    // aggregation over QUALIFYING candidates, rows re-joined at the
    // best value, grouped per aspect with MIN(word) as the
    // representative, and the three algorithm outputs concatenated
    // (CollectPostAspects union, :19-37).
    //
    // Spark-first plan (NOT the reference's 3 separate cross-join scans):
    // the match value depends only on the (phrase, word) STRING PAIR, so
    // all three kernels run once per DISTINCT vocabulary word × lexicon
    // word — a few hundred pairs — and the corpus-size token stream only
    // flows through one broadcast hash join against the matched pairs.
    // At 100 TB the kernel cost is O(|vocab|·|lexicon|), independent of
    // corpus row count; the reference's form is O(|tokens|·|lexicon|).
    // The scored pair table is `.persist()`ed — the analog of the
    // reference's `aspect_match`/`best_aspect_match` temp-table
    // materialization (SURVEY §4): it feeds the two best-match windows
    // plus three branch filters, and without pinning it each branch
    // would re-run the vocabulary distinct over the corpus.
    //
    // The kernels appear in the optimized plan exactly once each, in
    // their guarded forms (AspectMatchSpec pins this): the trigram
    // threshold is rewritten to `trigram_sim_ge_bounded` by
    // TrigramBoundRule, and the levenshtein ratio test runs the BANDED
    // kernel directly — `levenshtein(a, b, k)` with per-row bound
    // k = floor(0.19·len(phrase)) (dist ≤ k ⟺ dist/len ≤ 0.19 for
    // integer dist, so the band is exact, and the O(k·len) early-exit
    // replaces the O(len²) DP for non-candidates).
    //
    // The fixture lexicon makes every contract bind visibly:
    // 'streams'/'windows' match stream/window by trigram AND
    // levenshtein but not equality; 'victor' matches vector by
    // levenshtein ONLY (trigram 0.4 — padding punishes prefix edits);
    // 'customeres' matches customer by trigram (0.667) but is then
    // DROPPED by best-match because 'customers' scores higher (0.727);
    // 'tables' qualifies under NEITHER (trigram 0.625 < 0.65,
    // ratio 0.2 > 0.19) — both thresholds shown binding.
    Q(
      "pipe_aspect_match",
      (s, dir) => {
        val docs = th(s, dir, "documents")
          .select(col("source"), col("doc_id").as("post_id"), col("text"))
        aspectMatches(s, docs)
          .select(col("source"), col("post_id"), col("word_index"),
            col("aspect_id"), col("aspect_word"), col("match_algorithm"))
          .orderBy("source", "post_id", "word_index", "match_algorithm",
            "aspect_id")
      },
      Some(s"""
        WITH d0 AS (SELECT source, doc_id AS post_id, text FROM documents),
        ${aspectMatchSql("q_", "d0")}
        SELECT t.source, t.post_id, t.word_index,
               m.aspect_id, m.aspect_word, m.match_algorithm
        FROM q_tok t JOIN q_matched m USING (phrase)
        ORDER BY source, post_id, word_index, match_algorithm, aspect_id"""),
      doc = "J6 three-algorithm aspect-match composite (equality + " +
        "trigram >= 0.65 + banded levenshtein ratio <= 0.19, best-match " +
        "per token, union): kernels run once per distinct vocab x " +
        "lexicon pair behind a persist, token stream passes through one " +
        "broadcast join; reference post_aspects.py:59-199"),

    // The INCREMENTAL half of the reference's aspect matching
    // (post_aspects.py:62-70 `new_post_id`): each run matches only
    // posts NEWER than the newest already-matched post, under the
    // reference's exact 3VL form — `(post_date > max(...)) IS NOT
    // FALSE` — so an EMPTY state table (max = NULL → comparison NULL →
    // NOT FALSE) processes the whole corpus. Both branches run here:
    // scenario 'warm' simulates the matched-through-day-179 state and
    // must touch only the strictly-newer half; scenario 'cold' runs
    // against an empty state and must cover everything. The watermark
    // is a broadcast one-row aggregate (no driver collect), the delta
    // filter sits UNDER the tokenizer, so at 100 TB an incremental run
    // scans only new partitions' worth of token work — the match
    // kernels stay vocab-bounded either way.
    Q(
      "pipe_aspect_match_delta",
      (s, dir) => {
        val d0 = th(s, dir, "documents")
          .select(col("source"), col("doc_id").as("post_id"),
            date_add(to_date(lit("2024-01-01")),
              pmod(col("doc_id"), lit(365L)).cast("int")).as("post_date"),
            col("text"))
        def scenario(tag: String,
            existing: org.apache.spark.sql.DataFrame) = {
          val wm = existing.agg(max(col("post_date")).as("wm"))
          val delta = d0.crossJoin(broadcast(wm))
            .filter(coalesce(col("post_date") > col("wm"), lit(true)))
            .drop("wm")
          aspectMatches(s, delta)
            .groupBy("match_algorithm", "aspect_id")
            .agg(count(lit(1)).as("n_tokens"),
              countDistinct(col("post_id")).as("n_posts"),
              date_format(min(col("post_date")), "yyyy-MM-dd")
                .as("first_date"),
              date_format(max(col("post_date")), "yyyy-MM-dd")
                .as("last_date"))
            .withColumn("scenario", lit(tag))
        }
        scenario("warm", d0.filter(pmod(col("post_id"), lit(365L)) < 180))
          .unionByName(scenario("cold", d0.filter(lit(false))))
          .select("scenario", "match_algorithm", "aspect_id", "n_tokens",
            "n_posts", "first_date", "last_date")
          .orderBy("scenario", "match_algorithm", "aspect_id")
      },
      Some(s"""
        WITH d0 AS (
          SELECT source, doc_id AS post_id,
                 DATE '2024-01-01' + CAST(doc_id % 365 AS INT) AS post_date,
                 text
          FROM documents),
        warmd AS (
          SELECT * FROM d0
          WHERE (post_date > (SELECT max(post_date) FROM d0
                              WHERE post_id % 365 < 180)) IS NOT FALSE),
        coldd AS (
          SELECT * FROM d0
          WHERE (post_date > (SELECT max(post_date) FROM d0
                              WHERE false)) IS NOT FALSE),
        ${aspectMatchSql("w_", "warmd", "post_date")},
        ${aspectMatchSql("c_", "coldd", "post_date")}
        SELECT * FROM (
          SELECT 'warm' AS scenario, m.match_algorithm, m.aspect_id,
                 CAST(count(*) AS BIGINT) AS n_tokens,
                 CAST(count(DISTINCT t.post_id) AS BIGINT) AS n_posts,
                 strftime(min(t.post_date), '%Y-%m-%d') AS first_date,
                 strftime(max(t.post_date), '%Y-%m-%d') AS last_date
          FROM w_tok t JOIN w_matched m USING (phrase)
          GROUP BY m.match_algorithm, m.aspect_id
          UNION ALL
          SELECT 'cold', m.match_algorithm, m.aspect_id,
                 CAST(count(*) AS BIGINT),
                 CAST(count(DISTINCT t.post_id) AS BIGINT),
                 strftime(min(t.post_date), '%Y-%m-%d'),
                 strftime(max(t.post_date), '%Y-%m-%d')
          FROM c_tok t JOIN c_matched m USING (phrase)
          GROUP BY m.match_algorithm, m.aspect_id)
        ORDER BY scenario, match_algorithm, aspect_id"""),
      doc = "U5/J6 watermark-incremental aspect match (reference " +
        "new_post_id 3VL form, post_aspects.py:62-70): broadcast " +
        "max-watermark, (post_date > wm) IS NOT FALSE delta under the " +
        "tokenizer; warm scenario touches only strictly-newer posts, " +
        "cold scenario (empty state, NULL watermark) covers the full " +
        "corpus"))
}
