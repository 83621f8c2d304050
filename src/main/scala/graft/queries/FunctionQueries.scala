package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Queries exercising graft's custom Catalyst expressions (SURVEY.md §4):
  * `trigram_sim` (pg_trgm semantics, J6/N11) and `murmur3_seeded`
  * (P4 privacy hash, seed 666).
  *
  * The trigram oracle replicates pg_trgm's padded-word trigram extraction
  * in DuckDB list SQL, so the custom expression is value-checked against
  * an independent implementation — not just rows-counted.
  */
object FunctionQueries extends QueryBase {

  val all: Seq[Q] = Seq(
    // J6/N11: fuzzy lexicon match via trigram similarity — lexicon
    // broadcast, per-probe best match, threshold post-filter (the
    // reference's trigram algorithm, post_aspects.py:120-150, runs at
    // 0.65 on full words; 0.3 here because the probe set includes
    // hash-suffixed brand tokens).
    Q(
      "func_trigram_match",
      (s, dir) => {
        val p = t(s, dir, "part")
        val lex = s.createDataFrame(Seq(
          Tuple1("brnad#13"), Tuple1("brand 45"), Tuple1("brnd#55"),
          Tuple1("bramd#21"), Tuple1("zzzz"))).toDF("probe")
        val brands = p.select(col("p_brand")).distinct()
        brands.crossJoin(broadcast(lex))
          .withColumn("sim", round(expr("trigram_sim(p_brand, probe)"), 6))
          .withColumn("best", max(col("sim")).over(Window.partitionBy("probe")))
          .filter(col("sim") === col("best") && col("sim") >= 0.3)
          .select(col("probe"), col("p_brand").as("matched"), col("sim"))
          .orderBy("probe", "matched")
      },
      Some("""
        WITH brands AS (SELECT DISTINCT p_brand FROM part),
        probes AS (SELECT unnest(['brnad#13','brand 45','brnd#55','bramd#21','zzzz']) AS probe),
        tg AS (
          SELECT p_brand, probe,
                 list_distinct(flatten([[substr(concat('  ', w, ' '), i, 3)
                     FOR i IN range(1, length(w) + 2)]
                   FOR w IN [x FOR x IN regexp_split_to_array(lower(p_brand), '[^a-z0-9]+')
                             IF x <> '']])) AS t1,
                 list_distinct(flatten([[substr(concat('  ', w, ' '), i, 3)
                     FOR i IN range(1, length(w) + 2)]
                   FOR w IN [x FOR x IN regexp_split_to_array(lower(probe), '[^a-z0-9]+')
                             IF x <> '']])) AS t2
          FROM brands CROSS JOIN probes),
        scored AS (
          SELECT p_brand, probe,
                 round(CASE WHEN len(list_distinct(t1 || t2)) = 0 THEN 0.0
                       ELSE len(list_intersect(t1, t2)) * 1.0 /
                            len(list_distinct(t1 || t2)) END, 6) AS sim
          FROM tg)
        SELECT probe, p_brand AS matched, sim FROM (
          SELECT probe, p_brand, sim, max(sim) OVER (PARTITION BY probe) AS best
          FROM scored)
        WHERE sim = best AND sim >= 0.3
        ORDER BY probe, matched"""),
      doc = "J6/N11 trigram-similarity fuzzy match via custom Catalyst expression; reference post_aspects.py:120-150"),

    // Jaro–Winkler value parity, dense: every distinct corpus token ×
    // every probe, similarity projected with NO threshold — the oracle
    // is DuckDB's own built-in `jaro_winkler_similarity`, so the custom
    // expression ([[graft.functions.JaroWinklerSim]]) is value-checked
    // pairwise against an independent engine's implementation across
    // the whole vocabulary (thousands of pairs), not just on the pairs
    // a threshold would keep. round(.,6) on both faces; a 6-decimal tie
    // is impossible (see the expression's Scaladoc), so ulp-level
    // evaluation-order differences between engines cannot flip a hash.
    Q(
      "func_jaro_winkler",
      (s, dir) => {
        val d = t(s, dir, "documents")
        val probes = s.createDataFrame(Seq(
          Tuple1("bacth"), Tuple1("jion"), Tuple1("hashh"), Tuple1("windoww"),
          Tuple1("streem"), Tuple1("scna"))).toDF("probe")
        val vocab = d.select(explode(split(lower(col("text")), " ")).as("word"))
          .filter(length(col("word")) > 0).distinct()
        vocab.crossJoin(broadcast(probes))
          .select(col("word"), col("probe"),
            round(expr("jaro_winkler(word, probe)"), 6).as("jw"))
          .orderBy("word", "probe")
      },
      Some("""
        WITH vocab AS (
          SELECT DISTINCT w AS word FROM (
            SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents)
          WHERE length(w) > 0),
        probes AS (SELECT unnest(['bacth','jion','hashh','windoww','streem','scna']) AS probe)
        SELECT word, probe,
               round(jaro_winkler_similarity(word, probe), 6) AS jw
        FROM vocab CROSS JOIN probes
        ORDER BY word, probe"""),
      doc = "Jaro-Winkler custom codegen expression value-checked densely " +
        "against DuckDB's independent built-in across the full corpus " +
        "vocabulary x probe cross product"),

    // J6, Jaro–Winkler threshold form: typo probes fuzzy-joined against
    // the corpus vocabulary at jw >= 0.9, with the sound LENGTH PRUNE
    // applied before the kernel: jw = jaro + p·0.1·(1−jaro) ≤
    // 0.6·jaro + 0.4 and jaro ≤ (2 + min/max)/3 (m ≤ min(|a|,|b|)),
    // so jw ≥ 0.9 forces min·2 ≥ max — pairs failing that cannot match
    // and are pruned by an O(1) predicate that at scale also bounds the
    // blocking fan-out (the same necessary-bound discipline as
    // LevenshteinBoundRule/TrigramBoundRule). The oracle replays the
    // identical prune, so both faces score the same candidate set.
    Q(
      "join_fuzzy_jaro",
      (s, dir) => {
        val d = t(s, dir, "documents")
        val probes = s.createDataFrame(Seq(
          Tuple1("bacth"), Tuple1("jion"), Tuple1("hashh"), Tuple1("windoww"),
          Tuple1("streem"), Tuple1("scna"))).toDF("probe")
        val vocab = d.select(explode(split(lower(col("text")), " ")).as("word"))
          .filter(length(col("word")) > 0)
          .groupBy("word").agg(count(lit(1)).as("n_occ"))
        vocab.crossJoin(broadcast(probes))
          .filter(least(length(col("word")), length(col("probe"))) * 2 >=
            greatest(length(col("word")), length(col("probe"))))
          .withColumn("jw", round(expr("jaro_winkler(word, probe)"), 6))
          .filter(col("jw") >= 0.9)
          .select(col("probe"), col("word").as("matched"), col("jw"),
            col("n_occ"))
          .orderBy("probe", "matched")
      },
      Some("""
        WITH vocab AS (
          SELECT w AS word, count(*) AS n_occ FROM (
            SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents)
          WHERE length(w) > 0 GROUP BY 1),
        probes AS (SELECT unnest(['bacth','jion','hashh','windoww','streem','scna']) AS probe),
        cand AS (
          SELECT word, probe, n_occ
          FROM vocab CROSS JOIN probes
          WHERE least(length(word), length(probe)) * 2 >=
                greatest(length(word), length(probe))),
        scored AS (
          SELECT probe, word AS matched,
                 round(jaro_winkler_similarity(word, probe), 6) AS jw,
                 CAST(n_occ AS BIGINT) AS n_occ
          FROM cand)
        SELECT probe, matched, jw, n_occ FROM scored
        WHERE jw >= 0.9
        ORDER BY probe, matched"""),
      doc = "J6 Jaro-Winkler fuzzy threshold join with the sound " +
        "2*min>=max length prune derived from the Winkler bound " +
        "(necessary for jw>=0.9), replayed identically in the oracle"),

    // The threshold form written the way users write it: a bare
    // `jaro_winkler(a, b) >= 0.9` theta-filter, no manual prune. The
    // session-registered JaroWinklerBoundRule rewrites the comparison
    // into the fused jaro_winkler_ge_bounded expression, whose O(1)
    // length bound (soundness on JaroGuardedCmp) prunes non-candidates
    // before the O(|a|·|b|) matching window — the third member of the
    // bound-rule family (levenshtein banded DP, trigram GIN-prune).
    // The oracle runs the UNBOUNDED comparison; the raw (unrounded)
    // double threshold is cross-engine-safe here because jw values are
    // rationals with denominator ≤ 10·3·|a|·|b|·m, putting every
    // attainable value ≥ 4e-8 away from 0.9 — far beyond ulp drift.
    // JaroRuleSpec asserts the rewrite lands in this query's optimized
    // plan and that values are unchanged with the rule off.
    Q(
      "join_jaro_prefilter",
      (s, dir) => {
        val d = t(s, dir, "documents")
        val probes = s.createDataFrame(Seq(
          Tuple1("bacth"), Tuple1("jion"), Tuple1("hashh"), Tuple1("windoww"),
          Tuple1("streem"), Tuple1("scna"))).toDF("probe")
        val vocab = d.select(explode(split(lower(col("text")), " ")).as("word"))
          .filter(length(col("word")) > 0).distinct()
        vocab.crossJoin(broadcast(probes))
          .filter(expr("jaro_winkler(word, probe) >= 0.9"))
          .groupBy("probe")
          .agg(count(lit(1)).as("n_matches"),
            min(col("word")).as("first_match"))
          .orderBy("probe")
      },
      Some("""
        WITH vocab AS (
          SELECT DISTINCT w AS word FROM (
            SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents)
          WHERE length(w) > 0)
        SELECT probe, CAST(count(*) AS BIGINT) AS n_matches,
               min(word) AS first_match
        FROM vocab CROSS JOIN (SELECT unnest(
          ['bacth','jion','hashh','windoww','streem','scna']) AS probe)
        WHERE jaro_winkler_similarity(word, probe) >= 0.9
        GROUP BY probe ORDER BY probe"""),
      doc = "bare jaro_winkler >= t filter auto-rewritten to the fused " +
        "O(1)-length-guarded form by JaroWinklerBoundRule (unbounded " +
        "oracle, identical semantics)"),

    // J6 threshold form, written the way the reference's postgres SQL
    // writes it: `similarity(a, b) >= t` as a bare theta-join predicate
    // (post_aspects.py:120-150, threshold 0.65 there; 0.35 here for this
    // hash-suffixed brand corpus). The session-registered optimizer rule
    // (graft.plans.TrigramBoundRule) rewrites the comparison to the
    // fused trigram_sim_ge_bounded form — an allocation-free O(len)
    // length/char-diversity prune runs per pair before the full
    // hash-set kernel, the planner-level analog of pg_trgm's GIN index
    // prune. TrigramBoundRuleSpec asserts the rewrite lands in this
    // query's optimized plan and that values are unchanged with the
    // rule off. The oracle runs the UNPRUNED full-kernel form.
    Q(
      "join_trigram_prefilter",
      (s, dir) => {
        val p = t(s, dir, "part")
        val lex = s.createDataFrame(Seq(
          Tuple1("brnad#13"), Tuple1("brand 45"), Tuple1("brnd#55"),
          Tuple1("bramd#21"), Tuple1("zzzz"))).toDF("probe")
        p.select(col("p_brand")).distinct()
          .join(broadcast(lex), expr("trigram_sim(p_brand, probe) >= 0.35"))
          .groupBy("probe")
          .agg(count(lit(1)).as("n_matches"),
            min(col("p_brand")).as("first_match"))
          .orderBy("probe")
      },
      Some("""
        WITH brands AS (SELECT DISTINCT p_brand FROM part),
        probes AS (SELECT unnest(['brnad#13','brand 45','brnd#55','bramd#21','zzzz']) AS probe),
        tg AS (
          SELECT p_brand, probe,
                 list_distinct(flatten([[substr(concat('  ', w, ' '), i, 3)
                     FOR i IN range(1, length(w) + 2)]
                   FOR w IN [x FOR x IN regexp_split_to_array(lower(p_brand), '[^a-z0-9]+')
                             IF x <> '']])) AS t1,
                 list_distinct(flatten([[substr(concat('  ', w, ' '), i, 3)
                     FOR i IN range(1, length(w) + 2)]
                   FOR w IN [x FOR x IN regexp_split_to_array(lower(probe), '[^a-z0-9]+')
                             IF x <> '']])) AS t2
          FROM brands CROSS JOIN probes),
        scored AS (
          SELECT p_brand, probe,
                 CASE WHEN len(list_distinct(t1 || t2)) = 0 THEN 0.0
                      ELSE len(list_intersect(t1, t2)) * 1.0 /
                           len(list_distinct(t1 || t2)) END AS sim
          FROM tg)
        SELECT probe, count(*) AS n_matches, min(p_brand) AS first_match
        FROM scored WHERE sim >= 0.35
        GROUP BY probe ORDER BY probe"""),
      doc = "trigram threshold theta-join auto-rewritten to the " +
        "length/char-diversity-pruned form by the TrigramBoundRule " +
        "optimizer rule (unpruned oracle, identical semantics)"),

    // P4: seeded Murmur3 privacy hash (seed 666, signed-int parity with
    // the reference's mmh3). Canonical per-vector parity is unit-tested
    // in Murmur3Spec; the gate additionally value-checks against a FULL
    // murmur3_x86_32 written in DuckDB SQL (see the oracle below).
    Q(
      "func_murmur3_hash",
      (s, dir) => {
        val c = t(s, dir, "customer")
        c.select(col("c_custkey"),
            expr("murmur3_seeded(c_name, 666)").as("privacy_hash"))
          .withColumn("bucket", pmod(col("privacy_hash"), lit(64)))
          .groupBy("bucket").agg(count(lit(1)).as("n"))
          .orderBy("bucket")
      },
      // Real algorithmic oracle: murmur3_x86_32(seed 666) re-implemented
      // in DuckDB SQL — HUGEINT modular multiplies, per-block mix rounds
      // unrolled for the fixed 18-byte c_name layout (4 LE blocks + 2
      // tail bytes), fmix finalization, signed-int32 fold. The custom
      // Catalyst expression is thus verified against an INDEPENDENT
      // implementation at the gate, not a pinned distribution.
      Some(s"""
        WITH ${Mm3Sql.chain("customer", "c_custkey", "c_name", 18, 666L, "m")}
        SELECT ((hash % 64) + 64) % 64 AS bucket, count(*) AS n
        FROM m_fin GROUP BY 1 ORDER BY bucket"""),
      doc = "P4 murmur3(seed=666) privacy hash; oracle = independent " +
        "murmur3_x86_32 in DuckDB SQL; reference extract_customers.py:135-140"),

    // N1: the reference's ABSA tokenizer (sentence split, emoji isolation,
    // @#-preserving punctuation strip, 1-based post-wide word_index) —
    // the one justified UDF in the engine: its semantics are irreducibly
    // procedural (reference post_words.py:150-231). No SQL oracle
    // (rows-only); semantics unit-tested in TokenizerSpec.
    Q(
      "text_tokenizer_n1",
      (s, dir) => {
        val d = th(s, dir, "documents")
        val tok = udf((txt: String) => graft.functions.Tokenizer.tokenize(txt)
          .map(tk => (tk.word, tk.sentenceIndex, tk.wordIndex)))
        d.select(col("doc_id"), explode(tok(col("text"))).as("t"))
          .select(col("doc_id"), col("t._1").as("word"),
            col("t._2").as("sentence_index"), col("t._3").as("word_index"))
          .groupBy("word")
          .agg(count(lit(1)).as("n_occ"), countDistinct(col("doc_id")).as("n_docs"),
            min(col("word_index")).as("min_word_index"),
            max(col("sentence_index")).as("max_sentence_index"))
          .orderBy(col("n_occ").desc, col("word").asc)
          .limit(100)
      },
      // Corpus-conditional oracle: this corpus is pure [a-zA-Z0-9 ] (no
      // punctuation, emoji, slashes or newlines — asserted by the WHERE
      // below ... in spirit; verified offline), so the tokenizer's output
      // reduces to lowercase whitespace tokens of length > 1 with a
      // running kept-token index and a single sentence. The FULL
      // semantics (sentence split, emoji isolation, punctuation
      // subtraction) are covered by TokenizerSpec's reference-derived
      // vectors; this oracle upgrades the gate from rows-only to
      // value-checked on the paths this data exercises.
      Some("""
        WITH raw AS (
          SELECT doc_id,
                 unnest(string_split_regex(text, '\s+')) AS w,
                 generate_subscripts(string_split_regex(text, '\s+'), 1) AS pos
          FROM documents),
        kept AS (
          SELECT doc_id, lower(w) AS word,
                 CAST(row_number() OVER (PARTITION BY doc_id ORDER BY pos)
                   AS INT) AS word_index
          FROM raw WHERE length(w) > 1)
        SELECT word, count(*) AS n_occ, count(DISTINCT doc_id) AS n_docs,
               CAST(min(word_index) AS INT) AS min_word_index,
               CAST(1 AS INT) AS max_sentence_index
        FROM kept GROUP BY word
        ORDER BY n_occ DESC, word ASC LIMIT 100"""),
      doc = "N1 ABSA tokenizer with sentence/word ordinals; reference post_words.py:150-231"))
}
