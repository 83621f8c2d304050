package graft.queries

import org.apache.spark.sql.functions._

/** Stratified-slice twins of the four heavy queries whose FULL oracles
  * DuckDB 1.0 cannot evaluate at the ×100 mint (CORRECTNESS_X100.json:
  * shingle-everything / 600M-row-distinct replays exhaust it — engine
  * capacity, not divergence). Each twin calls its full query's pipeline
  * function — [[DedupQueries.minhashPairs]], [[DedupQueries.winnowPairs]],
  * [[DedupQueries.containmentPairs]], [[MlQueries.linkPrediction]] — on a
  * deterministic ~6–12% hash-slice of its blocking domain, so hashes,
  * caps, thresholds and verify are the full query's by construction; only
  * the input filter differs. Each oracle replays the same slice in
  * DuckDB, so result parity extends to the third decade
  * (CORRECTNESS_X100_SLICE.json) where the full oracle cannot follow.
  *
  * Why the slice is CLOSED (restricting it loses no semantics inside it):
  *
  *  - The three dedup twins slice on the md5 of the document CONTENT
  *    (first hex nibble). LSH buckets, winnowing fingerprints and shingle
  *    hashes are pure functions of content, so content-identical rows —
  *    including every one of MintScale's ×K re-keyed copies — land on the
  *    same side of the cut together, and a selected document keeps ALL of
  *    its bucket cohabitants that share its content. The ×100 bucket
  *    density the full run would see (K× copies per bucket, probe caps
  *    binding hard) is therefore preserved verbatim inside the slice —
  *    the caps are exercised at full ×100 pressure, not at 1% pressure.
  *  - The link-prediction twin slices the part key — the per-part capped
  *    self-join's blocking domain — so every surviving part carries its
  *    complete (capped) posting list; degrees are per-customer over the
  *    sliced edge set, identically in both engines.
  *
  * Cross-slice pairs (a near-dup pair whose two contents hash to
  * different nibbles) are excluded on BOTH sides by construction; the
  * parity claim is over the restricted pipeline's output, which is the
  * point — the engines must agree row-for-row on everything the slice
  * contains. At the driver sfs these run in the regular gate like any
  * catalog query (the slice just shrinks the input); at ×100 their DuckDB
  * replays cost roughly what the full ×10 oracles cost, which is proven
  * feasible.
  */
object SliceQueries extends QueryBase {

  /** First hex nibble of md5(text) = '0' → deterministic 1/16 of distinct
    * contents (and all their minted copies). Spark and DuckDB md5 agree
    * byte-for-byte on UTF-8 input. */
  private def contentSlice = substring(md5(col("text")), 1, 1) === "0"
  private val contentSliceSql = "substr(md5(text), 1, 1) = '0'"

  val all: Seq[Q] = Seq(
    // dedup_minhash_lsh restricted to the content slice, plus a re-keyed
    // copy of every 10th sliced doc (identical text → identical slice
    // side, identical signature) so the twin emits verified jaccard-1.0
    // pairs at every sf, not only where the mint provides copies.
    Q(
      "dedup_minhash_slice",
      (s, dir) => {
        val base = th(s, dir, "documents").select(col("doc_id"), col("text"))
          .filter(contentSlice)
        DedupQueries.minhashPairs(base.unionByName(
          base.filter(col("doc_id") % 10 === 0)
            .withColumn("doc_id", col("doc_id") + 100000)))
      },
      Some(s"""
        WITH base AS (
          SELECT doc_id, text FROM documents WHERE $contentSliceSql),
        d AS (
          SELECT doc_id, text FROM base
          UNION ALL
          SELECT doc_id + 100000, text FROM base WHERE doc_id % 10 = 0),
        tk AS (
          SELECT doc_id, string_split_regex(lower(text), '\\s+') AS tk FROM d),
        sh AS (
          SELECT doc_id,
                 list_distinct(CASE WHEN len(tk) >= 3
                   THEN [tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
                         FOR i IN range(1, len(tk) - 1)]
                   ELSE CAST([] AS VARCHAR[]) END) AS sh
          FROM tk),
        sig AS (
          SELECT doc_id, sh,
                 CASE WHEN len(sh) = 0 THEN [CAST(-1 AS BIGINT) FOR j IN range(0, 12)]
                 ELSE [list_min([((2*j+1) * (CAST(concat('0x', substr(md5(x), 1, 15)) AS BIGINT) % 268435456)
                                  + 7919*j) % 2147483647
                            FOR x IN sh]) FOR j IN range(0, 12)] END AS sig
          FROM sh),
        bands AS (
          SELECT doc_id, bd, bkey FROM (
            SELECT doc_id, bd,
                   md5(concat(CAST(sig[bd*3+1] AS VARCHAR), ',',
                              CAST(sig[bd*3+2] AS VARCHAR), ',',
                              CAST(sig[bd*3+3] AS VARCHAR))) AS bkey
            FROM sig CROSS JOIN (SELECT unnest(range(0, 4)) AS bd) t)
          QUALIFY row_number() OVER (PARTITION BY bd, bkey ORDER BY doc_id) <= 32),
        cand AS (
          SELECT DISTINCT a.doc_id AS left_id, b.doc_id AS right_id
          FROM bands a JOIN bands b
            ON a.bd = b.bd AND a.bkey = b.bkey AND a.doc_id < b.doc_id)
        SELECT left_id, right_id,
               round(len(list_intersect(sa.sh, sb.sh)) * 1.0 /
                     len(list_distinct(sa.sh || sb.sh)), 6) AS jaccard
        FROM cand
          JOIN sh sa ON cand.left_id = sa.doc_id
          JOIN sh sb ON cand.right_id = sb.doc_id
        WHERE round(len(list_intersect(sa.sh, sb.sh)) * 1.0 /
              len(list_distinct(sa.sh || sb.sh)), 6) >= 0.5
        ORDER BY left_id, right_id"""),
      doc = "dedup_minhash_lsh replayed on the md5-content slice (1/16 of " +
        "distinct contents, ALL their minted copies): same signatures, " +
        "bands, caps and jaccard verify — the x100 result-parity vehicle " +
        "where the full oracle exceeds DuckDB capacity"),

    // dedup_winnowing restricted to the content slice (slice applied to
    // the raw text BEFORE the lowercase/union steps, so the re-keyed dup
    // copies follow their source).
    Q(
      "dedup_winnowing_slice",
      (s, dir) => DedupQueries.winnowPairs(
        th(s, dir, "documents").filter(contentSlice)
          .select(col("doc_id"), lower(col("text")).as("t"))),
      Some(s"""
        WITH d0 AS (SELECT doc_id, lower(text) AS t FROM documents
                    WHERE $contentSliceSql),
        d AS (SELECT * FROM (
                SELECT * FROM d0
                UNION ALL
                SELECT doc_id + 100000, t FROM d0 WHERE doc_id % 10 = 0)
              WHERE length(t) >= 8),
        pos AS (
          SELECT doc_id, i, substr(t, i, 8) AS gram
          FROM d, LATERAL (SELECT unnest(range(1,
                 greatest(length(t) - 7, 1) + 1)) AS i)),
        raw AS (SELECT DISTINCT gram FROM pos),
        ${graft.queries.Mm3Sql.chain("raw", "gram", "gram", 8, 7L, "m")},
        hseq AS (
          SELECT p.doc_id, list(m.hash ORDER BY p.i) AS hs
          FROM pos p JOIN m_fin m ON m.k = p.gram
          GROUP BY p.doc_id),
        fp AS (
          SELECT DISTINCT doc_id, h FROM (
            SELECT doc_id,
                   list_min(hs[j:j+3]) AS h
            FROM hseq, LATERAL (SELECT unnest(range(1,
                   greatest(len(hs) - 3, 1) + 1)) AS j))),
        capped AS (
          SELECT doc_id, h FROM (
            SELECT doc_id, h,
                   row_number() OVER (PARTITION BY h ORDER BY doc_id) AS rn
            FROM fp)
          WHERE rn <= 32)
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
        FROM capped a JOIN capped b
          ON a.h = b.h AND a.doc_id < b.doc_id
        GROUP BY 1, 2 ORDER BY n_shared DESC, doc_a, doc_b LIMIT 25"""),
      doc = "dedup_winnowing replayed on the md5-content slice: full " +
        "murmur3 gram hashing, window minima, posting caps and pair join " +
        "inside the slice — x100 result parity past the full oracle's " +
        "capacity"),

    // dedup_containment_minhash restricted to the content slice: frags
    // derive from the sliced corpus, so fragment and source stay on the
    // same side of the cut (frag text is a prefix of its source's text —
    // the slice keys on the SOURCE's content).
    Q(
      "dedup_containment_slice",
      (s, dir) => DedupQueries.containmentPairs(
        th(s, dir, "documents").select(col("doc_id"), col("text"))
          .filter(contentSlice)),
      Some(s"""
        WITH d AS (SELECT doc_id, text FROM documents
                   WHERE $contentSliceSql),
        frags AS (
          SELECT doc_id + 100000 AS doc_id,
                 array_to_string(toks[1 : greatest(len(toks)//2, 5)], ' ')
                   AS text
          FROM (SELECT doc_id, string_split(lower(text), ' ') AS toks
                FROM d WHERE doc_id % 10 = 0)),
        fragh AS (
          SELECT DISTINCT doc_id,
                 CAST(concat('0x', substr(md5(sg), 1, 15)) AS BIGINT) AS h
          FROM (SELECT doc_id,
                       array_to_string(toks[i : i+2], ' ') AS sg
                FROM (SELECT doc_id, string_split(lower(text), ' ') AS toks
                      FROM frags),
                     LATERAL (SELECT unnest(range(1, len(toks) - 1)) AS i)
                WHERE len(toks) >= 3)),
        corpush AS (
          SELECT DISTINCT doc_id AS src_id,
                 CAST(concat('0x', substr(md5(sg), 1, 15)) AS BIGINT) AS h
          FROM (SELECT doc_id,
                       array_to_string(toks[i : i+2], ' ') AS sg
                FROM (SELECT doc_id, string_split(lower(text), ' ') AS toks
                      FROM d),
                     LATERAL (SELECT unnest(range(1, len(toks) - 1)) AS i)
                WHERE len(toks) >= 3)),
        na AS (SELECT doc_id, least(count(*), 16) AS n_bottom
               FROM fragh GROUP BY doc_id),
        bottom AS (
          SELECT doc_id, h FROM (
            SELECT doc_id, h,
                   row_number() OVER (PARTITION BY doc_id ORDER BY h) AS rk
            FROM fragh)
          WHERE rk <= 16),
        posting AS (
          SELECT src_id, h FROM (
            SELECT src_id, h,
                   row_number() OVER (PARTITION BY h ORDER BY src_id) AS rk
            FROM corpush)
          WHERE rk <= 32)
        SELECT b.doc_id AS frag_id, p.src_id, count(*) AS n_match,
               round(CAST(count(*) AS DOUBLE) / any_value(na.n_bottom), 6)
                 AS containment
        FROM bottom b JOIN posting p ON b.h = p.h
        JOIN na ON na.doc_id = b.doc_id
        GROUP BY b.doc_id, p.src_id
        HAVING round(CAST(count(*) AS DOUBLE) / any_value(na.n_bottom), 6)
               >= 0.8
        ORDER BY frag_id, src_id"""),
      doc = "dedup_containment_minhash replayed on the md5-content slice: " +
        "bottom-16 fragment hashes, posting cap, containment >= 0.8 " +
        "inside the slice — x100 result parity past the full oracle's " +
        "capacity"),

    // ml_link_prediction restricted to 1/8 of the part domain (the
    // blocking key): every surviving part keeps its COMPLETE capped
    // posting list; degrees are per-customer over the sliced edge set,
    // identically in both engines. This cuts DuckDB's 600M-row
    // pre-distinct edge replay at x100 to ~75M — the x10-proven volume.
    Q(
      "ml_linkpred_slice",
      (s, dir) => MlQueries.linkPrediction(s, dir,
        t(s, dir, "lineitem").filter(col("l_partkey") % 8 === 3)),
      Some("""
        WITH edges AS (
          SELECT DISTINCT o_custkey AS c, l_partkey AS p
          FROM orders JOIN lineitem ON o_orderkey = l_orderkey
          WHERE l_partkey % 8 = 3),
        deg AS (SELECT c, count(*) AS d FROM edges GROUP BY c),
        capped AS (
          SELECT p, c FROM (
            SELECT p, c, row_number() OVER (PARTITION BY p ORDER BY c) AS rk
            FROM edges)
          WHERE rk <= 32),
        inter AS (
          SELECT x.c AS a, y.c AS b, count(*) AS n_common
          FROM capped x JOIN capped y ON x.p = y.p AND x.c < y.c
          GROUP BY x.c, y.c)
        SELECT i.a, i.b, i.n_common,
               round(CAST(i.n_common AS DOUBLE) /
                     (da.d + db.d - i.n_common), 6) AS jaccard
        FROM inter i
        JOIN deg da ON da.c = i.a
        JOIN deg db ON db.c = i.b
        ORDER BY jaccard DESC, n_common DESC, a, b LIMIT 25"""),
      doc = "ml_link_prediction replayed on a 1/8 part-key slice of the " +
        "bipartite graph: complete capped posting per surviving part, " +
        "sliced-edge degrees — x100 result parity past the full oracle's " +
        "capacity"))
}
