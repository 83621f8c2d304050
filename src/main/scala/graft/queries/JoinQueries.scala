package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Join operators — SURVEY.md §2.4 (J1–J14).
  *
  * Scale posture: dimension tables (nation/region, inline lexicons) are
  * always broadcast; fact-fact joins shuffle on their keys; interval joins
  * are rewritten to the shuffle-linear explode form instead of a
  * broadcast-nested-loop range join; the as-of join is a single window
  * pass per key — no cross join anywhere on a fact×fact pair.
  */
object JoinQueries extends QueryBase {

  val all: Seq[Q] = Seq(
    // J1: inner equi-join, fact×fact, aggregated.
    // reference src/gomus/daily_entries.py:115-120.
    Q(
      "join_inner_equi",
      (s, dir) => {
        val o = t(s, dir, "orders")
        val c = t(s, dir, "customer")
        o.join(c, o("o_custkey") === c("c_custkey"), "inner")
          .groupBy("c_mktsegment")
          .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice"), 10000L).as("revenue"))
          .orderBy("c_mktsegment")
      },
      Some("""
        SELECT c_mktsegment, count(*) AS n_orders,
               CAST(sum(CAST(o_totalprice AS DECIMAL(30,4))) AS DOUBLE) AS revenue
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_mktsegment ORDER BY c_mktsegment"""),
      doc = "J1 inner equi-join; reference daily_entries.py:115-120"),

    // J10/J12: multi-way join with broadcast dimensions (TPC-H Q5 shape).
    // The nation/region dims broadcast; the lineitem⋈orders⋈customer spine
    // shuffles on its keys. Replaces the reference's row-at-a-time lookup
    // join pathology (src/gomus/orders.py:89-101).
    Q(
      "join_multiway_broadcast",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        val o = t(s, dir, "orders")
        val c = t(s, dir, "customer")
        val n = broadcast(t(s, dir, "nation"))
        val r = broadcast(t(s, dir, "region"))
        li.join(o, li("l_orderkey") === o("o_orderkey"))
          .join(c, o("o_custkey") === c("c_custkey"))
          .join(n, c("c_nationkey") === n("n_nationkey"))
          .join(r, n("n_regionkey") === r("r_regionkey"))
          .groupBy("r_name", "n_name")
          .agg(
            // price*discount product term: digit-split exact sum (wsum) —
            // a plain long sum wraps past ~9e9 rows/group at this scale.
            (wsum(round(col("l_extendedprice") * 100).cast("long") *
              (lit(100L) - round(col("l_discount") * 100).cast("long")))
              .cast(org.apache.spark.sql.types.DecimalType(38, 6)) / lit(10000L))
              .cast("double").as("revenue"),
            count(lit(1)).as("n_items"))
          .orderBy("r_name", "n_name")
      },
      Some("""
        SELECT r_name, n_name,
               CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6))) AS DOUBLE) AS revenue,
               count(*) AS n_items
        FROM lineitem
          JOIN orders   ON l_orderkey = o_orderkey
          JOIN customer ON o_custkey = c_custkey
          JOIN nation   ON c_nationkey = n_nationkey
          JOIN region   ON n_regionkey = r_regionkey
        GROUP BY r_name, n_name ORDER BY r_name, n_name"""),
      doc = "J10/J12 broadcast dim joins; reference orders.py:89-101, cleanse_data.py:131-138"),

    // J3: latest-snapshot join (greatest-n-per-group then right join to base).
    // reference fb_post_rich migration_015.sql:53-83.
    Q(
      "join_latest_snapshot",
      (s, dir) => {
        val ev = t(s, dir, "events")
        val c = t(s, dir, "customer")
        val w = Window.partitionBy("user_id").orderBy(col("ts").desc, col("event_id").desc)
        val latest = ev.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
          .select(col("user_id"), col("event_type").as("latest_type"),
            round(col("value"), 6).as("latest_value"))
        c.join(latest, c("c_custkey") === latest("user_id"), "left")
          .select(col("c_custkey"), col("latest_type"), col("latest_value"))
          .orderBy("c_custkey")
      },
      Some("""
        SELECT c_custkey, latest_type, latest_value
        FROM customer LEFT JOIN (
          SELECT user_id, event_type AS latest_type, round(value, 6) AS latest_value
          FROM events
          QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
        ) ON c_custkey = user_id
        ORDER BY c_custkey"""),
      doc = "J3 greatest-n-per-group latest join; reference migration_015.sql:53-83"),

    // As-of join: each purchase matched to the user's most recent prior
    // signup — one window pass per user partition, no range join. The
    // Spark-native form of the operator class the reference approximates
    // with max-timestamp subqueries (migration_015.sql:53-83).
    Q(
      "join_asof",
      (s, dir) => {
        val ev = t(s, dir, "events")
        // ASOF semantics are `purchase.ts >= signup.ts`: a signup at the
        // SAME timestamp as the purchase must be visible, so signups sort
        // before purchases at equal ts (kind asc), and among equal-ts
        // signups the max event_id wins — the same total order the oracle's
        // deduped ASOF side encodes.
        val kind = when(col("event_type") === "signup", 0).otherwise(1)
        val w = Window.partitionBy("user_id").orderBy(col("ts"), kind, col("event_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ev.withColumn("signup_ts",
            last(when(col("event_type") === "signup", col("ts")), ignoreNulls = true).over(w))
          .filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"),
            date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("purchase_ts"),
            date_format(col("signup_ts"), "yyyy-MM-dd HH:mm:ss").as("signup_ts"))
          .orderBy("event_id")
      },
      Some("""
        SELECT p.event_id, p.user_id,
               strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
               strftime(s.ts, '%Y-%m-%d %H:%M:%S') AS signup_ts
        FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'signup'
                        QUALIFY row_number() OVER (PARTITION BY user_id, ts
                                                   ORDER BY event_id DESC) = 1) s
          ON p.user_id = s.user_id AND p.ts >= s.ts
        ORDER BY p.event_id"""),
      doc = "as-of join via single window pass; DuckDB ASOF JOIN oracle"),

    // J3 forward + tolerance variant — pandas merge_asof(direction=
    // 'forward', tolerance=...): for each signup, the NEAREST FOLLOWING
    // purchase by the same user, but only within 3 days (conversion-lag
    // attribution). Same single-window-pass shape as join_asof, mirrored
    // (first-following instead of last-preceding); the tolerance is a
    // post-match predicate so "matched but too late" and "never matched"
    // both surface as non-converted. Equal-ts purchases are visible to
    // the signup (kind ordering) and dedup to the min event_id — the
    // total order the oracle's deduped ASOF side encodes.
    Q(
      "join_asof_tolerance",
      (s, dir) => {
        val ev = t(s, dir, "events")
        val kind = when(col("event_type") === "purchase", 1).otherwise(0)
        // Forward as-of via a REVERSE-ordered RUNNING frame: "first
        // non-null at-or-after this row in (ts, kind, event_id) order"
        // ≡ "last non-null up-to-current in the reversed order". The
        // running (UnboundedPreceding→CurrentRow) frame updates one
        // aggregate buffer per row — O(rows) per user — while the
        // forward-literal (CurrentRow→UnboundedFollowing) frame
        // re-evaluates its aggregate from every row to the partition
        // end: O(rows²) per user. user_id is NOT rekeyed by MintScale,
        // so per-user groups grow with the mint and the quadratic frame
        // was the catalog's one super-linear ×100 exponent (e=1.61,
        // 3.4 s → 139.7 s; this form measures e≈1 — docs/SCALE.md §r12).
        val w = Window.partitionBy("user_id")
          .orderBy(col("ts").desc, kind.desc, col("event_id").desc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ev.withColumn("p_ts",
            last(when(col("event_type") === "purchase", col("ts")),
              ignoreNulls = true).over(w))
          .filter(col("event_type") === "signup")
          .withColumn("in_tol",
            col("p_ts").isNotNull &&
              col("p_ts") <= col("ts") + expr("INTERVAL 3 DAYS"))
          .select(col("event_id"), col("user_id"),
            date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("signup_ts"),
            when(col("in_tol"),
              date_format(col("p_ts"), "yyyy-MM-dd HH:mm:ss")).as("purchase_ts"),
            col("in_tol").as("converted"),
            when(col("in_tol"),
              col("p_ts").cast("long") - col("ts").cast("long"))
              .as("lag_seconds"))
          .orderBy("event_id")
      },
      Some("""
        SELECT s.event_id, s.user_id,
               strftime(s.ts, '%Y-%m-%d %H:%M:%S') AS signup_ts,
               CASE WHEN p.ts <= s.ts + INTERVAL 3 DAY
                    THEN strftime(p.ts, '%Y-%m-%d %H:%M:%S') END AS purchase_ts,
               coalesce(p.ts <= s.ts + INTERVAL 3 DAY, FALSE) AS converted,
               CASE WHEN p.ts <= s.ts + INTERVAL 3 DAY
                    THEN CAST(floor(epoch(p.ts)) AS BIGINT)
                         - CAST(floor(epoch(s.ts)) AS BIGINT)
               END AS lag_seconds
        FROM (SELECT * FROM events WHERE event_type = 'signup') s
        ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase'
                        QUALIFY row_number() OVER (PARTITION BY user_id, ts
                                                   ORDER BY event_id ASC) = 1) p
          ON s.user_id = p.user_id AND s.ts <= p.ts
        ORDER BY s.event_id"""),
      doc = "forward as-of with tolerance (merge_asof direction='forward', " +
        "tolerance=3d): mirrored single window pass, conversion-lag " +
        "attribution; DuckDB forward-ASOF oracle"),

    // J8/J13: interval join rewritten shuffle-linear — instead of
    // grid×facts BETWEEN (broadcast-nested-loop at scale), each fact
    // explodes to the bounded set of grid days it covers, then a plain
    // groupBy. reference exhibition_day migration_018.sql:32-41.
    Q(
      "join_range_interval",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        li.select(explode(sequence(
            to_date(col("l_shipdate")),
            date_add(to_date(col("l_shipdate")), 6))).as("day"))
          .groupBy(date_format(col("day"), "yyyy-MM-dd").as("day"))
          .agg(count(lit(1)).as("n_active"))
          .orderBy("day")
      },
      Some("""
        SELECT strftime(day, '%Y-%m-%d') AS day, count(*) AS n_active
        FROM (SELECT unnest(generate_series(CAST(l_shipdate AS DATE),
                                            CAST(l_shipdate AS DATE) + 6,
                                            INTERVAL 1 DAY)) AS day
              FROM lineitem)
        GROUP BY 1 ORDER BY day"""),
      doc = "J8 interval join, explode-rewrite; reference migration_018.sql:32-41"),

    // J9: theta join with word-boundary regex over an inline keyword dim
    // (broadcast) + HAVING filter. reference migration_045.sql:12-36.
    Q(
      "join_theta_regex",
      (s, dir) => {
        val d = t(s, dir, "documents")
        val terms = s.createDataFrame(Seq(
          Tuple1("spark"), Tuple1("merge"), Tuple1("window"), Tuple1("stream")
        )).toDF("term")
        d.crossJoin(broadcast(terms))
          .filter(expr("""text rlike concat('(?i)\\b', term, '\\b')"""))
          .groupBy("term")
          .agg(countDistinct(col("doc_id")).as("n_docs"))
          .filter(col("n_docs") > 10)
          .orderBy("term")
      },
      Some("""
        SELECT term, count(DISTINCT doc_id) AS n_docs
        FROM documents CROSS JOIN (VALUES ('spark'),('merge'),('window'),('stream')) t(term)
        WHERE regexp_matches(text, '(?i)\b' || term || '\b')
        GROUP BY term HAVING count(DISTINCT doc_id) > 10
        ORDER BY term"""),
      doc = "J9 regex theta join; reference migration_045.sql:12-36, collect_tweets.py:46-80"),

    // J6: fuzzy lexicon match via levenshtein — lexicon broadcast, best
    // match per probe with threshold post-filter.
    // reference src/absa/post_aspects.py:152-199 (levenshtein algorithm).
    Q(
      "join_fuzzy_levenshtein",
      (s, dir) => {
        val p = t(s, dir, "part")
        val lex = s.createDataFrame(Seq(
          Tuple1("Brnd#13"), Tuple1("Brand#5"), Tuple1("Brund#19"), Tuple1("brand#33")
        )).toDF("probe")
        val brands = p.select(col("p_brand")).distinct()
        brands.crossJoin(broadcast(lex))
          .withColumn("dist", levenshtein(lower(col("p_brand")), lower(col("probe"))))
          .withColumn("best", min(col("dist")).over(Window.partitionBy("probe")))
          .filter(col("dist") === col("best") && col("dist") <= 2)
          .select(col("probe"), col("p_brand").as("matched"), col("dist"))
          .orderBy("probe", "matched")
      },
      Some("""
        SELECT probe, p_brand AS matched, dist FROM (
          SELECT probe, p_brand,
                 levenshtein(lower(p_brand), lower(probe)) AS dist,
                 min(levenshtein(lower(p_brand), lower(probe)))
                   OVER (PARTITION BY probe) AS best
          FROM (SELECT DISTINCT p_brand FROM part)
          CROSS JOIN (VALUES ('Brnd#13'),('Brand#5'),('Brund#19'),('brand#33')) t(probe))
        WHERE dist = best AND dist <= 2
        ORDER BY probe, matched"""),
      doc = "J6 fuzzy levenshtein best-match; reference post_aspects.py:152-199"),

    // J6 threshold form, written the way users (and the reference's
    // postgres SQL) write it: `levenshtein(a, b) <= 2` as a bare filter.
    // The session-registered optimizer rule
    // (graft.plans.LevenshteinBoundRule) rewrites the comparison to
    // Spark's banded thresholded levenshtein — O(k·len) per pair instead
    // of the full O(len²) DP — with identical results and null
    // semantics; LevenshteinRuleSpec asserts the rewrite landed in this
    // query's optimized plan and that values are unchanged with the
    // rule off. The oracle runs the UNBOUNDED form.
    Q(
      "join_fuzzy_threshold",
      (s, dir) => {
        val p = t(s, dir, "part")
        val lex = s.createDataFrame(Seq(
          Tuple1("Brnd#13"), Tuple1("Brand#5"), Tuple1("Brund#19"), Tuple1("brand#33")
        )).toDF("probe")
        p.select(col("p_brand")).distinct()
          .crossJoin(broadcast(lex))
          .filter(levenshtein(lower(col("p_brand")), lower(col("probe"))) <= 2)
          .groupBy("probe")
          .agg(count(lit(1)).as("n_matches"),
            min(col("p_brand")).as("first_match"))
          .orderBy("probe")
      },
      Some("""
        SELECT probe, count(*) AS n_matches, min(p_brand) AS first_match
        FROM (SELECT DISTINCT p_brand FROM part)
        CROSS JOIN (VALUES ('Brnd#13'),('Brand#5'),('Brund#19'),('brand#33')) t(probe)
        WHERE levenshtein(lower(p_brand), lower(probe)) <= 2
        GROUP BY probe ORDER BY probe"""),
      doc = "levenshtein threshold filter auto-rewritten to the banded " +
        "O(k*len) form by the LevenshteinBoundRule optimizer rule " +
        "(unbounded oracle, identical semantics)"),

    // J11: posts × opinion-patterns cross join (the literal two-row
    // pattern dim of opinion_patterns.jsonc broadcast against the posts
    // fact; per-pattern match accounting). The full downstream composite
    // lives in pipe_opinion_patterns; this is the micro form of the
    // cross-join itself. reference post_opinion_patterns.py:365-369.
    Q(
      "join_pattern_cross",
      (s, dir) => {
        import s.implicits._
        val d = t(s, dir, "documents")
          .select(col("doc_id"), split(lower(col("text")), "\\s+").as("tk"))
        val patterns = Seq(("adj_noun", "ADJ", "NOUN"),
          ("noun_adj", "NOUN", "ADJ")).toDF("pattern_name", "pos1", "pos2")
        val tags = transform(col("tk"), w =>
          when(length(w) % 4 === 0, "NOUN").when(length(w) % 4 === 1, "ADJ")
            .when(length(w) % 4 === 2, "VERB").otherwise("ADV"))
        val nMatch = size(filter(sequence(lit(1), size(col("tk")) - 1), i =>
          element_at(col("tags"), i) === col("pos1") &&
            element_at(col("tags"), i + 1) === col("pos2")))
        d.withColumn("tags", tags)
          .crossJoin(broadcast(patterns))
          .select(col("pattern_name"), nMatch.as("n_match"))
          .groupBy("pattern_name")
          .agg(count(lit(1)).as("n_posts"),
            sum(col("n_match")).as("n_matches"),
            count(when(col("n_match") > 0, 1)).as("n_posts_matched"))
          .orderBy("pattern_name")
      },
      Some("""
        WITH d AS (SELECT doc_id, string_split_regex(lower(text), '\s+') AS tk
                   FROM documents),
        pat(pattern_name, pos1, pos2) AS (SELECT * FROM (VALUES
          ('adj_noun', 'ADJ', 'NOUN'), ('noun_adj', 'NOUN', 'ADJ'))),
        tagged AS (
          SELECT doc_id, tk,
                 [CASE WHEN length(w) % 4 = 0 THEN 'NOUN'
                       WHEN length(w) % 4 = 1 THEN 'ADJ'
                       WHEN length(w) % 4 = 2 THEN 'VERB'
                       ELSE 'ADV' END FOR w IN tk] AS tags
          FROM d),
        crossed AS (
          SELECT p.pattern_name,
                 len([i FOR i IN range(1, len(tk))
                      IF tags[i] = p.pos1 AND tags[i+1] = p.pos2]) AS n_match
          FROM tagged CROSS JOIN pat p)
        SELECT pattern_name, count(*) AS n_posts,
               CAST(sum(n_match) AS BIGINT) AS n_matches,
               count(*) FILTER (n_match > 0) AS n_posts_matched
        FROM crossed GROUP BY pattern_name ORDER BY pattern_name"""),
      doc = "J11 posts × patterns cross join (broadcast two-row dim); " +
        "reference post_opinion_patterns.py:365-369"),

    // J2: FK-violation filter — one pass, broadcast of the referenced key
    // set, kept/dropped accounting instead of the reference's drop+log.
    // reference src/_utils/data_preparation.py:76-159.
    Q(
      "join_fkey_violations",
      (s, dir) => {
        val ev = t(s, dir, "events")
        val keys = t(s, dir, "customer").select(col("c_custkey"))
        ev.join(broadcast(keys), ev("user_id") === keys("c_custkey"), "left")
          .groupBy("event_type")
          .agg(
            count(when(col("c_custkey").isNotNull, 1)).as("n_kept"),
            count(when(col("c_custkey").isNull, 1)).as("n_dropped"))
          .orderBy("event_type")
      },
      Some("""
        SELECT event_type,
               count(CASE WHEN c_custkey IS NOT NULL THEN 1 END) AS n_kept,
               count(CASE WHEN c_custkey IS NULL THEN 1 END) AS n_dropped
        FROM events LEFT JOIN customer ON user_id = c_custkey
        GROUP BY event_type ORDER BY event_type"""),
      doc = "J2 FK-violation semi/anti filter; reference data_preparation.py:76-159"),

    // J4: performance condenser — keep only snapshot rows whose value
    // changed vs the previous row of the same key (null-safe compare).
    // reference condense_performance_values data_preparation.py:242-365.
    Q(
      "join_change_detect",
      (s, dir) => {
        val ev = t(s, dir, "events")
        val w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
        val bucket = floor(col("value") / 100).cast("long")
        ev.withColumn("bucket", bucket)
          .withColumn("prev", lag(col("bucket"), 1).over(w))
          .filter(not(col("bucket") <=> col("prev")))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_changed"))
          .orderBy("event_type")
      },
      Some("""
        SELECT event_type, count(*) AS n_changed FROM (
          SELECT event_type,
                 CAST(floor(value / 100) AS BIGINT) AS bucket,
                 lag(CAST(floor(value / 100) AS BIGINT), 1)
                   OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS prev
          FROM events)
        WHERE bucket IS DISTINCT FROM prev
        GROUP BY event_type ORDER BY event_type"""),
      doc = "J4 snapshot change-detection condenser; reference data_preparation.py:242-365"),

    // Runtime Bloom-filter join pruning — the 100 TB shuffle-reduction
    // pattern for a fact⋈(selective dim) join. Stage 1 aggregates a
    // fixed-size Bloom filter over the filtered dim keys (distributed
    // build, only the ~KB filter reaches the driver — same contract as a
    // broadcast dim). Stage 2 probes it with the native codegen
    // `bloom_contains` expression INSIDE the fact scan's pushed filter
    // chain, so ~non-matching fact rows never enter the join shuffle.
    // The equi-join then repairs false positives — output is exactly the
    // plain join, which is what the oracle runs. At sf0.01 the dim
    // filter keeps ~1/5 of customers, so ~80% of orders drop pre-shuffle;
    // the ratio is scale-invariant. `PlanSpec` asserts the probe sits in
    // the scan-side Filter, not after the join.
    Q(
      "join_bloom_prune",
      (s, dir) => {
        val dim = t(s, dir, "customer")
          .filter(col("c_mktsegment") === "BUILDING")
          .select("c_custkey", "c_nationkey")
        val bloom = dim.stat.bloomFilter("c_custkey", 4096, 0.01)
        val bits = graft.functions.BloomOps.toBytes(bloom)
        val fact = t(s, dir, "orders")
          .filter(call_function("bloom_contains", col("o_custkey"), lit(bits)))
        fact.join(dim, fact("o_custkey") === dim("c_custkey"))
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n_orders"),
            dsum(col("o_totalprice"), 10000L).as("revenue"))
          .orderBy("o_orderpriority")
      },
      Some("""
        SELECT o_orderpriority, count(*) AS n_orders,
               CAST(sum(CAST(o_totalprice AS DECIMAL(30,4))) AS DOUBLE) AS revenue
        FROM orders JOIN customer ON o_custkey = c_custkey
        WHERE c_mktsegment = 'BUILDING'
        GROUP BY o_orderpriority ORDER BY o_orderpriority"""),
      doc = "runtime Bloom-filter join pruning: distributed filter build, " +
        "codegen probe pushed to the fact scan, exact join repairs " +
        "false positives"),

    // Grid-bucketed spatial nearest-neighbor join — the geo analog of
    // the LSH-bucketed joins: each point hashes to an integer grid cell
    // and candidates are searched only in the 3×3 neighborhood (the
    // store side explodes ×9 with cell offsets; the join is a plain
    // (row, col) equi-join, never a cross product), so candidate volume
    // is O(points × density), not O(points × stores). Coordinates are
    // deterministic micro-degree INTEGERS minted from the keys and
    // SHIFTED NON-NEGATIVE before cell division — integer DIV and
    // DuckDB // agree only for non-negative operands (truncation vs
    // floor), so the shift is semantic, not cosmetic. Distances are
    // exact squared-integer L2; ties break to the lowest store id. A
    // customer with no store within one cell radius is absent (bounded
    // search radius is the point); the rollup reports per-store demand.
    Q(
      "join_spatial_grid",
      (s, dir) => {
        val g = 100000L
        val cust = t(s, dir, "customer").select(col("c_custkey"),
          (col("c_custkey") * 97 % 1800000L).as("clat"),
          (col("c_custkey") * 131 % 3600000L).as("clon"))
        val store = t(s, dir, "supplier").select(col("s_suppkey"),
          (col("s_suppkey") * 61 % 1800000L).as("slat"),
          (col("s_suppkey") * 89 % 3600000L).as("slon"))
        val storeCells = store
          .withColumn("o", explode(expr(
            "transform(sequence(0, 8), i -> struct(i DIV 3 - 1 AS dr, i % 3 - 1 AS dc))")))
          .select(col("s_suppkey"), col("slat"), col("slon"),
            (expr(s"slat DIV $g") + col("o.dr")).as("cr"),
            (expr(s"slon DIV $g") + col("o.dc")).as("cc"))
        val custCells = cust
          .withColumn("cr", expr(s"clat DIV $g"))
          .withColumn("cc", expr(s"clon DIV $g"))
        val cand = custCells.join(storeCells, Seq("cr", "cc"))
          .withColumn("d2",
            (col("clat") - col("slat")) * (col("clat") - col("slat")) +
              (col("clon") - col("slon")) * (col("clon") - col("slon")))
        val w = Window.partitionBy("c_custkey")
          .orderBy(col("d2"), col("s_suppkey"))
        cand.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
          .groupBy("s_suppkey")
          .agg(count(lit(1)).as("n_customers"), min(col("d2")).as("min_d2"),
            max(col("d2")).as("max_d2"))
          .orderBy("s_suppkey")
      },
      Some("""
        WITH cust AS (
          SELECT c_custkey, c_custkey * 97 % 1800000 AS clat,
                 c_custkey * 131 % 3600000 AS clon
          FROM customer),
        store AS (
          SELECT s_suppkey, s_suppkey * 61 % 1800000 AS slat,
                 s_suppkey * 89 % 3600000 AS slon
          FROM supplier),
        storecells AS (
          SELECT s_suppkey, slat, slon,
                 slat // 100000 + dr AS cr, slon // 100000 + dc AS cc
          FROM store,
               LATERAL (SELECT unnest([-1, 0, 1]) AS dr),
               LATERAL (SELECT unnest([-1, 0, 1]) AS dc)),
        cand AS (
          SELECT c.c_custkey, s.s_suppkey,
                 (c.clat - s.slat) * (c.clat - s.slat) +
                 (c.clon - s.slon) * (c.clon - s.slon) AS d2
          FROM (SELECT *, clat // 100000 AS cr, clon // 100000 AS cc
                FROM cust) c
          JOIN storecells s USING (cr, cc)),
        nearest AS (
          SELECT c_custkey, s_suppkey, d2 FROM (
            SELECT *, row_number() OVER (PARTITION BY c_custkey
                        ORDER BY d2, s_suppkey) AS rn
            FROM cand)
          WHERE rn = 1)
        SELECT s_suppkey, count(*) AS n_customers,
               min(d2) AS min_d2, max(d2) AS max_d2
        FROM nearest GROUP BY s_suppkey ORDER BY s_suppkey"""),
      doc = "grid-bucketed spatial nearest-neighbor join (3x3 neighbor " +
        "cells, store side exploded x9, integer-exact squared L2, " +
        "bounded search radius) — candidate volume O(points x density)"),

    // J6, phonetic form: soundex BLOCKING join — the classic
    // entity-resolution pattern that turns a fuzzy match into an
    // EQUI-join (hash-joinable, fully scalable: candidates are pairs
    // sharing a 4-char phonetic block key, verified by levenshtein
    // <= 2 only within blocks). Spark's built-in soundex() is the
    // block key; the oracle re-implements American Soundex from
    // scratch in DuckDB SQL (char coding, h/w-bridged collapse,
    // vowel resets, first-letter collapse, 0-padding — semantics
    // pinned against Spark's implementation on the census edge cases:
    // ashcraft→A261, pfister→P236, honeyman→H555, tymczak→T522),
    // so the engine's phonetic coder is value-checked by an
    // independent implementation. Alphabetic-only vocabulary on both
    // faces (non-letter handling is out of the phonetic contract).
    Q(
      "join_phonetic_soundex",
      (s, dir) => {
        val d = t(s, dir, "documents")
        val probes = s.createDataFrame(Seq(
          Tuple1("joyn"), Tuple1("skan"), Tuple1("hach"), Tuple1("merj"),
          Tuple1("windo"))).toDF("probe")
          .withColumn("psx", soundex(col("probe")))
        val vocab = d.select(explode(split(lower(col("text")), " ")).as("word"))
          .filter(col("word").rlike("^[a-z]+$")).distinct()
          .withColumn("sx", soundex(col("word")))
        vocab.join(broadcast(probes), col("sx") === col("psx"))
          .withColumn("dist", levenshtein(col("word"), col("probe")))
          .filter(col("dist") <= 2)
          .select(col("probe"), col("word").as("matched"),
            col("sx").as("block_key"), col("dist"))
          .orderBy("probe", "matched")
      },
      Some(soundexCtes + """
        SELECT p.word AS probe, v.word AS matched, s1.sx AS block_key,
               CAST(levenshtein(v.word, p.word) AS INT) AS dist
        FROM vocab v
        JOIN sx s1 ON s1.word = v.word
        CROSS JOIN probes p
        JOIN sx s2 ON s2.word = p.word
        WHERE s1.sx = s2.sx AND levenshtein(v.word, p.word) <= 2
        ORDER BY probe, matched"""),
      doc = "J6 phonetic soundex blocking join: fuzzy match as a " +
        "hash-joinable equi-join on the 4-char phonetic key with " +
        "in-block levenshtein verify; oracle re-implements American " +
        "Soundex independently in SQL"),

    // Dense parity for the phonetic coder: EVERY alphabetic corpus
    // word's soundex, Spark built-in vs the oracle's from-scratch SQL
    // implementation — the full-vocabulary value check behind
    // join_phonetic_soundex's block keys.
    Q(
      "func_soundex_blocks",
      (s, dir) => {
        val d = t(s, dir, "documents")
        d.select(explode(split(lower(col("text")), " ")).as("word"))
          .filter(col("word").rlike("^[a-z]+$")).distinct()
          .withColumn("sx", soundex(col("word")))
          .orderBy("word")
      },
      Some(soundexCtes + """
        SELECT v.word, s1.sx
        FROM vocab v JOIN sx s1 ON s1.word = v.word
        ORDER BY v.word"""),
      doc = "dense soundex parity: every alphabetic corpus word coded " +
        "by Spark's built-in vs the oracle's independent SQL soundex"),

    // Dynamic partition pruning over the partitioned gold layout (r10
    // verdict item 4): the reference's date-bounded exhibition_day reads
    // (migration_018.sql:32-41 consumers) are fact×dim joins where the
    // dim's filter — not a literal on the fact — decides which
    // partitions matter. Writing the fact partitionBy(month) (the
    // pipe_upsert_partitioned layout) and joining it to a broadcast dim
    // filtered on an attribute makes Catalyst inject a
    // `dynamicpruningexpression` PARTITION filter into the fact scan,
    // reusing the broadcast as the pruning subquery: at 100 TB the scan
    // reads only the dim-selected months' files instead of the whole
    // fact. DppSpec pins the plan (dynamicpruning filter present;
    // partitions-read metric = selected months, not all) — the oracle
    // replays the join relationally, where pruning is invisible by
    // construction.
    Q(
      "join_dpp_partitioned",
      (s, dir) => {
        val tbl = graft.sources.Sources.scratchDir(dir, "dpp_fact_tbl")
        val p = new org.apache.hadoop.fs.Path(tbl)
        val hfs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
        if (hfs.exists(p)) hfs.delete(p, true) // fresh fixture per run
        // one file per month partition: repartition on the partition key
        // before the partitionBy write (the small-files guard)
        t(s, dir, "orders")
          .select(col("o_orderkey"), col("o_totalprice"),
            date_format(col("o_orderdate"), "yyyy-MM").as("order_month"))
          .repartition(col("order_month"))
          .write.partitionBy("order_month").parquet(tbl)
        val fact = s.read.parquet(tbl)
        // dim: month catalog with an aggregate attribute; the filter
        // (December months) lives on the DIM — the fact scan has no
        // static predicate on order_month, only the dynamic one.
        val dim = t(s, dir, "orders")
          .groupBy(date_format(col("o_orderdate"), "yyyy-MM")
            .as("order_month"))
          .agg(count(lit(1)).as("month_orders"))
          .filter(substring(col("order_month"), 6, 2) === "12")
        fact.join(broadcast(dim), Seq("order_month"))
          .groupBy("order_month")
          .agg(count(lit(1)).as("n_rows"),
            dsum(col("o_totalprice"), 10000L).as("total_price"),
            max(col("month_orders")).as("month_orders"))
          .orderBy("order_month")
      },
      Some("""
        WITH fact AS (
          SELECT o_orderkey, o_totalprice,
                 strftime(o_orderdate, '%Y-%m') AS order_month
          FROM orders),
        dim AS (
          SELECT strftime(o_orderdate, '%Y-%m') AS order_month,
                 count(*) AS month_orders
          FROM orders GROUP BY 1),
        sel AS (SELECT * FROM dim WHERE substr(order_month, 6, 2) = '12')
        SELECT f.order_month, count(*) AS n_rows,
               CAST(sum(CAST(o_totalprice AS DECIMAL(30,4))) AS DOUBLE)
                 AS total_price,
               max(month_orders) AS month_orders
        FROM fact f JOIN sel USING (order_month)
        GROUP BY f.order_month ORDER BY f.order_month"""),
      doc = "dynamic partition pruning on the partitioned gold layout: " +
        "dim-side filter prunes fact partitions via the reused broadcast " +
        "(dynamicpruningexpression pinned by DppSpec); reference " +
        "migration_018.sql:32-41 date-bounded exhibition_day reads"))

  /** DuckDB face of American Soundex over the corpus vocabulary plus
    * the probe set — `vocab(word)`, `probes(word, probe)`, `sx(word,
    * sx)` CTEs. Encoding chain: per-char digit classes (bfpv=1,
    * cgjkqsxz=2, dt=3, l=4, mn=5, r=6), h/w marked '-' and REMOVED
    * from the chain (so consonants they separate collapse — the
    * ashcraft→A261 rule) while vowels stay as '0' separators (the
    * honeyman→H555 rule), adjacent equal codes collapse (first letter
    * participates: pfister→P236), then the first three digits after
    * the first letter, zero-padded. */
  private def soundexCtes: String = """
      WITH vocab AS (
        SELECT DISTINCT w AS word FROM (
          SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents)
        WHERE regexp_matches(w, '^[a-z]+$')),
      probes AS (SELECT word, word AS probe FROM (SELECT unnest(
        ['joyn','skan','hach','merj','windo']) AS word)),
      allw AS (SELECT word FROM vocab UNION SELECT word FROM probes),
      chars AS (
        SELECT word, unnest(range(1, length(word) + 1)) AS i FROM allw),
      coded AS (
        SELECT word, i, substr(word, i, 1) AS ch,
               CASE WHEN substr(word, i, 1) IN ('b','f','p','v') THEN '1'
                    WHEN substr(word, i, 1) IN ('c','g','j','k','q','s','x','z') THEN '2'
                    WHEN substr(word, i, 1) IN ('d','t') THEN '3'
                    WHEN substr(word, i, 1) = 'l' THEN '4'
                    WHEN substr(word, i, 1) IN ('m','n') THEN '5'
                    WHEN substr(word, i, 1) = 'r' THEN '6'
                    WHEN substr(word, i, 1) IN ('h','w') THEN '-'
                    ELSE '0' END AS c
        FROM chars),
      keep AS (SELECT word, i, c FROM coded WHERE c <> '-' OR i = 1),
      coll AS (
        SELECT word, i, c FROM (
          SELECT word, i, c,
                 lag(c) OVER (PARTITION BY word ORDER BY i) AS pc
          FROM keep)
        WHERE pc IS NULL OR c <> pc),
      dig AS (
        SELECT word, i, c,
               row_number() OVER (PARTITION BY word ORDER BY i) AS rk
        FROM coll WHERE i > 1 AND c >= '1' AND c <= '6'),
      sx AS (
        SELECT a.word,
               upper(substr(a.word, 1, 1)) ||
                 rpad(coalesce(string_agg(d.c, '' ORDER BY d.i), ''),
                   3, '0') AS sx
        FROM allw a LEFT JOIN (SELECT word, i, c FROM dig WHERE rk <= 3) d
          ON d.word = a.word
        GROUP BY a.word)"""
}
