package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Aggregation operators — SURVEY.md §2.5 (A1–A17).
  *
  * Each query is a declarative DataFrame plan: partial (map-side)
  * aggregation, no collect, no UDFs — the whole thing stays in
  * whole-stage codegen and scales by adding executors.
  */
object CoreQueries extends QueryBase {

  /** Count-min sketch point-frequency estimation (Cormode & Muthukrishnan
    * 2005) — completes the sketch family (HLL distinct, GK quantiles,
    * theta set ops, Misra–Gries heavy hitters) with the point-count
    * estimator: d=4 hash rows × w=64 counters, estimate = min over rows,
    * one-sided error (est ≥ exact always; est ≤ exact + e·N/w w.h.p.).
    *
    * The sketch build is one explode(×4) + a 256-group aggregate — the
    * sketch SIZE is constant regardless of stream cardinality, which is
    * the whole point at 100 TB: the shuffle carries (d, bucket) partial
    * counts, never items. Hashes are md5-derived, so the DuckDB oracle
    * rebuilds the identical sketch and the estimates are gate-exact; the
    * output reports per-probe exact count, estimate, overshoot, and the
    * deterministic halves of the contract (est ≥ exact must ALWAYS
    * hold; the probabilistic e·N/w bound is reported as a flag). */
  private val countMinQ = Q(
    "agg_countmin_sketch",
    (s, dir) => {
      val ev = t(s, dir, "events").select(col("user_id"))
      val hcols = (0 until 4).map { d =>
        struct(lit(d).as("d"),
          pmod(expr(s"CAST(conv(substring(md5(concat('cm${d}_', " +
            s"CAST(user_id AS STRING))), 1, 15), 16, 10) AS BIGINT)"),
            lit(64L)).as("b"))
      }
      val cm = ev.select(explode(array(hcols: _*)).as("h"))
        .groupBy(col("h.d").as("d"), col("h.b").as("b"))
        .agg(count(lit(1)).as("cnt"))
      val tot = ev.agg(count(lit(1)).as("n_total"))
      val probes = ev.filter(col("user_id") < 8).distinct()
      val probeBuckets = probes.select(col("user_id"),
        explode(array(hcols: _*)).as("h"))
        .select(col("user_id"), col("h.d").as("d"), col("h.b").as("b"))
      val est = probeBuckets.join(cm, Seq("d", "b"))
        .groupBy("user_id").agg(min(col("cnt")).as("est"))
      val exact = ev.filter(col("user_id") < 8)
        .groupBy("user_id").agg(count(lit(1)).as("exact"))
      est.join(exact, Seq("user_id")).crossJoin(broadcast(tot))
        .withColumn("overshoot", col("est") - col("exact"))
        .withColumn("one_sided_ok", col("est") >= col("exact"))
        .withColumn("within_eps_bound",
          col("est") <= col("exact") +
            ceil(lit(2.718281828) * col("n_total").cast("double") / 64d)
              .cast("long"))
        .select("user_id", "exact", "est", "overshoot", "one_sided_ok",
          "within_eps_bound")
        .orderBy("user_id")
    },
    Some("""
      WITH ev AS (SELECT user_id FROM events),
      h AS (
        SELECT user_id, d,
               CAST(concat('0x', substr(md5(concat('cm', CAST(d AS VARCHAR),
                 '_', CAST(user_id AS VARCHAR))), 1, 15)) AS BIGINT) % 64
                 AS b
        FROM ev, (SELECT unnest(range(0, 4)) AS d)),
      cm AS (SELECT d, b, count(*) AS cnt FROM h GROUP BY d, b),
      tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM ev),
      probes AS (SELECT DISTINCT user_id FROM ev WHERE user_id < 8),
      pb AS (
        SELECT p.user_id, d,
               CAST(concat('0x', substr(md5(concat('cm', CAST(d AS VARCHAR),
                 '_', CAST(p.user_id AS VARCHAR))), 1, 15)) AS BIGINT) % 64
                 AS b
        FROM probes p, (SELECT unnest(range(0, 4)) AS d)),
      est AS (
        SELECT pb.user_id, min(cm.cnt) AS est
        FROM pb JOIN cm ON cm.d = pb.d AND cm.b = pb.b
        GROUP BY pb.user_id),
      exact AS (
        SELECT user_id, count(*) AS exact FROM ev WHERE user_id < 8
        GROUP BY user_id)
      SELECT e.user_id, x.exact, e.est, e.est - x.exact AS overshoot,
             e.est >= x.exact AS one_sided_ok,
             e.est <= x.exact + CAST(ceil(2.718281828 * n_total / 64)
               AS BIGINT) AS within_eps_bound
      FROM est e JOIN exact x ON x.user_id = e.user_id CROSS JOIN tot
      ORDER BY e.user_id"""),
    doc = "count-min sketch (d=4, w=64, md5 rows): constant-size sketch " +
      "build, min-over-rows point estimates, one-sided error contract " +
      "checked per probe; completes the sketch family")

  val all: Seq[Q] = Seq(countMinQ) ++ Seq(
    // A1/A7-style multi-aggregate rollup (TPC-H Q1 shape). Decimal sums are
    // exact and shuffle-order-independent (oracle hash parity at any SF).
    Q(
      "agg_pricing_summary",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        // Money stays exact on the codegen'd long-sum path: cents-scaled
        // integers, descaled once after aggregation (see QueryBase.dsum).
        val priceC = round(col("l_extendedprice") * 100).cast("long")
        val discC = lit(100L) - round(col("l_discount") * 100).cast("long")
        val taxC = lit(100L) + round(col("l_tax") * 100).cast("long")
        li.groupBy("l_returnflag", "l_linestatus")
          .agg(
            dsum(col("l_quantity")).as("sum_qty"),
            dsum(col("l_extendedprice")).as("sum_base_price"),
            // Product terms reach ~1e11 per row — their sums go through the
            // digit-split wsum, exact to ~4e12 rows/group (a plain long sum
            // would wrap silently past ~9e7 rows/group).
            (wsum(priceC * discC).cast(DecimalType(38, 6)) / lit(10000L))
              .cast("double").as("sum_disc_price"),
            (wsum(priceC * discC * taxC).cast(DecimalType(38, 6)) / lit(1000000L))
              .cast("double").as("sum_charge"),
            davg(col("l_quantity")).as("avg_qty"),
            davg(col("l_discount")).as("avg_disc"),
            count(lit(1)).as("count_order"))
          .orderBy("l_returnflag", "l_linestatus")
      },
      Some("""
        SELECT l_returnflag, l_linestatus,
               CAST(sum(CAST(l_quantity AS DECIMAL(30,4))) AS DOUBLE) AS sum_qty,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(30,4))) AS DOUBLE) AS sum_base_price,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l_discount AS DECIMAL(8,4)))) AS DOUBLE) AS sum_disc_price,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l_discount AS DECIMAL(8,4))) * (1 + CAST(l_tax AS DECIMAL(8,4)))) AS DOUBLE) AS sum_charge,
               CAST(sum(CAST(l_quantity AS DECIMAL(30,4))) AS DOUBLE) / count(l_quantity) AS avg_qty,
               CAST(sum(CAST(l_discount AS DECIMAL(30,4))) AS DOUBLE) / count(l_discount) AS avg_disc,
               count(*) AS count_order
        FROM lineitem
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus"""),
      doc = "A1/A7 groupBy().agg() rollup; reference src/absa/post_sentiments.py:63-89"),

    // A2: polarity-weighted "max-biased" sentiment
    // (reference src/absa/post_aspect_sentiments.py:52-55).
    Q(
      "agg_weighted_bias",
      (s, dir) => {
        val ev = t(s, dir, "events")
        val vc = round(col("value") * 100).cast("long")
        val num = (wsum(vc * vc).cast(DecimalType(38, 6)) / lit(10000L)).cast("double")
        val den = (wsum(vc).cast(DecimalType(38, 6)) / lit(100L)).cast("double")
        ev.groupBy("event_type")
          .agg(when(den === 0d, lit(null)).otherwise(round(num / den, 6)).as("biased_value"),
            count(lit(1)).as("n"))
          .orderBy("event_type")
      },
      Some("""
        SELECT event_type,
               CASE WHEN CAST(sum(CAST(value AS DECIMAL(30,6))) AS DOUBLE) = 0 THEN NULL
                    ELSE round(CAST(sum(CAST(value * value AS DECIMAL(30,6))) AS DOUBLE)
                             / CAST(sum(CAST(value AS DECIMAL(30,6))) AS DOUBLE), 6) END AS biased_value,
               count(*) AS n
        FROM events GROUP BY event_type ORDER BY event_type"""),
      doc = "A2 sum(x^2)/sum(x) max-biased mean; reference post_aspect_sentiments.py:52-55"),

    // A3/A4: Gaussian distance-weighted aggregate
    // (reference src/absa/post_aspect_sentiments.py:158-202, alpha=5).
    Q(
      "agg_gaussian_weight",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        val w = exp(-pow(col("l_linenumber").cast("double") / 5d, 2))
        li.groupBy("l_orderkey")
          .agg(
            round(sum(col("l_quantity") * col("l_quantity") * w) /
              sum(col("l_quantity") * w), 6).as("weighted_qty"),
            count(lit(1)).as("n_lines"))
          .filter(col("n_lines") >= 4)
          .orderBy("l_orderkey")
      },
      Some("""
        SELECT l_orderkey,
               round(sum(l_quantity * l_quantity * exp(-pow(CAST(l_linenumber AS DOUBLE)/5, 2)))
                   / sum(l_quantity * exp(-pow(CAST(l_linenumber AS DOUBLE)/5, 2))), 6) AS weighted_qty,
               count(*) AS n_lines
        FROM lineitem GROUP BY l_orderkey HAVING count(*) >= 4 ORDER BY l_orderkey"""),
      doc = "A3 Gaussian distance weighting exp(-(d/a)^2); reference post_aspect_sentiments.py:158-202"),

    // A6: mode / most-common-per-group via deterministic ranked window
    // (reference customer_characteristics migration_032.sql:31-49).
    Q(
      "agg_mode_per_group",
      (s, dir) => {
        val cnt = t(s, dir, "customer")
          .groupBy("c_nationkey", "c_mktsegment").agg(count(lit(1)).as("cnt"))
        val w = Window.partitionBy("c_nationkey")
          .orderBy(col("cnt").desc, col("c_mktsegment").asc)
        cnt.withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("c_nationkey"), col("c_mktsegment").as("most_common_segment"),
            col("cnt").as("segment_count"))
          .orderBy("c_nationkey")
      },
      Some("""
        SELECT c_nationkey, c_mktsegment AS most_common_segment, cnt AS segment_count
        FROM (SELECT c_nationkey, c_mktsegment, count(*) AS cnt,
                     row_number() OVER (PARTITION BY c_nationkey
                                        ORDER BY count(*) DESC, c_mktsegment ASC) AS rn
              FROM customer GROUP BY c_nationkey, c_mktsegment)
        WHERE rn = 1 ORDER BY c_nationkey"""),
      doc = "A6 array_agg-ordered mode; reference migration_032.sql:31-49"),

    // A8: daily entries rollup — prediction input
    // (reference src/visitor_prediction/predict.py:75-84).
    Q(
      "agg_daily_rollup",
      (s, dir) => {
        val ev = t(s, dir, "events")
        // Dates emitted as yyyy-MM-dd strings: a DATE column round-trips
        // differently through parquet (Spark) vs fetchdf (DuckDB).
        ev.filter(col("ts") > lit("2024-01-02").cast("timestamp"))
          .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"))
          .agg(dsum(col("value")).as("total_value"), count(lit(1)).as("n_events"))
          .orderBy("day")
      },
      Some("""
        SELECT strftime(ts, '%Y-%m-%d') AS day,
               CAST(sum(CAST(value AS DECIMAL(30,4))) AS DOUBLE) AS total_value,
               count(*) AS n_events
        FROM events WHERE ts > TIMESTAMP '2024-01-02'
        GROUP BY 1 ORDER BY day"""),
      doc = "A8 SELECT DATE(datetime), SUM(...) GROUP BY; reference predict.py:75-84"),

    // A14: log-report pivot (groupby + unstack) as conditional aggregation
    // (reference src/diagnostics/log_report.py:114-132).
    Q(
      "agg_pivot_report",
      (s, dir) => {
        val o = t(s, dir, "orders")
        o.groupBy("o_orderpriority")
          .agg(
            count(when(col("o_orderstatus") === "F", 1)).as("n_f"),
            count(when(col("o_orderstatus") === "O", 1)).as("n_o"),
            count(when(col("o_orderstatus") === "P", 1)).as("n_p"))
          .orderBy("o_orderpriority")
      },
      Some("""
        SELECT o_orderpriority,
               count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS n_f,
               count(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS n_o,
               count(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS n_p
        FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"""),
      doc = "A14 groupBy().pivot().count(); reference log_report.py:114-132"),

    // Exact distinct counts (the reference uses no approx-distinct —
    // SURVEY §2.5 note; migration_038.sql:157,177).
    Q(
      "agg_count_distinct",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        li.groupBy("l_returnflag")
          .agg(
            countDistinct(col("l_partkey")).as("n_parts"),
            countDistinct(col("l_suppkey")).as("n_supps"),
            count(lit(1)).as("n_rows"))
          .orderBy("l_returnflag")
      },
      Some("""
        SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts,
               count(DISTINCT l_suppkey) AS n_supps, count(*) AS n_rows
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""),
      doc = "A15/§2.5 exact COUNT(DISTINCT); reference migration_038.sql:157"),

    // A1 avg + stddev_samp rollup (reference post_sentiments.py:255-283).
    Q(
      "agg_avg_stddev",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        li.groupBy("l_returnflag", "l_linestatus")
          .agg(
            round(davg(col("l_discount")), 6).as("avg_disc"),
            round(stddev_samp(col("l_discount")), 6).as("stddev_disc"))
          .orderBy("l_returnflag", "l_linestatus")
      },
      Some("""
        SELECT l_returnflag, l_linestatus,
               round(CAST(sum(CAST(l_discount AS DECIMAL(30,4))) AS DOUBLE) / count(l_discount), 6) AS avg_disc,
               round(stddev_samp(l_discount), 6) AS stddev_disc
        FROM lineitem GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus"""),
      doc = "A1 avg/stddev sentiment rollup; reference post_sentiments.py:255-283"),

    // Exact interpolated percentiles per group (p50/p90/p99 of order value
    // by priority) — the distribution rollup a data-quality report needs.
    // Spark's `percentile` aggregate sorts within each group's partial
    // state; DuckDB's quantile_cont uses the same (n-1)*q linear
    // interpolation, so values are bit-comparable after rounding.
    Q(
      "agg_percentiles",
      (s, dir) => {
        val o = t(s, dir, "orders")
        o.groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n"),
            round(percentile(col("o_totalprice"), lit(0.5)), 6).as("p50"),
            round(percentile(col("o_totalprice"), lit(0.9)), 6).as("p90"),
            round(percentile(col("o_totalprice"), lit(0.99)), 6).as("p99"))
          .orderBy("o_orderpriority")
      },
      Some("""
        SELECT o_orderpriority, count(*) AS n,
               round(quantile_cont(o_totalprice, 0.5), 6) AS p50,
               round(quantile_cont(o_totalprice, 0.9), 6) AS p90,
               round(quantile_cont(o_totalprice, 0.99), 6) AS p99
        FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"""),
      doc = "exact interpolated percentiles per group (quantile_cont parity)"),

    // Equi-width histogram per group — the other distribution rollup
    // (percentiles above give tails; histograms give shape). All binning
    // is INTEGER arithmetic on cents: bin = (cents-lo)*16 ÷ (hi-lo+1)
    // (integer division, positive operands → identical in both engines),
    // so there is no FP boundary hazard where a value could fall in
    // different bins. The global (lo, hi) range is a 1-row aggregate
    // broadcast back over the scan — same shape as the BM25 corpus
    // stats: no keyed shuffle grows with data, the histogram aggregate
    // is O(groups × 16).
    Q(
      "agg_histogram",
      (s, dir) => {
        val o = t(s, dir, "orders")
          .select(col("o_orderpriority").as("pri"),
            round(col("o_totalprice") * 100).cast("long").as("cents"))
        val stats = o.agg(min("cents").as("lo"), max("cents").as("hi"))
        o.crossJoin(broadcast(stats))
          .withColumn("bin", expr("(cents - lo) * 16 DIV (hi - lo + 1)"))
          .groupBy("pri", "bin")
          .agg(count(lit(1)).as("n"))
          .crossJoin(broadcast(stats))
          .withColumn("bin_lo",
            expr("CAST(lo + (bin * (hi - lo + 1)) DIV 16 AS DOUBLE)") / 100.0)
          .select(col("pri"), col("bin"), col("bin_lo"), col("n"))
          .orderBy("pri", "bin")
      },
      Some("""
        WITH o AS (
          SELECT o_orderpriority AS pri,
                 CAST(round(o_totalprice * 100) AS BIGINT) AS cents
          FROM orders),
        st AS (SELECT min(cents) AS lo, max(cents) AS hi FROM o),
        b AS (
          SELECT pri, (cents - lo) * 16 // (hi - lo + 1) AS bin
          FROM o CROSS JOIN st)
        SELECT pri, bin,
               CAST(lo + (bin * (hi - lo + 1)) // 16 AS DOUBLE) / 100.0
                 AS bin_lo,
               count(*) AS n
        FROM b CROSS JOIN st
        GROUP BY pri, bin, lo, hi ORDER BY pri, bin"""),
      doc = "equi-width 16-bin histogram per group, integer-exact cents " +
        "binning; global range is a 1-row broadcast, aggregate is " +
        "O(groups x bins)"),

    // Subsampling confidence interval for the mean order value — the
    // hash-bucketed deterministic cousin of the Poisson bootstrap
    // (Chamandy et al. 2012, "Estimating Uncertainty for Massive Data
    // Streams": resample membership decided per (row, replicate) by a
    // hash, so the whole bootstrap is ONE map-side-combinable pass).
    // B=32 half-sample replicates: row r joins replicate b iff BIT b of
    // the row's single md5 digest is 0 — ONE hash per row (not per
    // row×replicate; the digest's first 8 nibbles carry all 32
    // membership bits), deterministic on both faces. Replicate means
    // come from exact centi-unit long sums; the CI is the 2nd/31st
    // order statistic of the 32 means (a ~94% subsampling interval).
    // Scale shape: one hash + explode ×32 is map-only work feeding a
    // 32-group partial aggregate — bounded state, no shuffle of the
    // fact beyond 32 rows.
    Q(
      "agg_bootstrap_ci",
      (s, dir) => {
        val o = t(s, dir, "orders").select(col("o_orderkey"),
          round(col("o_totalprice") * 100).cast("long").as("cents"))
        val reps = o
          .withColumn("h", md5(col("o_orderkey").cast("string")))
          .select(col("h"), col("cents"),
            explode(sequence(lit(0), lit(31))).as("b"))
          .filter(expr(
            "(shiftright(CAST(conv(substring(h, CAST(b DIV 4 AS INT) + 1, 1), " +
              "16, 10) AS INT), CAST(b % 4 AS INT)) & 1) = 0"))
          .groupBy("b")
          .agg((sum(col("cents")).cast("double") / count(lit(1)) / 100d)
            .as("m"))
        val ranked = reps.withColumn("r",
          row_number().over(Window.orderBy(col("m").asc, col("b").asc)))
        val full = o.agg((sum(col("cents")).cast("double") /
          count(lit(1)) / 100d).as("mean_full"),
          count(lit(1)).as("n_rows"))
        ranked.groupBy(lit(1).as("g"))
          .agg(count(lit(1)).as("n_reps"),
            max(when(col("r") === 2, col("m"))).as("lo"),
            max(when(col("r") === 31, col("m"))).as("hi"))
          .crossJoin(broadcast(full))
          .select(col("n_reps"), col("n_rows"),
            round(col("mean_full"), 4).as("mean_full"),
            round(col("lo"), 4).as("ci_lo"),
            round(col("hi"), 4).as("ci_hi"))
      },
      Some("""
        WITH o AS (
          SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT)
            AS cents
          FROM orders),
        reps AS (
          SELECT b, CAST(sum(cents) AS DOUBLE) / count(*) / 100 AS m
          FROM (SELECT md5(CAST(o_orderkey AS VARCHAR)) AS h, cents FROM o),
               (SELECT unnest(range(0, 32)) AS b) bs
          WHERE ((CAST(concat('0x', substr(h, CAST(b // 4 AS INT) + 1, 1))
                    AS INT) >> CAST(b % 4 AS INT)) & 1) = 0
          GROUP BY b),
        ranked AS (
          SELECT m, row_number() OVER (ORDER BY m ASC, b ASC) AS r
          FROM reps),
        fullm AS (
          SELECT CAST(sum(cents) AS DOUBLE) / count(*) / 100 AS mean_full,
                 count(*) AS n_rows
          FROM o)
        SELECT count(*) AS n_reps, any_value(n_rows) AS n_rows,
               round(any_value(mean_full), 4) AS mean_full,
               round(max(CASE WHEN r = 2 THEN m END), 4) AS ci_lo,
               round(max(CASE WHEN r = 31 THEN m END), 4) AS ci_hi
        FROM ranked, fullm"""),
      doc = "deterministic hash-bucketed bootstrap CI (Poisson-bootstrap " +
        "family): 32 md5-selected half-sample replicates in one " +
        "map-combinable pass, order-statistic interval from the 32 means"),

    // Welch's t-test per experiment cell (A/B analysis: variant =
    // user_id parity). ONE conditional-aggregation pass computes both
    // variants' n / Σx / Σx² as EXACT integers (scaled cents through the
    // codegen long-sum path); the t statistic and Welch–Satterthwaite df
    // are then derived by an identical chain of IEEE double ops on both
    // sides — every input to the chain is the same exact integer, and
    // +,-,*,/,sqrt are exact-rounded, so the doubles are bit-identical
    // with no tolerance needed (emitted unrounded). No per-variant
    // shuffle or self-join: the experiment readout is a single
    // O(cells)-sized aggregate at any event volume.
    Q(
      "agg_ab_ttest",
      (s, dir) => {
        val ev = t(s, dir, "events").select(col("event_type"),
          (col("user_id") % 2).as("v"),
          round(col("value") * 100).cast("long").as("cents"))
        def side(i: Int) = (
          count(when(col("v") === i, 1)).as(s"n$i"),
          wsum(when(col("v") === i, col("cents")).otherwise(lit(0L)))
            .cast("double").as(s"s$i"),
          wsum(when(col("v") === i, col("cents") * col("cents"))
            .otherwise(lit(0L))).cast("double").as(s"ss$i"))
        val (n0, s0, ss0) = side(0)
        val (n1, s1, ss1) = side(1)
        ev.groupBy("event_type").agg(n0, s0, ss0, n1, s1, ss1)
          .withColumn("m0", col("s0") / col("n0"))
          .withColumn("m1", col("s1") / col("n1"))
          .withColumn("var0", (col("ss0") - col("m0") * col("s0")) / (col("n0") - 1))
          .withColumn("var1", (col("ss1") - col("m1") * col("s1")) / (col("n1") - 1))
          .withColumn("se0", col("var0") / col("n0"))
          .withColumn("se1", col("var1") / col("n1"))
          .withColumn("t_stat",
            (col("m0") - col("m1")) / sqrt(col("se0") + col("se1")))
          .withColumn("df_welch",
            (col("se0") + col("se1")) * (col("se0") + col("se1")) /
              (col("se0") * col("se0") / (col("n0") - 1) +
               col("se1") * col("se1") / (col("n1") - 1)))
          .select(col("event_type"), col("n0"), col("n1"),
            (col("m0") / 100.0).as("mean0"), (col("m1") / 100.0).as("mean1"),
            col("t_stat"), col("df_welch"))
          .orderBy("event_type")
      },
      Some("""
        WITH base AS (
          SELECT event_type, user_id % 2 AS v,
                 CAST(round(value * 100) AS BIGINT) AS cents
          FROM events),
        g AS (
          SELECT event_type,
                 count(*) FILTER (WHERE v = 0) AS n0,
                 CAST(sum(CASE WHEN v = 0 THEN CAST(cents AS DECIMAL(38,0))
                               ELSE 0 END) AS DOUBLE) AS s0,
                 CAST(sum(CASE WHEN v = 0
                               THEN CAST(cents * cents AS DECIMAL(38,0))
                               ELSE 0 END) AS DOUBLE) AS ss0,
                 count(*) FILTER (WHERE v = 1) AS n1,
                 CAST(sum(CASE WHEN v = 1 THEN CAST(cents AS DECIMAL(38,0))
                               ELSE 0 END) AS DOUBLE) AS s1,
                 CAST(sum(CASE WHEN v = 1
                               THEN CAST(cents * cents AS DECIMAL(38,0))
                               ELSE 0 END) AS DOUBLE) AS ss1
          FROM base GROUP BY event_type),
        m AS (
          SELECT *, s0 / n0 AS m0, s1 / n1 AS m1 FROM g),
        vv AS (
          SELECT *, (ss0 - m0 * s0) / (n0 - 1) AS var0,
                    (ss1 - m1 * s1) / (n1 - 1) AS var1
          FROM m),
        se AS (
          SELECT *, var0 / n0 AS se0, var1 / n1 AS se1 FROM vv)
        SELECT event_type, n0, n1, m0 / 100.0 AS mean0, m1 / 100.0 AS mean1,
               (m0 - m1) / sqrt(se0 + se1) AS t_stat,
               (se0 + se1) * (se0 + se1) /
                 (se0 * se0 / (n0 - 1) + se1 * se1 / (n1 - 1)) AS df_welch
        FROM se ORDER BY event_type"""),
      doc = "Welch t-test per experiment cell from one conditional " +
        "aggregate (exact integer moments, bit-identical IEEE chain); " +
        "O(cells) result at any event volume"),

    // Robust outlier detection via median absolute deviation (the
    // z-score's heavy-tail-safe sibling; Iglewicz-Hoaglin cut |x-med| >
    // 3·MAD). Exactness: inputs are integer cents, so the interpolated
    // medians are midpoints of integers — exact binary fractions both
    // engines compute identically (quantile_cont parity is already
    // proven by agg_percentiles), deviations |cents−med| are exact
    // doubles, and the 3·MAD comparison is between exact values — no
    // tolerance anywhere. Two grouped percentile passes (values, then
    // deviations with the 1-row-per-group medians joined back — a
    // groups-sized broadcast at any volume) + one conditional count.
    Q(
      "agg_outlier_mad",
      (s, dir) => {
        val ev = t(s, dir, "events").select(col("event_type"),
          round(col("value") * 100).cast("long").as("cents"))
        val med = ev.groupBy("event_type")
          .agg(percentile(col("cents"), lit(0.5)).as("med"))
        val dev = ev.join(broadcast(med), "event_type")
          .withColumn("dev", abs(col("cents") - col("med")))
        val mad = dev.groupBy("event_type")
          .agg(count(lit(1)).as("n"), min(col("med")).as("med_c"),
            percentile(col("dev"), lit(0.5)).as("mad_c"))
        val out = dev
          .join(broadcast(mad.select(col("event_type"), col("mad_c"))),
            "event_type")
          .filter(col("dev") > col("mad_c") * 3)
          .groupBy("event_type").agg(count(lit(1)).as("n_outliers"))
        mad.join(out, Seq("event_type"), "left")
          .select(col("event_type"), col("n"),
            (col("med_c") / 100.0).as("median"),
            (col("mad_c") / 100.0).as("mad"),
            coalesce(col("n_outliers"), lit(0L)).as("n_outliers"))
          .orderBy("event_type")
      },
      Some("""
        WITH base AS (
          SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents
          FROM events),
        med AS (
          SELECT event_type, quantile_cont(cents, 0.5) AS med
          FROM base GROUP BY event_type),
        dev AS (
          SELECT b.event_type, b.cents, m.med,
                 abs(b.cents - m.med) AS dev
          FROM base b JOIN med m USING (event_type)),
        mad AS (
          SELECT event_type, quantile_cont(dev, 0.5) AS mad
          FROM dev GROUP BY event_type)
        SELECT d.event_type, count(*) AS n,
               any_value(d.med) / 100.0 AS median,
               any_value(m.mad) / 100.0 AS mad,
               CAST(count(*) FILTER (WHERE d.dev > m.mad * 3) AS BIGINT)
                 AS n_outliers
        FROM dev d JOIN mad m USING (event_type)
        GROUP BY d.event_type ORDER BY d.event_type"""),
      doc = "MAD robust outliers (|x-med| > 3*MAD), integer-exact " +
        "interpolated medians; two grouped percentile passes with " +
        "groups-sized broadcasts, one conditional count"),

    // Chi-square independence test on a 2x2 contingency table per
    // experiment cell (variant = user parity, outcome = cents parity) —
    // the categorical sibling of agg_ab_ttest. All four cell counts come
    // from ONE conditional aggregate; chi2 and the phi coefficient are
    // then a FIXED closed-form expression over the four counts (the 2x2
    // closed form N·(ad−bc)²/(r0·r1·c0·c1) — no per-cell sum whose
    // association order could differ between engines). Counts are cast
    // to DOUBLE before multiplying (cell products overflow int64 at
    // ~1e10 rows/cell; the double chain is op-identical both sides, so
    // results stay bit-comparable at every scale).
    Q(
      "agg_chi2_2x2",
      (s, dir) => {
        val ev = t(s, dir, "events").select(col("event_type"),
          (col("user_id") % 2).as("v"),
          (round(col("value") * 100).cast("long") % 2).as("o"))
        def cell(v: Int, o: Int) =
          count(when(col("v") === v && col("o") === o, 1))
            .cast("double").as(s"n$v$o")
        ev.groupBy("event_type")
          .agg(cell(0, 0), cell(0, 1), cell(1, 0), cell(1, 1))
          .withColumn("nn",
            col("n00") + col("n01") + col("n10") + col("n11"))
          .withColumn("d",
            col("n00") * col("n11") - col("n01") * col("n10"))
          .withColumn("den",
            (col("n00") + col("n01")) * (col("n10") + col("n11")) *
              ((col("n00") + col("n10")) * (col("n01") + col("n11"))))
          .withColumn("chi2", col("nn") * col("d") * col("d") / col("den"))
          .withColumn("phi", col("d") / sqrt(col("den")))
          .select(col("event_type"),
            col("n00").cast("long").as("n00"),
            col("n01").cast("long").as("n01"),
            col("n10").cast("long").as("n10"),
            col("n11").cast("long").as("n11"),
            col("chi2"), col("phi"))
          .orderBy("event_type")
      },
      Some("""
        WITH base AS (
          SELECT event_type, user_id % 2 AS v,
                 CAST(round(value * 100) AS BIGINT) % 2 AS o
          FROM events),
        g AS (
          SELECT event_type,
                 CAST(count(*) FILTER (WHERE v = 0 AND o = 0) AS DOUBLE) AS n00,
                 CAST(count(*) FILTER (WHERE v = 0 AND o = 1) AS DOUBLE) AS n01,
                 CAST(count(*) FILTER (WHERE v = 1 AND o = 0) AS DOUBLE) AS n10,
                 CAST(count(*) FILTER (WHERE v = 1 AND o = 1) AS DOUBLE) AS n11
          FROM base GROUP BY event_type),
        e AS (
          SELECT *, n00 + n01 + n10 + n11 AS nn,
                 n00 * n11 - n01 * n10 AS d,
                 (n00 + n01) * (n10 + n11) * ((n00 + n10) * (n01 + n11))
                   AS den
          FROM g)
        SELECT event_type,
               CAST(n00 AS BIGINT) AS n00, CAST(n01 AS BIGINT) AS n01,
               CAST(n10 AS BIGINT) AS n10, CAST(n11 AS BIGINT) AS n11,
               nn * d * d / den AS chi2,
               d / sqrt(den) AS phi
        FROM e ORDER BY event_type"""),
      doc = "chi-square 2x2 independence test per cell: one conditional " +
        "aggregate + closed-form chi2/phi (no association-order hazard), " +
        "bit-comparable double chain"),

    // Shannon entropy / perplexity of the behavior mix per user cohort
    // (diversity metric — the mixture-health readout of a sampling
    // pipeline). The event-type domain is a fixed enum, so the entropy
    // sum is a CLOSED-FORM left-associated chain over 5 conditional
    // counts from ONE aggregate — no data-dependent summation order to
    // diverge on (summing p·ln p per-row and aggregating would make the
    // result depend on shuffle arrival order). Zero counts contribute 0
    // (the 0·ln0 limit), guarded identically on both sides.
    Q(
      "agg_entropy_mix",
      (s, dir) => {
        val types = Seq("click", "error", "purchase", "signup", "view")
        val ev = t(s, dir, "events")
          .select((col("user_id") % 10).as("cohort"), col("event_type"))
        val cells = types.map(tp =>
          count(when(col("event_type") === tp, 1)).as(s"n_$tp"))
        def term(tp: String) = {
          val p = col(s"n_$tp").cast("double") / col("n").cast("double")
          when(col(s"n_$tp") === 0, 0.0).otherwise(p * log(p))
        }
        ev.groupBy("cohort")
          .agg(count(lit(1)).as("n"), cells: _*)
          .withColumn("entropy",
            -types.map(term).reduce(_ + _))
          .withColumn("perplexity", exp(col("entropy")))
          .select(col("cohort") +: col("n") +:
            types.map(tp => col(s"n_$tp")) :+
            col("entropy") :+ col("perplexity"): _*)
          .orderBy("cohort")
      },
      Some("""
        WITH g AS (
          SELECT user_id % 10 AS cohort, count(*) AS n,
                 count(*) FILTER (WHERE event_type = 'click') AS n_click,
                 count(*) FILTER (WHERE event_type = 'error') AS n_error,
                 count(*) FILTER (WHERE event_type = 'purchase') AS n_purchase,
                 count(*) FILTER (WHERE event_type = 'signup') AS n_signup,
                 count(*) FILTER (WHERE event_type = 'view') AS n_view
          FROM events GROUP BY 1),
        e AS (
          SELECT *,
            -((((
              (CASE WHEN n_click = 0 THEN 0.0 ELSE
                (CAST(n_click AS DOUBLE) / CAST(n AS DOUBLE)) *
                ln(CAST(n_click AS DOUBLE) / CAST(n AS DOUBLE)) END)
              + (CASE WHEN n_error = 0 THEN 0.0 ELSE
                (CAST(n_error AS DOUBLE) / CAST(n AS DOUBLE)) *
                ln(CAST(n_error AS DOUBLE) / CAST(n AS DOUBLE)) END))
              + (CASE WHEN n_purchase = 0 THEN 0.0 ELSE
                (CAST(n_purchase AS DOUBLE) / CAST(n AS DOUBLE)) *
                ln(CAST(n_purchase AS DOUBLE) / CAST(n AS DOUBLE)) END))
              + (CASE WHEN n_signup = 0 THEN 0.0 ELSE
                (CAST(n_signup AS DOUBLE) / CAST(n AS DOUBLE)) *
                ln(CAST(n_signup AS DOUBLE) / CAST(n AS DOUBLE)) END))
              + (CASE WHEN n_view = 0 THEN 0.0 ELSE
                (CAST(n_view AS DOUBLE) / CAST(n AS DOUBLE)) *
                ln(CAST(n_view AS DOUBLE) / CAST(n AS DOUBLE)) END))
              AS entropy
          FROM g)
        SELECT cohort, n, n_click, n_error, n_purchase, n_signup, n_view,
               entropy, exp(entropy) AS perplexity
        FROM e ORDER BY cohort"""),
      doc = "Shannon entropy + perplexity of the per-cohort behavior mix " +
        "via a closed-form fixed-order chain over one conditional " +
        "aggregate (no shuffle-order dependence)"),

    // KMV/theta-sketch audience OVERLAP — the set operation HLL cannot
    // do (HLL unions; it cannot intersect). Each event type keeps its
    // k=32 smallest distinct user-hash values (built through the custom
    // TopKPerKey operator — per-key bounded heaps, k rows per type);
    // distinct-count estimate is the KMV (k-1)/theta estimator, and the
    // pairwise overlap estimate is |Sa ∩ Sb < min(theta)| / min(theta)
    // (Beyer et al. 2007 / theta-sketch intersection). The user hash is
    // the engine's murmur3_seeded over a FIXED-width padded id, so the
    // oracle replays the whole sketch with the independent DuckDB-SQL
    // murmur3 (Mm3Sql) — sketch contents, thetas, estimates and the
    // error-contract flags all value-compare. Deterministic end to end:
    // no RNG, the "randomness" is the hash. Scale: sketches are k rows
    // per group (mergeable, O(groups·k) state); the only corpus-sized
    // work is the distinct (type, user) projection.
    Q(
      "agg_theta_overlap",
      (s, dir) => {
        val k = 32
        // Per-type salted subset (drop ~1/4 of users per type, salt =
        // first letter) so the pairwise overlaps actually DIFFER — the
        // raw fixture has every type touching every user, which would
        // exercise only the trivial full-overlap case.
        val tu = t(s, dir, "events")
          .select(col("event_type").as("tp"), col("user_id")).distinct()
          .filter((col("user_id") + ascii(substring(col("tp"), 1, 1))) % 4
            =!= 0)
          .localCheckpoint()
        val uh = tu.select("user_id").distinct()
          .withColumn("pad", lpad(col("user_id").cast("string"), 8, "0"))
          .withColumn("h", expr("murmur3_seeded(pad, 42)"))
          .withColumn("uh",
            (col("h").cast("long") + 4294967296L) % 4294967296L)
          .select("user_id", "uh")
        val du = tu.join(uh, "user_id").select("tp", "uh").distinct()
        val sk = graft.plans.TopK.perKey(du, Seq("tp"), Seq(("uh", true)), k)
          .localCheckpoint()
        val st = sk.groupBy("tp")
          .agg(count(lit(1)).as("n_sk"), max("uh").as("theta"))
        val exact = tu.groupBy("tp")
          .agg(countDistinct("user_id").as("n_exact"))
        val est = st.join(exact, "tp")
          .withColumn("est",
            when(col("n_sk") < k, col("n_sk").cast("double"))
              .otherwise(lit(133143986176.0) / col("theta").cast("double")))
        val grid = est.select(col("tp").as("tp_a"), col("theta").as("th_a"),
            col("est").as("est_a"), col("n_exact").as("n_a"))
          .crossJoin(est.select(col("tp").as("tp_b"), col("theta").as("th_b"),
            col("est").as("est_b"), col("n_exact").as("n_b")))
          .filter(col("tp_a") < col("tp_b"))
        val com = sk.as("x")
          .join(sk.as("y"), col("x.uh") === col("y.uh") &&
            col("x.tp") < col("y.tp"))
          .select(col("x.tp").as("tp_a"), col("y.tp").as("tp_b"),
            col("x.uh").as("uh"))
          .join(grid.select("tp_a", "tp_b", "th_a", "th_b"),
            Seq("tp_a", "tp_b"))
          .filter(col("uh") < least(col("th_a"), col("th_b")))
          .groupBy("tp_a", "tp_b").agg(count(lit(1)).as("common"))
        val exOv = tu.as("p")
          .join(tu.as("q"), col("p.user_id") === col("q.user_id") &&
            col("p.tp") < col("q.tp"))
          .groupBy(col("p.tp").as("tp_a"), col("q.tp").as("tp_b"))
          .agg(countDistinct(col("p.user_id")).as("exact_overlap"))
        grid.join(com, Seq("tp_a", "tp_b"), "left")
          .join(exOv, Seq("tp_a", "tp_b"), "left")
          .withColumn("common", coalesce(col("common"), lit(0L)))
          .withColumn("exact_overlap", coalesce(col("exact_overlap"), lit(0L)))
          .withColumn("est_overlap",
            col("common").cast("double") * 4294967296.0 /
              least(col("th_a"), col("th_b")).cast("double"))
          .withColumn("ok_a", abs(col("est_a") - col("n_a").cast("double"))
            <= col("n_a").cast("double") * 0.5 + 16.0)
          .withColumn("ok_b", abs(col("est_b") - col("n_b").cast("double"))
            <= col("n_b").cast("double") * 0.5 + 16.0)
          .withColumn("ok_overlap",
            abs(col("est_overlap") - col("exact_overlap").cast("double"))
              <= col("exact_overlap").cast("double") * 0.6 + 64.0)
          .select(col("tp_a"), col("tp_b"), col("n_a"), col("n_b"),
            col("exact_overlap"), col("est_a"), col("est_b"),
            col("est_overlap"), col("ok_a"), col("ok_b"), col("ok_overlap"))
          .orderBy("tp_a", "tp_b")
      },
      Some(s"""
        WITH uu AS (SELECT DISTINCT user_id FROM events),
        raw AS (SELECT user_id AS k,
                       lpad(CAST(user_id AS VARCHAR), 8, '0') AS pad
                FROM uu),
        ${graft.queries.Mm3Sql.chain("raw", "k", "pad", 8, 42L, "m")},
        hh AS (SELECT k AS user_id,
                      (hash + 4294967296) % 4294967296 AS uh
               FROM m_fin),
        tu AS (SELECT tp, user_id FROM (
                 SELECT DISTINCT event_type AS tp, user_id FROM events)
               WHERE (user_id + unicode(substr(tp, 1, 1))) % 4 <> 0),
        du AS (SELECT DISTINCT tp, uh FROM tu JOIN hh USING (user_id)),
        sk AS (SELECT tp, uh FROM (
                 SELECT tp, uh, row_number() OVER (PARTITION BY tp
                          ORDER BY uh) AS rn
                 FROM du)
               WHERE rn <= 32),
        st AS (SELECT tp, CAST(count(*) AS BIGINT) AS n_sk, max(uh) AS theta
               FROM sk GROUP BY tp),
        ex AS (SELECT tp, CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact
               FROM tu GROUP BY tp),
        est AS (SELECT tp, n_sk, theta, n_exact,
                       CASE WHEN n_sk < 32 THEN CAST(n_sk AS DOUBLE)
                            ELSE 133143986176.0 / CAST(theta AS DOUBLE)
                       END AS est
                FROM st JOIN ex USING (tp)),
        grid AS (SELECT a.tp AS tp_a, b.tp AS tp_b,
                        a.theta AS th_a, b.theta AS th_b,
                        a.est AS est_a, b.est AS est_b,
                        a.n_exact AS n_a, b.n_exact AS n_b
                 FROM est a JOIN est b ON a.tp < b.tp),
        com AS (SELECT g.tp_a, g.tp_b, CAST(count(*) AS BIGINT) AS common
                FROM grid g
                JOIN sk x ON x.tp = g.tp_a
                JOIN sk y ON y.tp = g.tp_b AND y.uh = x.uh
                WHERE x.uh < least(g.th_a, g.th_b)
                GROUP BY 1, 2),
        ov AS (SELECT p.tp AS tp_a, q.tp AS tp_b,
                      CAST(count(DISTINCT p.user_id) AS BIGINT)
                        AS exact_overlap
               FROM tu p JOIN tu q ON p.user_id = q.user_id AND p.tp < q.tp
               GROUP BY 1, 2),
        fin AS (
          SELECT g.tp_a, g.tp_b, g.n_a, g.n_b,
                 coalesce(ov.exact_overlap, 0) AS exact_overlap,
                 g.est_a, g.est_b,
                 CAST(coalesce(com.common, 0) AS DOUBLE) * 4294967296.0 /
                   CAST(least(g.th_a, g.th_b) AS DOUBLE) AS est_overlap
          FROM grid g
          LEFT JOIN com ON com.tp_a = g.tp_a AND com.tp_b = g.tp_b
          LEFT JOIN ov ON ov.tp_a = g.tp_a AND ov.tp_b = g.tp_b)
        SELECT tp_a, tp_b, n_a, n_b, exact_overlap, est_a, est_b,
               est_overlap,
               abs(est_a - CAST(n_a AS DOUBLE))
                 <= CAST(n_a AS DOUBLE) * 0.5 + 16.0 AS ok_a,
               abs(est_b - CAST(n_b AS DOUBLE))
                 <= CAST(n_b AS DOUBLE) * 0.5 + 16.0 AS ok_b,
               abs(est_overlap - CAST(exact_overlap AS DOUBLE))
                 <= CAST(exact_overlap AS DOUBLE) * 0.6 + 64.0 AS ok_overlap
        FROM fin ORDER BY tp_a, tp_b"""),
      doc = "KMV/theta-sketch distinct + pairwise INTERSECTION estimates " +
        "with error-contract flags, sketches built via the custom " +
        "TopKPerKey operator and fully replayed by the DuckDB murmur3 " +
        "oracle — the O(groups x k) overlap path at 100 TB"),

    // Market-basket association rules (support / confidence / lift) at
    // the brand level. Pair generation is the basket self-join on the
    // order key — NATURALLY bounded: a basket holds at most
    // |brand domain| distinct brands, so pairs per order are
    // O(brands²) = constant, never O(items²) unbounded (the same
    // blocking argument as the co-interaction graph). Item counts, the
    // order total (1-row broadcast), and pair counts are exact
    // integers; support/confidence/lift are fixed-order double chains
    // over them. Ranking by (n_ab desc, pair) is integer-deterministic.
    Q(
      "agg_market_basket",
      (s, dir) => {
        val li = t(s, dir, "lineitem").select("l_orderkey", "l_partkey")
        val brands = broadcast(t(s, dir, "part")
          .select(col("p_partkey"), col("p_brand")))
        // ONE oid shuffle builds the per-order item-set frame
        // (collect_set dedups in the aggregate — no separate DISTINCT);
        // everything downstream (order count, item counts, pair counts)
        // derives from it with expressions and tiny aggregates. The
        // earlier form re-derived the distinct basket four times and
        // self-joined it on oid — 4 corpus shuffles instead of 1.
        val items = li.join(brands, col("l_partkey") === col("p_partkey"))
          .groupBy(col("l_orderkey").as("oid"))
          .agg(sort_array(collect_set(col("p_brand"))).as("its"))
        val nOrders = items.agg(count(lit(1)).as("n_orders"))
        val itemN = items.select(explode(col("its")).as("item"))
          .groupBy("item").agg(count(lit(1)).as("cnt"))
        val pairs = items.filter(size(col("its")) >= 2)
          .select(explode(expr(
            "flatten(transform(sequence(0, size(its) - 2), " +
              "i -> transform(sequence(i + 1, size(its) - 1), " +
              "j -> struct(its[i] AS item_a, its[j] AS item_b))))")).as("p"))
          .groupBy(col("p.item_a").as("item_a"), col("p.item_b").as("item_b"))
          .agg(count(lit(1)).as("n_ab"))
        pairs
          .join(itemN.select(col("item").as("item_a"), col("cnt").as("n_a")),
            "item_a")
          .join(itemN.select(col("item").as("item_b"), col("cnt").as("n_b")),
            "item_b")
          .crossJoin(broadcast(nOrders))
          .withColumn("support",
            col("n_ab").cast("double") / col("n_orders").cast("double"))
          .withColumn("confidence",
            col("n_ab").cast("double") / col("n_a").cast("double"))
          .withColumn("lift",
            col("n_ab").cast("double") * col("n_orders").cast("double") /
              (col("n_a").cast("double") * col("n_b").cast("double")))
          .select(col("item_a"), col("item_b"), col("n_ab"), col("n_a"),
            col("n_b"), col("support"), col("confidence"), col("lift"))
          .orderBy(col("n_ab").desc, col("item_a"), col("item_b"))
          .limit(25)
      },
      Some("""
        WITH basket AS (
          SELECT DISTINCT l_orderkey AS oid, p_brand AS item
          FROM lineitem JOIN part ON l_partkey = p_partkey),
        tot AS (SELECT CAST(count(DISTINCT oid) AS BIGINT) AS n_orders
                FROM basket),
        itemn AS (SELECT item, count(*) AS cnt FROM basket GROUP BY item),
        pairs AS (
          SELECT a.item AS item_a, b.item AS item_b, count(*) AS n_ab
          FROM basket a JOIN basket b
            ON a.oid = b.oid AND a.item < b.item
          GROUP BY 1, 2)
        SELECT item_a, item_b, n_ab, na.cnt AS n_a, nb.cnt AS n_b,
               CAST(n_ab AS DOUBLE) / CAST(n_orders AS DOUBLE) AS support,
               CAST(n_ab AS DOUBLE) / CAST(na.cnt AS DOUBLE) AS confidence,
               CAST(n_ab AS DOUBLE) * CAST(n_orders AS DOUBLE) /
                 (CAST(na.cnt AS DOUBLE) * CAST(nb.cnt AS DOUBLE)) AS lift
        FROM pairs
        JOIN itemn na ON na.item = item_a
        JOIN itemn nb ON nb.item = item_b
        CROSS JOIN tot
        ORDER BY n_ab DESC, item_a, item_b LIMIT 25"""),
      doc = "market-basket association rules (support/confidence/lift) " +
        "over brand baskets: pair self-join bounded by the brand domain, " +
        "exact integer counts, fixed-order double metrics"),

    // ROLLUP grouping sets: subtotal + grand-total rows in one pass
    // (Spark plans this as a single Expand + hash aggregate — one shuffle
    // for all three grouping levels, not three jobs). Grouping nulls are
    // rendered '(all)' for a deterministic compare (the grouped columns
    // themselves are never null in this data).
    Q(
      "agg_rollup_sets",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        li.rollup("l_returnflag", "l_linestatus")
          .agg(count(lit(1)).as("n_rows"), dsum(col("l_quantity")).as("sum_qty"))
          .select(coalesce(col("l_returnflag"), lit("(all)")).as("rf"),
            coalesce(col("l_linestatus"), lit("(all)")).as("ls"),
            col("n_rows"), col("sum_qty"))
          .orderBy("rf", "ls")
      },
      Some("""
        SELECT coalesce(l_returnflag, '(all)') AS rf,
               coalesce(l_linestatus, '(all)') AS ls,
               count(*) AS n_rows,
               CAST(sum(CAST(l_quantity AS DECIMAL(30,4))) AS DOUBLE) AS sum_qty
        FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        ORDER BY rf, ls"""),
      doc = "ROLLUP grouping sets (detail + subtotal + grand total) in one " +
        "Expand + single-shuffle aggregate"),

    // Sketch aggregates with a VERIFIED error contract — the 100 TB
    // cardinality/quantile path. approx_count_distinct is HLL++ and
    // percentile_approx is a GK quantile summary: both are fixed-size
    // mergeable state (map-side partials, no per-value shuffle), which is
    // what replaces exact COUNT(DISTINCT)/percentile when the value set
    // itself is too big to shuffle. The query computes sketch AND exact
    // per group and emits the bound checks (HLL within 5% of exact;
    // approx p50 within 5% of the group's value range); the oracle
    // recomputes the exact columns and expects every contract flag TRUE —
    // so the sketches' accuracy is value-gated, not taken on faith.
    Q(
      "agg_sketch_contract",
      (s, dir) => {
        val d = th(s, dir, "documents")
        val tok = d.select(col("lang"), explode(CurationDefs.toks).as("w"))
          .groupBy("lang")
          .agg(countDistinct(col("w")).as("n_distinct"),
            approx_count_distinct(col("w"), 0.02).as("hll"))
        val doc = d.groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            round(percentile(col("n_chars"), lit(0.5)), 6).as("p50"),
            percentile_approx(col("n_chars"), lit(0.5), lit(10000)).as("p50a"),
            min(col("n_chars")).as("lo"), max(col("n_chars")).as("hi"))
        tok.join(doc, Seq("lang"))
          .select(col("lang"), col("n_docs"), col("n_distinct"),
            (abs(col("hll") - col("n_distinct")) <=
              ceil(col("n_distinct") * 0.05)).as("hll_ok"),
            col("p50"),
            (abs(col("p50a") - col("p50")) <=
              (col("hi") - col("lo")) * 0.05 + 1e-9).as("p50_ok"))
          .orderBy("lang")
      },
      Some("""
        WITH tok AS (
          SELECT lang, unnest(string_split_regex(lower(text), '\s+')) AS w
          FROM documents),
        td AS (SELECT lang, count(DISTINCT w) AS n_distinct FROM tok GROUP BY 1),
        dd AS (SELECT lang, count(*) AS n_docs,
                      round(quantile_cont(n_chars, 0.5), 6) AS p50
               FROM documents GROUP BY 1)
        SELECT lang, n_docs, n_distinct, TRUE AS hll_ok, p50, TRUE AS p50_ok
        FROM td JOIN dd USING (lang)
        ORDER BY lang"""),
      doc = "HLL++ approx-distinct + GK approx-percentile next to their " +
        "exact twins, with the error contract value-gated by the oracle"),

    // Misra–Gries heavy hitters (custom mergeable TypedImperativeAggregate,
    // graft.functions.MisraGriesAgg) — the O(k)-state frequent-items path
    // that replaces exact top-N when the item set is too big to shuffle.
    // k=8 counters against a 31-token vocabulary keeps the summary under
    // constant eviction pressure, and the query value-gates the two
    // THEOREMS that hold on any data and any merge tree (underestimate:
    // 0 <= exact - est <= N/(k+1) for all summary items; coverage: every
    // item with exact > N/(k+1) is present), not the layout-dependent
    // sketch rows. n_heavy documents how many guaranteed-coverage items
    // this near-uniform corpus has (0 — the bound gate still bites via
    // the constant decrements); top-k RECOVERY on a skewed stream is
    // proven on a planted Zipf fixture in MisraGriesSpec.
    Q(
      "agg_heavy_hitters",
      (s, dir) => {
        val K = 8
        val tok = th(s, dir, "documents")
          .select(col("lang"), explode(CurationDefs.toks).as("w"))
        val sk = tok.groupBy("lang")
          .agg(expr(s"misra_gries(w, $K)").as("sketch"),
            count(lit(1)).as("n_tok"))
        val exact = tok.groupBy("lang", "w").agg(count(lit(1)).as("n"))
        val items = sk
          .select(col("lang"), col("n_tok"), explode(col("sketch")).as("it"))
          .select(col("lang"), col("n_tok"),
            col("it.item").as("w"), col("it.est").as("est"))
          .join(exact, Seq("lang", "w"))
        val bound = items.groupBy("lang").agg(
          min(col("est") <= col("n") &&
            (col("n") - col("est")) * (K + 1) <= col("n_tok")).as("bound_ok"))
        val cov = exact.join(sk.select("lang", "n_tok"), "lang")
          .filter(col("n") * (K + 1) > col("n_tok"))
          .join(items.select(col("lang"), col("w")).withColumn("in_sk", lit(true)),
            Seq("lang", "w"), "left")
          .groupBy("lang")
          .agg(count(lit(1)).as("n_heavy"),
            min(coalesce(col("in_sk"), lit(false))).as("present_ok"))
        val w5 = Window.partitionBy("lang").orderBy(col("n").desc, col("w"))
        exact.withColumn("rk", row_number().over(w5)).filter(col("rk") <= 5)
          .join(sk.select("lang", "n_tok"), "lang")
          .join(bound, "lang")
          .join(cov, Seq("lang"), "left")
          .select(col("lang"), col("rk"), col("w"), col("n"), col("n_tok"),
            coalesce(col("n_heavy"), lit(0L)).as("n_heavy"),
            col("bound_ok"),
            coalesce(col("present_ok"), lit(true)).as("present_ok"))
          .orderBy("lang", "rk")
      },
      Some("""
        WITH tok AS (
          SELECT lang, unnest(string_split_regex(lower(text), '\s+')) AS w
          FROM documents),
        ex AS (SELECT lang, w, count(*) AS n FROM tok GROUP BY 1, 2),
        nt AS (SELECT lang, count(*) AS n_tok FROM tok GROUP BY 1),
        hv AS (SELECT ex.lang, count(*) AS n_heavy
               FROM ex JOIN nt ON ex.lang = nt.lang
               WHERE ex.n * 9 > nt.n_tok GROUP BY 1),
        top AS (SELECT lang, w, n,
                       row_number() OVER (PARTITION BY lang ORDER BY n DESC, w) AS rk
                FROM ex)
        SELECT top.lang AS lang, rk, w, n, n_tok,
               coalesce(n_heavy, 0) AS n_heavy,
               TRUE AS bound_ok, TRUE AS present_ok
        FROM top JOIN nt ON top.lang = nt.lang
                 LEFT JOIN hv ON top.lang = hv.lang
        WHERE rk <= 5 ORDER BY lang, rk"""),
      doc = "Misra-Gries heavy-hitters summary (custom mergeable Catalyst " +
        "aggregate, O(k) state per group) with its theorem bounds " +
        "value-gated by the oracle next to the exact top-5"),

    // Cohort retention matrix: users grouped by first-active week, then
    // per (cohort, week-offset) the share still active — the
    // visitor-retention report the reference's museum analytics runs on
    // bookings (gomus customer history). Plan shape: ONE distinct over
    // (user, week) — both later groupings aggregate that already-small
    // frame — the cohort-size frame is broadcast back, and offsets are
    // exact integer week arithmetic (both engines truncate the same
    // multiples of 7). At scale the only corpus-sized pass is the
    // distinct; everything after is O(users).
    Q(
      "agg_retention_cohorts",
      (s, dir) => {
        val ev = t(s, dir, "events")
        val uw = ev.select(col("user_id"),
          date_trunc("week", col("ts")).as("wk")).distinct()
        val cohort = uw.groupBy("user_id").agg(min(col("wk")).as("cw"))
        val sizes = cohort.groupBy("cw")
          .agg(count(lit(1)).as("cohort_n"))
        uw.join(cohort, "user_id")
          .withColumn("week_offset",
            (datediff(col("wk"), col("cw")) / 7).cast("int"))
          .groupBy("cw", "week_offset")
          .agg(count(lit(1)).as("n_active"))
          .join(broadcast(sizes), "cw")
          .select(date_format(col("cw"), "yyyy-MM-dd").as("cohort_week"),
            col("week_offset"), col("n_active"),
            round(col("n_active").cast("double") / col("cohort_n"), 6)
              .as("retention"))
          .orderBy("cohort_week", "week_offset")
      },
      Some("""
        WITH uw AS (
          SELECT DISTINCT user_id, date_trunc('week', ts) AS wk FROM events),
        cohort AS (SELECT user_id, min(wk) AS cw FROM uw GROUP BY 1),
        sizes AS (SELECT cw, count(*) AS cohort_n FROM cohort GROUP BY 1),
        act AS (
          SELECT cw, CAST(date_diff('day', cw, wk) / 7 AS INT) AS week_offset,
                 count(*) AS n_active
          FROM uw JOIN cohort USING (user_id)
          GROUP BY 1, 2)
        SELECT strftime(act.cw, '%Y-%m-%d') AS cohort_week, week_offset,
               n_active, round(n_active * 1.0 / cohort_n, 6) AS retention
        FROM act JOIN sizes ON act.cw = sizes.cw
        ORDER BY cohort_week, week_offset"""),
      doc = "weekly cohort retention matrix (first-active week x offset, " +
        "share of cohort active): one corpus-sized distinct, then " +
        "O(users) aggregates with the cohort sizes broadcast back"),

    // Kaplan-Meier retention survival — the censoring-aware version of
    // the retention matrix above (a user still active in the final
    // observed week hasn't churned; counting them as churn biases S(t)
    // down). Discrete KM over weekly activity spans: per offset t,
    // n_t = users whose span reaches t (at risk), d_t = users whose
    // span ENDS at t and whose last week is before the observation
    // horizon (true churn; horizon-enders are censored);
    // S(t) = Π_{i≤t} (1 − d_i/n_i). The corpus-sized work is ONE
    // per-user span aggregate; the KM frame is offset-sized (weeks),
    // and the running product folds over the offset-sorted array — the
    // same deterministic-order trick as the EWMA fold, scalar
    // accumulator (safe in DuckDB's list_reduce). Survival emitted
    // unrounded: every factor is an exact-rounded division and the fold
    // order is identical on both sides.
    Q(
      "agg_survival_km",
      (s, dir) => {
        val ev = t(s, dir, "events")
        val spans = ev.select(col("user_id"),
            floor(datediff(to_date(col("ts")),
              lit("2024-01-01").cast("date")) / 7).cast("long").as("wk"))
          .groupBy("user_id")
          .agg(min("wk").as("w0"), max("wk").as("w1"))
        val horizon = spans.agg(max("w1").as("hmax"))
        val perUser = spans.crossJoin(broadcast(horizon))
          .withColumn("span", col("w1") - col("w0"))
          .withColumn("censored", col("w1") === col("hmax"))
        // d_t and n_t from one offset-exploded aggregate:
        val km = perUser
          .select(col("span"), col("censored"),
            explode(sequence(lit(0L), col("span"))).as("t"))
          .groupBy("t")
          .agg(count(lit(1)).as("n_risk"),
            count(when(col("span") === col("t") && !col("censored"), 1))
              .as("d_churn"))
          .withColumn("factor",
            lit(1.0) - col("d_churn").cast("double") /
              col("n_risk").cast("double"))
        km.agg(array_sort(collect_list(
            struct(col("t"), col("n_risk"), col("d_churn"), col("factor"))))
            .as("fs"))
          .select(explode(expr(
            "transform(fs, (e, j) -> struct(e.t AS t, e.n_risk AS n_risk, " +
              "e.d_churn AS d_churn, " +
              "aggregate(slice(fs, 2, j), fs[0].factor, " +
              "(acc, e2) -> acc * e2.factor) AS survival))")).as("r"))
          .select(col("r.t").as("t"), col("r.n_risk").as("n_risk"),
            col("r.d_churn").as("d_churn"), col("r.survival").as("survival"))
          .orderBy("t")
      },
      Some("""
        WITH spans AS (
          SELECT user_id, min(wk) AS w0, max(wk) AS w1 FROM (
            SELECT user_id,
                   CAST(floor(datediff('day', DATE '2024-01-01',
                     CAST(ts AS DATE)) / 7) AS BIGINT) AS wk
            FROM events)
          GROUP BY user_id),
        horizon AS (SELECT max(w1) AS hmax FROM spans),
        per_user AS (
          SELECT user_id, w1 - w0 AS span, w1 = hmax AS censored
          FROM spans CROSS JOIN horizon),
        km AS (
          SELECT t, CAST(count(*) AS BIGINT) AS n_risk,
                 CAST(count(*) FILTER (WHERE span = t AND NOT censored)
                   AS BIGINT) AS d_churn
          FROM per_user,
               LATERAL (SELECT unnest(range(0, span + 1)) AS t)
          GROUP BY t),
        fs AS (
          SELECT list(struct_pack(t := t, n_risk := n_risk,
                   d_churn := d_churn,
                   factor := 1.0 - CAST(d_churn AS DOUBLE) /
                             CAST(n_risk AS DOUBLE)) ORDER BY t) AS fs
          FROM km)
        SELECT fs[j].t AS t, fs[j].n_risk AS n_risk,
               fs[j].d_churn AS d_churn,
               list_reduce(list_transform(fs[1:j], e -> e.factor),
                 (a, b) -> a * b) AS survival
        FROM fs, LATERAL (SELECT unnest(range(1, len(fs) + 1)) AS j)
        ORDER BY t"""),
      doc = "Kaplan-Meier retention survival (censoring-aware churn): one " +
        "per-user span aggregate, offset-sized KM frame, deterministic " +
        "ordered product fold; survival bit-identical unrounded"),

    // Benford's-law first-digit audit (the classic fabricated-amounts
    // screen): observed first-significant-digit frequencies of order
    // totals vs the Benford expectation log10(1+1/d), with per-digit
    // deviation. First digit extracted TEXTUALLY from the cents integer
    // (substr of the digit string — no log/pow on the data path, so
    // digit assignment is integer-exact); the nine expected shares are
    // log10 CONSTANTS evaluated identically by both engines, and the
    // observed/expected chains are fixed-order doubles over exact
    // counts. One digit-keyed aggregate (9 groups) at any volume.
    Q(
      "agg_benford_digits",
      (s, dir) => {
        val o = t(s, dir, "orders")
          .select(round(col("o_totalprice") * 100).cast("long").as("cents"))
          .filter(col("cents") > 0)
        val d1 = substring(col("cents").cast("string"), 1, 1).cast("int")
        val g = o.select(d1.as("digit"))
          .groupBy("digit").agg(count(lit(1)).as("n"))
        val tot = g.agg(sum("n").cast("long").as("total"))
        g.crossJoin(broadcast(tot))
          .withColumn("observed",
            col("n").cast("double") / col("total").cast("double"))
          .withColumn("expected",
            log10(lit(1.0) + lit(1.0) / col("digit").cast("double")))
          .withColumn("deviation", col("observed") - col("expected"))
          .select(col("digit"), col("n"), col("observed"), col("expected"),
            col("deviation"))
          .orderBy("digit")
      },
      Some("""
        WITH c AS (
          SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents
          FROM orders
          WHERE CAST(round(o_totalprice * 100) AS BIGINT) > 0),
        g AS (
          SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS INT) AS digit,
                 count(*) AS n
          FROM c GROUP BY 1),
        tot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM g)
        SELECT digit, n,
               CAST(n AS DOUBLE) / CAST(total AS DOUBLE) AS observed,
               log10(1.0 + 1.0 / CAST(digit AS DOUBLE)) AS expected,
               CAST(n AS DOUBLE) / CAST(total AS DOUBLE) -
                 log10(1.0 + 1.0 / CAST(digit AS DOUBLE)) AS deviation
        FROM g CROSS JOIN tot ORDER BY digit"""),
      doc = "Benford first-digit audit: textual integer-exact digit " +
        "extraction, log10 constants, fixed-order observed/expected " +
        "chains; O(9) result at any volume"),

    // Sketch REUSE across rollup levels (the Druid/datasketches
    // pattern): HLL sketches are built ONCE at the fine grain
    // (nation-level distinct customers) and merged UPWARD with
    // hll_union_agg for region totals — the raw data is scanned once
    // for the entire hierarchy, and re-aggregating a coarser level
    // costs O(sketches), not another corpus pass. Because DuckDB cannot
    // replay Spark's sketch binaries, this is a CONTRACT query (the
    // agg_sketch_contract pattern): the compared columns are the exact
    // distincts and the boolean bounds — the merged estimate must land
    // within 5% of exact at both levels; the estimates themselves stay
    // engine-internal.
    Q(
      "agg_hll_rollup_reuse",
      (s, dir) => {
        val c = t(s, dir, "customer")
          .join(broadcast(t(s, dir, "nation")),
            col("c_nationkey") === col("n_nationkey"))
        val fine = c.groupBy("n_regionkey", "n_nationkey")
          .agg(hll_sketch_agg(col("c_custkey")).as("sk"),
            countDistinct(col("c_custkey")).as("exact_n"))
        val coarse = fine.groupBy("n_regionkey")
          .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"),
            sum("exact_n").cast("long").as("exact_region"),
            count(lit(1)).as("n_nations"),
            min(abs(hll_sketch_estimate(col("sk")).cast("double") -
              col("exact_n").cast("double")) <=
              col("exact_n").cast("double") * 0.05 + 4.0)
              .as("fine_within_5pct"))
        coarse
          .withColumn("region_within_5pct",
            abs(col("est").cast("double") - col("exact_region").cast("double"))
              <= col("exact_region").cast("double") * 0.05 + 4.0)
          .select(col("n_regionkey"), col("n_nations"),
            col("exact_region"), col("fine_within_5pct"),
            col("region_within_5pct"))
          .orderBy("n_regionkey")
      },
      Some("""
        SELECT n_regionkey,
               CAST(count(DISTINCT n_nationkey) AS BIGINT) AS n_nations,
               CAST(count(DISTINCT c_custkey) AS BIGINT) AS exact_region,
               true AS fine_within_5pct,
               true AS region_within_5pct
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_regionkey ORDER BY n_regionkey"""),
      doc = "HLL sketch reuse across rollup levels: build once at nation " +
        "grain, hll_union_agg upward to regions — one corpus scan for " +
        "the hierarchy; contract flags bound both levels within 5% of " +
        "exact (customers are disjoint across nations, so summed exact " +
        "counts equal the region distinct)"),

    // Cumulative LTV curve per signup cohort — the revenue side of the
    // retention matrix (agg_retention_cohorts counts who came back;
    // this accumulates what they spent). Per (cohort-week, offset):
    // exact cents revenue from that cohort's users in that week, then a
    // running exact-integer cumulative per cohort and the per-user LTV
    // as one division over exact values. Corpus-sized work is one
    // (user, week) rollup; everything after runs on the cohort × offset
    // frame.
    Q(
      "agg_cohort_ltv",
      (s, dir) => {
        val ev = t(s, dir, "events")
          .select(col("user_id"),
            floor(datediff(to_date(col("ts")),
              lit("2024-01-01").cast("date")) / 7).cast("long").as("wk"),
            round(col("value") * 100).cast("long").as("cents"))
        val uw = ev.groupBy("user_id", "wk")
          .agg(wsum(col("cents")).cast("long").as("c"))
        val first = uw.groupBy("user_id").agg(min("wk").as("cw"))
        val sizes = first.groupBy("cw").agg(count(lit(1)).as("cohort_n"))
        val rev = uw.join(first, "user_id")
          .groupBy(col("cw"), (col("wk") - col("cw")).as("week_offset"))
          .agg(sum(col("c")).as("week_cents"))
        val w = Window.partitionBy("cw").orderBy("week_offset")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        rev.withColumn("cum_cents", sum(col("week_cents")).over(w))
          .join(broadcast(sizes), "cw")
          .select(col("cw").as("cohort_week"), col("week_offset"),
            col("cohort_n"),
            (col("week_cents").cast("double") / 100.0).as("week_revenue"),
            (col("cum_cents").cast("double") /
              (col("cohort_n").cast("double") * 100.0)).as("ltv_per_user"))
          .orderBy("cohort_week", "week_offset")
      },
      Some("""
        WITH ev AS (
          SELECT user_id,
                 CAST(floor(datediff('day', DATE '2024-01-01',
                   CAST(ts AS DATE)) / 7) AS BIGINT) AS wk,
                 CAST(round(value * 100) AS BIGINT) AS cents
          FROM events),
        uw AS (
          SELECT user_id, wk, CAST(sum(cents) AS BIGINT) AS c
          FROM ev GROUP BY 1, 2),
        fw AS (SELECT user_id, min(wk) AS cw FROM uw GROUP BY 1),
        sizes AS (SELECT cw, count(*) AS cohort_n FROM fw GROUP BY 1),
        rev AS (
          SELECT cw, wk - cw AS week_offset,
                 CAST(sum(c) AS BIGINT) AS week_cents
          FROM uw JOIN fw USING (user_id) GROUP BY 1, 2),
        cum AS (
          SELECT cw, week_offset, week_cents,
                 CAST(sum(week_cents) OVER (PARTITION BY cw
                   ORDER BY week_offset
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS cum_cents
          FROM rev)
        SELECT cw AS cohort_week, week_offset, cohort_n,
               CAST(week_cents AS DOUBLE) / 100.0 AS week_revenue,
               CAST(cum_cents AS DOUBLE) /
                 (CAST(cohort_n AS DOUBLE) * 100.0) AS ltv_per_user
        FROM cum JOIN sizes USING (cw)
        ORDER BY cohort_week, week_offset"""),
      doc = "cumulative LTV per signup cohort: one (user, week) exact " +
        "rollup, cohort-x-offset running integer cumulative, per-user " +
        "LTV as a single division over exact values"),

    // Mergeable log₂-bin quantile sketch with a checked error contract
    // — the quantile member of the sketch family (HLL / theta /
    // Misra–Gries / count-min): the sketch is ~41 bin counts per group
    // (b = ⌊log₂ v⌋), mergeable by plain addition, answering any
    // quantile with the guarantee est ≤ exact < 2·est (the bin
    // bracket). Bins come from `length(bin(v)) - 1` — EXACT integer
    // log₂ on both engines (no float log at power-of-2 boundaries).
    // Quantile ranks use ceil in pure integer form; the exact k-th
    // order statistics (the contract's verifier — the one corpus sort,
    // the part the sketch REPLACES at scale) are selected by
    // row_number, well-defined under ties. Zero/negative values are
    // outside the log-sketch domain and filtered on both faces.
    Q(
      "agg_quantile_logbin",
      (s, dir) => {
        val ev = t(s, dir, "events")
        val v = ev.select(col("event_type"),
            round(col("value") * 100).cast("long").as("v"))
          .filter(col("v") >= 1)
        val hist = v
          .withColumn("b", (length(expr("bin(v)")) - 1).cast("int"))
          .groupBy("event_type", "b").agg(count(lit(1)).as("nb"))
        val wc = Window.partitionBy("event_type").orderBy("b")
        val wt = Window.partitionBy("event_type")
        val cum = hist
          .withColumn("cum", sum(col("nb")).over(wc))
          .withColumn("n", sum(col("nb")).over(wt))
          .withColumn("k50", expr("(n + 1) div 2"))
          .withColumn("k90", expr("(9 * n + 9) div 10"))
          .withColumn("k99", expr("(99 * n + 99) div 100"))
        val est = cum.groupBy("event_type").agg(
          max(col("n")).as("n"),
          min(when(col("cum") >= col("k50"), col("b"))).as("b50"),
          min(when(col("cum") >= col("k90"), col("b"))).as("b90"),
          min(when(col("cum") >= col("k99"), col("b"))).as("b99"))
        val rn = v.withColumn("rn",
          row_number().over(Window.partitionBy("event_type").orderBy("v")))
        val exact = rn
          .join(est.select(col("event_type"), col("n").as("nn")),
            "event_type")
          .withColumn("k50", expr("(nn + 1) div 2"))
          .withColumn("k90", expr("(9 * nn + 9) div 10"))
          .withColumn("k99", expr("(99 * nn + 99) div 100"))
          .groupBy("event_type").agg(
            min(when(col("rn") === col("k50"), col("v"))).as("x50"),
            min(when(col("rn") === col("k90"), col("v"))).as("x90"),
            min(when(col("rn") === col("k99"), col("v"))).as("x99"))
        est.join(exact, "event_type")
          .select(col("event_type"), col("n"),
            expr("shiftleft(1L, b50)").as("est50"), col("x50"),
            (col("x50") >= expr("shiftleft(1L, b50)") &&
              col("x50") < expr("shiftleft(1L, b50 + 1)")).as("ok50"),
            expr("shiftleft(1L, b90)").as("est90"), col("x90"),
            (col("x90") >= expr("shiftleft(1L, b90)") &&
              col("x90") < expr("shiftleft(1L, b90 + 1)")).as("ok90"),
            expr("shiftleft(1L, b99)").as("est99"), col("x99"),
            (col("x99") >= expr("shiftleft(1L, b99)") &&
              col("x99") < expr("shiftleft(1L, b99 + 1)")).as("ok99"))
          .orderBy("event_type")
      },
      Some("""
        WITH v AS (
          SELECT event_type, CAST(round(value * 100) AS BIGINT) AS v
          FROM events WHERE round(value * 100) >= 1),
        hist AS (
          SELECT event_type, CAST(length(bin(v)) - 1 AS INT) AS b,
                 count(*) AS nb
          FROM v GROUP BY 1, 2),
        cum AS (
          SELECT event_type, b,
                 CAST(sum(nb) OVER (PARTITION BY event_type ORDER BY b) AS BIGINT) AS cum,
                 CAST(sum(nb) OVER (PARTITION BY event_type) AS BIGINT) AS n
          FROM hist),
        est AS (
          SELECT event_type, CAST(max(n) AS BIGINT) AS n,
                 min(CASE WHEN cum >= (n + 1) // 2 THEN b END) AS b50,
                 min(CASE WHEN cum >= (9 * n + 9) // 10 THEN b END) AS b90,
                 min(CASE WHEN cum >= (99 * n + 99) // 100 THEN b END) AS b99
          FROM cum GROUP BY 1),
        rn AS (
          SELECT event_type, v,
                 row_number() OVER (PARTITION BY event_type ORDER BY v) AS rn
          FROM v),
        exact AS (
          SELECT r.event_type,
                 CAST(min(CASE WHEN rn = (e.n + 1) // 2 THEN v END) AS BIGINT) AS x50,
                 CAST(min(CASE WHEN rn = (9 * e.n + 9) // 10 THEN v END) AS BIGINT) AS x90,
                 CAST(min(CASE WHEN rn = (99 * e.n + 99) // 100 THEN v END) AS BIGINT) AS x99
          FROM rn r JOIN est e ON e.event_type = r.event_type
          GROUP BY 1)
        SELECT e.event_type, e.n,
               CAST(1 AS BIGINT) << b50 AS est50, x50,
               x50 >= (CAST(1 AS BIGINT) << b50) AND
                 x50 < (CAST(1 AS BIGINT) << (b50 + 1)) AS ok50,
               CAST(1 AS BIGINT) << b90 AS est90, x90,
               x90 >= (CAST(1 AS BIGINT) << b90) AND
                 x90 < (CAST(1 AS BIGINT) << (b90 + 1)) AS ok90,
               CAST(1 AS BIGINT) << b99 AS est99, x99,
               x99 >= (CAST(1 AS BIGINT) << b99) AND
                 x99 < (CAST(1 AS BIGINT) << (b99 + 1)) AS ok99
        FROM est e JOIN exact x ON x.event_type = e.event_type
        ORDER BY e.event_type"""),
      doc = "mergeable log2-bin quantile sketch (41 addable counts per " +
        "group) with the est<=exact<2est bracket CHECKED against exact " +
        "order statistics; exact integer log2 via binary-string length " +
        "on both engines"),

    // Pairwise Pearson correlation matrix over the document feature
    // triple (token count, distinct-token ratio, mean token length) —
    // the feature-profiling step before any model fit (multicollinearity
    // check for ml_ridge_closed's inputs). ONE aggregate of ten exact
    // integer moments is the only corpus pass; each r comes from the
    // moment formula in doubles, with the formula text shared verbatim
    // between engines (Pearson is scale-invariant, so the micro-unit
    // integers feed it directly).
    Q(
      "agg_feature_corr",
      (s, dir) => {
        val dec = org.apache.spark.sql.types.DecimalType(38, 0)
        val d = t(s, dir, "documents")
          .withColumn("tk", split(lower(col("text")), " "))
          .withColumn("ntok", size(col("tk")))
          .select(
            (col("ntok") * 1000).cast("long").as("q1"),
            round(size(array_distinct(col("tk"))).cast("double") /
              col("ntok").cast("double") * 1e6).cast("long").as("q2"),
            round(expr("aggregate(tk, 0L, (a, x) -> a + length(x))")
              .cast("double") / col("ntok").cast("double") * 1e5)
              .cast("long").as("q3"))
        val m = d.agg(
          count(lit(1)).as("nn"),
          wsum(col("q1")).as("s1"), wsum(col("q2")).as("s2"),
          wsum(col("q3")).as("s3"),
          sum(col("q1").cast(dec) * col("q1")).as("s11"),
          sum(col("q2").cast(dec) * col("q2")).as("s22"),
          sum(col("q3").cast(dec) * col("q3")).as("s33"),
          sum(col("q1").cast(dec) * col("q2")).as("s12"),
          sum(col("q1").cast(dec) * col("q3")).as("s13"),
          sum(col("q2").cast(dec) * col("q3")).as("s23"))
        m.createOrReplaceTempView("fcm")
        s.sql(featureCorrSql)
      },
      Some(s"""
      WITH d AS (
        SELECT CAST(len(tk) * 1000 AS BIGINT) AS q1,
               CAST(round(CAST(len(list_distinct(tk)) AS DOUBLE) /
                 len(tk) * 1e6) AS BIGINT) AS q2,
               CAST(round(CAST(list_aggregate(list_transform(tk,
                 x -> length(x)), 'sum') AS DOUBLE) / len(tk) * 1e5)
                 AS BIGINT) AS q3
        FROM (SELECT string_split(lower(text), ' ') AS tk FROM documents)),
      fcm AS (
        SELECT count(*) AS nn,
               CAST(sum(q1) AS HUGEINT) AS s1, CAST(sum(q2) AS HUGEINT) AS s2,
               CAST(sum(q3) AS HUGEINT) AS s3,
               CAST(sum(q1 * q1) AS HUGEINT) AS s11,
               CAST(sum(q2 * q2) AS HUGEINT) AS s22,
               CAST(sum(q3 * q3) AS HUGEINT) AS s33,
               CAST(sum(q1 * q2) AS HUGEINT) AS s12,
               CAST(sum(q1 * q3) AS HUGEINT) AS s13,
               CAST(sum(q2 * q3) AS HUGEINT) AS s23
        FROM d)
      $featureCorrSql"""),
      doc = "pairwise Pearson matrix over the doc feature triple from " +
        "one ten-moment exact aggregate; the double formula is shared " +
        "verbatim between engines"))

  /** Shared Pearson-from-moments SQL over the `fcm` one-row moment
    * frame (micro-unit integer sums; scale cancels in r). */
  private def featureCorrSql: String = {
    def r(sab: String, sa: String, sb: String, saa: String,
        sbb: String): String =
      s"round((nd*$sab - $sa*$sb) / sqrt((nd*$saa - $sa*$sa) * " +
        s"(nd*$sbb - $sb*$sb)), 6)"
    val prep = "CAST(nn AS DOUBLE) AS nd, " +
      Seq("s1", "s2", "s3", "s11", "s22", "s33", "s12", "s13", "s23")
        .map(c => s"CAST($c AS DOUBLE) AS d$c").mkString(", ")
    s"""SELECT pair, n, r FROM (
      SELECT 'ntok_uniq' AS pair, CAST(nd AS BIGINT) AS n,
             ${r("ds12", "ds1", "ds2", "ds11", "ds22")} AS r
      FROM (SELECT $prep FROM fcm)
      UNION ALL
      SELECT 'ntok_avglen' AS pair, CAST(nd AS BIGINT) AS n,
             ${r("ds13", "ds1", "ds3", "ds11", "ds33")} AS r
      FROM (SELECT $prep FROM fcm)
      UNION ALL
      SELECT 'uniq_avglen' AS pair, CAST(nd AS BIGINT) AS n,
             ${r("ds23", "ds2", "ds3", "ds22", "ds33")} AS r
      FROM (SELECT $prep FROM fcm))
      ORDER BY pair"""
  }
}
