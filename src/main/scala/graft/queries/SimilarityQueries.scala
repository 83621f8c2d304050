package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the embedding column (`Array[Float]`, 64-dim):
  * brute-force cosine top-k as the exact baseline, and an IVF-partitioned
  * variant as the scale path (probe only the nearest cells instead of the
  * whole corpus).
  *
  * Scale posture: the query set is always the broadcast side; the corpus
  * never shuffles for brute force (map-side join + per-query top-k via
  * window on the small joined result). IVF cuts the scanned fraction to
  * nprobe/ncells and its centroid build is a single exact-decimal
  * aggregation (order-independent, so deterministic under any
  * parallelism).
  */
object SimilarityQueries extends QueryBase {

  private val dims = 64

  /** Corpus kept as raw `array<float>` — widening to double happens inside
    * the compiled kernels (exact), never as an interpreted transform-cast
    * in the plan (which would re-run per use of the column). */
  private def vv(e: DataFrame): DataFrame =
    e.select(col("vec_id"), col("label"), col("embedding").as("vv"))

  /** Sequential-fold cosine between two float-array columns — native
    * codegen expression over raw ArrayData (primitive-copy inputs, no
    * per-element boxing; see ArrayKernels); fold order matches the
    * DuckDB list_sum replication for 6-decimal parity. Registration is
    * idempotent per session. */
  private def cosine(a: String, b: String): Column =
    expr(s"cosine_ff($a, $b)")

  /** Shared SQ8 quantize→dequantize plumbing (`sim_ann_sq8`,
    * `sim_retrieve_rerank`): one-pass per-dim ranges, 255-level codes,
    * dequantized doubles. The corpus frame keeps BOTH the raw floats
    * (`vv`) and the dequantized doubles (`dv`) so a reranker can
    * re-score candidates at full precision without a join back. */
  private def sq8Corpus(v: DataFrame): DataFrame = {
    val rng = v.select(posexplode(col("vv")).as(Seq("d0", "x")))
      .groupBy("d0")
      .agg(min(col("x").cast("double")).as("mn"),
        max(col("x").cast("double")).as("mx"))
    val rngArr = rng.agg(
      transform(array_sort(collect_list(struct(col("d0"), col("mn")))),
        t => t.getField("mn")).as("mns"),
      transform(array_sort(collect_list(struct(col("d0"), col("mx")))),
        t => t.getField("mx")).as("mxs"))
    val deq = transform(sequence(lit(0), lit(dims - 1)), i => {
      val x = element_at(col("vv"), i + 1).cast("double")
      val mn = element_at(col("mns"), i + 1)
      val span = element_at(col("mxs"), i + 1) - mn
      val code = when(span > 0,
        round(lit(255.0) * (x - mn) / span)).otherwise(lit(0.0))
      mn + code * span / lit(255.0)
    })
    v.crossJoin(broadcast(rngArr)).withColumn("dv", deq)
      .drop("mns", "mxs")
  }

  /** DuckDB face of [[sq8Corpus]] — CTE chain `v, rng, r1, corpus`. */
  private def sq8Ctes: String =
    s"""v AS (
          SELECT vec_id, label, [CAST(x AS DOUBLE) FOR x IN embedding] AS vv
          FROM embeddings),
        rng AS (
          SELECT d, min(x) AS mn, max(x) AS mx
          FROM (SELECT unnest(vv) AS x, generate_subscripts(vv, 1) AS d FROM v)
          GROUP BY d),
        r1 AS (SELECT list(mn ORDER BY d) AS mns, list(mx ORDER BY d) AS mxs
               FROM rng),
        corpus AS (
          SELECT vec_id, label, vv,
                 [CASE WHEN mxs[i+1] - mns[i+1] > 0
                       THEN mns[i+1] + round(255.0 * (vv[i+1] - mns[i+1])
                              / (mxs[i+1] - mns[i+1]))
                            * (mxs[i+1] - mns[i+1]) / 255.0
                       ELSE mns[i+1] END
                  FOR i IN range(0, $dims)] AS dv
          FROM v CROSS JOIN r1)"""

  val all: Seq[Q] = Seq(
    // Product quantization ANN (Jégou et al. 2011 — the remaining FAISS
    // memory-path classic next to SQ8/IVF): the 64-dim space splits
    // into M=8 subspaces; each subspace gets a K=4 codebook (seeded
    // from the 4 md5-hash-ranked corpus vectors, refined by ONE
    // distributed Lloyd round with micro-quantized means), and every
    // vector stores just 8 two-bit codes — 2 bytes instead of 256.
    // Search is ASYMMETRIC DISTANCE over the codes alone: the query
    // precomputes its 8×4 subspace-distance lookup (a 160-row broadcast
    // for 5 queries), the candidate scan joins the CODE table against
    // it and sums — the raw floats are never touched at query time,
    // which is the whole point at 100 TB (the index fits in RAM).
    // Per-subspace distances micro-quantize before the ADC sum, so the
    // 8-way reduction is order-independent; both argmin stages run
    // through TopKPerKey (k=1), and the oracle replays seed → Lloyd →
    // encode → lookup → ADC end-to-end.
    Q(
      "sim_ann_pq",
      (s, dir) => {
        val v = vv(th(s, dir, "embeddings")).select("vec_id", "vv")
        val hsort = expr(
          "CAST(conv(substring(md5(CAST(vec_id AS STRING)), 1, 15), 16, 10) AS BIGINT)")
        val seeds = v.withColumn("h", hsort)
          .orderBy("h", "vec_id").limit(4)
          .withColumn("k",
            row_number().over(Window.orderBy("h", "vec_id")) - 1)
        val init = seeds
          .select(col("k"), explode(sequence(lit(0), lit(7))).as("m"),
            col("vv"))
          .select(col("m"), col("k"), expr("slice(vv, m*8+1, 8)").as("c"))
        // fixed-order 8-term squared distance between the row's `sub`
        // slice and the joined codebook row's `c`
        val subDist =
          expr("aggregate(zip_with(sub, c, (x, y) -> (x-y)*(x-y)), " +
            "0D, (acc, t) -> acc + t)")
        val ve = v.select(col("vec_id"),
            explode(sequence(lit(0), lit(7))).as("m"), col("vv"))
          .select(col("vec_id"), col("m"),
            expr("slice(vv, m*8+1, 8)").as("sub"))
        def assignTo(cent: DataFrame): DataFrame =
          graft.plans.TopK.perKey(
            ve.join(broadcast(cent), Seq("m"))
              .withColumn("dist", subDist),
            Seq("vec_id", "m"), Seq(("dist", true), ("k", true)), 1)
        val cent1 = assignTo(init)
          .select(col("m"), col("k"), posexplode(col("sub")).as(Seq("j", "x")))
          .groupBy("m", "k", "j")
          .agg((round(sum(round(col("x") * 1e6).cast("long"))
            .cast("double") / count(lit(1))).cast("long") / 1e6).as("cj"))
          .groupBy("m", "k")
          .agg(transform(array_sort(collect_list(struct(col("j"), col("cj")))),
            t => t.getField("cj")).as("c"))
        val codes = assignTo(cent1).select("vec_id", "m", "k")
        val qd = ve.filter(col("vec_id") < 5)
          .withColumnRenamed("vec_id", "qid")
          .join(cent1, Seq("m"))
          .withColumn("dmicro",
            round(subDist * 1e6).cast("long"))
          .select("qid", "m", "k", "dmicro")
        val w = Window.partitionBy("qid")
          .orderBy(col("adc_micro").asc, col("vec_id").asc)
        codes.join(broadcast(qd), Seq("m", "k"))
          .filter(col("vec_id") =!= col("qid"))
          .groupBy("qid", "vec_id")
          .agg(sum(col("dmicro")).as("adc_micro"))
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 5)
          .select(col("qid"), col("rank"), col("vec_id"),
            round(col("adc_micro") / 1e6, 6).as("adc"))
          .orderBy("qid", "rank")
      },
      Some("""
        WITH v AS (
          SELECT vec_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS vv
          FROM embeddings),
        hs AS (
          SELECT vec_id, vv,
                 CAST(concat('0x', substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))
                   AS BIGINT) AS h
          FROM v),
        seeds AS (
          SELECT vec_id, vv, row_number() OVER (ORDER BY h, vec_id) - 1 AS k
          FROM hs QUALIFY row_number() OVER (ORDER BY h, vec_id) <= 4),
        ms AS (SELECT unnest(range(0, 8)) AS m),
        init AS (SELECT m, k, vv[m*8+1 : m*8+8] AS c FROM seeds, ms),
        asg AS (
          SELECT vec_id, m, k, sub FROM (
            SELECT e.vec_id, i.m, i.k, e.vv[i.m*8+1 : i.m*8+8] AS sub,
                   list_sum([(e.vv[i.m*8+j] - i.c[j]) * (e.vv[i.m*8+j] - i.c[j])
                             FOR j IN range(1, 9)]) AS dist
            FROM v e, init i)
          QUALIFY row_number() OVER (PARTITION BY vec_id, m
                                     ORDER BY dist, k) = 1),
        cent AS (
          SELECT m, k, list(cj ORDER BY j) AS c FROM (
            SELECT m, k, j,
                   CAST(round(CAST(sum(round(sub[j] * 1e6)) AS DOUBLE)
                     / count(*)) AS BIGINT) / 1e6 AS cj
            FROM asg, (SELECT unnest(range(1, 9)) AS j) js
            GROUP BY m, k, j)
          GROUP BY m, k),
        codes AS (
          SELECT vec_id, m, k FROM (
            SELECT e.vec_id, c.m, c.k,
                   list_sum([(e.vv[c.m*8+j] - c.c[j]) * (e.vv[c.m*8+j] - c.c[j])
                             FOR j IN range(1, 9)]) AS dist
            FROM v e, cent c)
          QUALIFY row_number() OVER (PARTITION BY vec_id, m
                                     ORDER BY dist, k) = 1),
        qd AS (
          SELECT q.vec_id AS qid, c.m, c.k,
                 CAST(round(list_sum([(q.vv[c.m*8+j] - c.c[j])
                        * (q.vv[c.m*8+j] - c.c[j]) FOR j IN range(1, 9)])
                      * 1e6) AS BIGINT) AS dmicro
          FROM v q, cent c WHERE q.vec_id < 5),
        adc AS (
          SELECT qid, vec_id, CAST(sum(dmicro) AS BIGINT) AS adc_micro
          FROM codes JOIN qd USING (m, k)
          WHERE vec_id <> qid GROUP BY qid, vec_id)
        SELECT qid, rank, vec_id, round(adc_micro / 1e6, 6) AS adc FROM (
          SELECT qid, vec_id, adc_micro,
                 row_number() OVER (PARTITION BY qid
                                    ORDER BY adc_micro, vec_id) AS rank
          FROM adc)
        WHERE rank <= 5 ORDER BY qid, rank"""),
      doc = "product-quantization ANN (M=8 subspaces, K=4 codebooks, one " +
        "distributed Lloyd round, micro-quantized means): 2-byte codes, " +
        "asymmetric-distance search over the code table + a broadcast " +
        "query lookup — raw vectors untouched at query time"),

    // Brute-force cosine top-k: 5 query vectors broadcast against the
    // corpus; exact answer, the recall baseline for the ANN variants.
    Q(
      "sim_ann_bruteforce",
      (s, dir) => {
        val v = vv(th(s, dir, "embeddings"))
        val q = broadcast(v.filter(col("vec_id") < 5)
          .select(col("vec_id").as("qid"), col("vv").as("qv")))
        val w = Window.partitionBy("qid")
          .orderBy(col("cosine").desc, col("vec_id").asc)
        v.crossJoin(q)
          .filter(col("vec_id") =!= col("qid"))
          .withColumn("cosine", cosine("qv", "vv"))
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 5)
          .select(col("qid"), col("rank"), col("vec_id"), round(col("cosine"), 6).as("cosine"))
          .orderBy("qid", "rank")
      },
      Some(s"""
        WITH v AS (
          SELECT vec_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS vv FROM embeddings),
        q AS (SELECT vec_id AS qid, vv AS qv FROM v WHERE vec_id < 5),
        scored AS (
          SELECT qid, vec_id,
                 list_sum([qv[i+1] * vv[i+1] FOR i IN range(0, $dims)]) /
                 (sqrt(list_sum([qv[i+1] * qv[i+1] FOR i IN range(0, $dims)])) *
                  sqrt(list_sum([vv[i+1] * vv[i+1] FOR i IN range(0, $dims)]))) AS cosine
          FROM v CROSS JOIN q WHERE vec_id <> qid)
        SELECT qid, rank, vec_id, round(cosine, 6) AS cosine FROM (
          SELECT qid, vec_id, cosine,
                 row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id ASC) AS rank
          FROM scored)
        WHERE rank <= 5 ORDER BY qid, rank"""),
      doc = "brute-force cosine top-k ANN baseline (training pipeline)"),

    // IVF-partitioned ANN: cells = label, centroid = exact-decimal mean
    // vector per cell; each query probes its 2 nearest cells only. At
    // scale this reads nprobe/ncells of the corpus instead of all of it.
    Q(
      "sim_ann_ivf",
      (s, dir) => {
        val v = vv(th(s, dir, "embeddings"))
        // Exact (order-independent) centroid build on the scaled-long
        // codegen path (same rewrite as agg_vector_centroid — the
        // DECIMAL(28,10) sum was the BigDecimal slow path): micro-unit
        // long sum via wsum, ONE double division, oracle-identical.
        val cent = v.select(col("label"), posexplode(col("vv")).as(Seq("d", "x")))
          .groupBy("label", "d")
          .agg((wsum(round(col("x").cast("double") * 1e6).cast("long"))
            .cast("double") / (count(lit(1)) * lit(1e6))).as("cx"))
          .groupBy("label")
          .agg(transform(array_sort(collect_list(struct(col("d"), col("cx")))),
            s => s.getField("cx")).as("cv"))
        val q = v.filter(col("vec_id") < 5)
          .select(col("vec_id").as("qid"), col("vv").as("qv"))
        // Top-2 cells per query by centroid cosine.
        val wc = Window.partitionBy("qid").orderBy(col("ccos").desc, col("label").asc)
        val cells = q.crossJoin(broadcast(cent))
          .withColumn("ccos", expr("cosine_fd(qv, cv)"))
          .withColumn("crank", row_number().over(wc))
          .filter(col("crank") <= 2)
          .select(col("qid"), col("qv"), col("label").as("probe_label"))
        // Probe only those cells.
        val w = Window.partitionBy("qid").orderBy(col("cosine").desc, col("vec_id").asc)
        v.join(broadcast(cells), v("label") === cells("probe_label"))
          .filter(col("vec_id") =!= col("qid"))
          .withColumn("cosine", cosine("qv", "vv"))
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 5)
          .select(col("qid"), col("rank"), col("vec_id"), col("label"),
            round(col("cosine"), 6).as("cosine"))
          .orderBy("qid", "rank")
      },
      Some(s"""
        WITH v AS (
          SELECT vec_id, label, [CAST(x AS DOUBLE) FOR x IN embedding] AS vv FROM embeddings),
        cent AS (
          SELECT label, list(cx ORDER BY d) AS cv FROM (
            SELECT label, d,
                   CAST(sum(CAST(round(vv[d+1] * 1e6) AS BIGINT)) AS DOUBLE)
                     / (count(*) * 1e6) AS cx
            FROM v CROSS JOIN (SELECT unnest(range(0, $dims)) AS d) t
            GROUP BY label, d)
          GROUP BY label),
        q AS (SELECT vec_id AS qid, vv AS qv FROM v WHERE vec_id < 5),
        cells AS (
          SELECT qid, qv, label AS probe_label FROM (
            SELECT qid, qv, label,
                   row_number() OVER (PARTITION BY qid ORDER BY
                     list_sum([qv[i+1] * cv[i+1] FOR i IN range(0, $dims)]) /
                     (sqrt(list_sum([qv[i+1] * qv[i+1] FOR i IN range(0, $dims)])) *
                      sqrt(list_sum([cv[i+1] * cv[i+1] FOR i IN range(0, $dims)]))) DESC,
                     label ASC) AS crank
            FROM q CROSS JOIN cent)
          WHERE crank <= 2),
        scored AS (
          SELECT qid, vec_id, label,
                 list_sum([qv[i+1] * vv[i+1] FOR i IN range(0, $dims)]) /
                 (sqrt(list_sum([qv[i+1] * qv[i+1] FOR i IN range(0, $dims)])) *
                  sqrt(list_sum([vv[i+1] * vv[i+1] FOR i IN range(0, $dims)]))) AS cosine
          FROM v JOIN cells ON v.label = cells.probe_label
          WHERE vec_id <> qid)
        SELECT qid, rank, vec_id, label, round(cosine, 6) AS cosine FROM (
          SELECT qid, vec_id, label, cosine,
                 row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id ASC) AS rank
          FROM scored)
        WHERE rank <= 5 ORDER BY qid, rank"""),
      doc = "IVF-partitioned ANN (label cells, nprobe=2, exact scaled-long centroids)"),

    // LSH-bucketed ANN: the same banded hyperplane buckets as the
    // embedding dedup, used for search — a query probes only vectors
    // sharing at least one (band, bucket) with it, so the scanned
    // fraction is the buckets' occupancy instead of the whole corpus.
    // Complements IVF: no training/centroid stage, recall from 8
    // independent bands, per-bucket probe cap keeps hot buckets bounded.
    Q(
      "sim_ann_lsh",
      (s, dir) => {
        val v = vv(th(s, dir, "embeddings"))
        val buckets = graft.plans.TopK.perKey(
            v.select(col("vec_id"),
              posexplode(expr("band_keys_f(vv)")).as(Seq("bd", "bkey"))),
            Seq("bd", "bkey"), Seq(("vec_id", true)), 64)
          .select("vec_id", "bd", "bkey")
        // Query ids are the lowest vec_ids, so the asc-ordered probe cap
        // can never evict them from their own buckets.
        val qb = buckets.filter(col("vec_id") < 5)
          .select(col("vec_id").as("qid"), col("bd"), col("bkey"))
        val cand = broadcast(qb).join(buckets, Seq("bd", "bkey"))
          .filter(col("vec_id") =!= col("qid"))
          .select("qid", "vec_id").distinct()
        val w = Window.partitionBy("qid")
          .orderBy(col("cosine").desc, col("vec_id").asc)
        cand
          .join(v.select(col("vec_id").as("qid"), col("vv").as("qv")), Seq("qid"))
          .join(v.select(col("vec_id"), col("vv")), Seq("vec_id"))
          .withColumn("cosine", expr("cosine_ff(qv, vv)"))
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 5)
          .select(col("qid"), col("rank"), col("vec_id"),
            round(col("cosine"), 6).as("cosine"))
          .orderBy("qid", "rank")
      },
      Some(s"""
        WITH v AS (
          SELECT vec_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS vv FROM embeddings),
        buckets AS (
          SELECT vec_id, bd, bkey FROM (
            SELECT vec_id, bd,
                   CAST(list_sum([CASE WHEN list_sum([vv[d+1] *
                       CAST((CAST(concat('0x', substr(md5(CAST(bd*4+j AS VARCHAR) || '_' ||
                         CAST(d AS VARCHAR)), 1, 15)) AS BIGINT) % 2001) - 1000 AS DOUBLE)
                       FOR d IN range(0, $dims)]) > 0
                     THEN CAST(pow(2, j) AS BIGINT) ELSE 0 END FOR j IN range(0, 4)]) AS BIGINT) AS bkey
            FROM v CROSS JOIN (SELECT unnest(range(0, 8)) AS bd) t)
          QUALIFY row_number() OVER (PARTITION BY bd, bkey ORDER BY vec_id) <= 64),
        cand AS (
          SELECT DISTINCT q.vec_id AS qid, b.vec_id AS vec_id
          FROM buckets q JOIN buckets b
            ON q.bd = b.bd AND q.bkey = b.bkey AND q.vec_id <> b.vec_id
          WHERE q.vec_id < 5),
        scored AS (
          SELECT qid, cand.vec_id AS vec_id,
                 list_sum([qv.vv[i+1] * cv.vv[i+1] FOR i IN range(0, $dims)]) /
                 (sqrt(list_sum([qv.vv[i+1] * qv.vv[i+1] FOR i IN range(0, $dims)])) *
                  sqrt(list_sum([cv.vv[i+1] * cv.vv[i+1] FOR i IN range(0, $dims)]))) AS cosine
          FROM cand JOIN v qv ON cand.qid = qv.vec_id
                    JOIN v cv ON cand.vec_id = cv.vec_id)
        SELECT qid, rank, vec_id, round(cosine, 6) AS cosine FROM (
          SELECT qid, vec_id, cosine,
                 row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id ASC) AS rank
          FROM scored)
        WHERE rank <= 5 ORDER BY qid, rank"""),
      doc = "LSH-bucketed ANN over banded hyperplane buckets, probe-capped (training pipeline)"),

    // Int8 scalar-quantized search (the FAISS SQ8 memory path): per-dim
    // [min,max] ranges from ONE corpus pass → every vector stored as 64
    // uint8 codes (4x smaller than float32, the difference between
    // fitting a 100 TB corpus's vectors in cluster RAM or not) → search
    // scores queries (kept full-precision) against DEQUANTIZED codes.
    // Everything is exact-rounded IEEE arithmetic (min/max/`round`/
    // +-*/ /sqrt), so Spark and DuckDB produce bit-identical scores —
    // the oracle replays quantize→dequantize→score end-to-end. The
    // 1-row range frame broadcasts; the corpus never shuffles.
    Q(
      "sim_ann_sq8",
      (s, dir) => {
        val v = vv(th(s, dir, "embeddings"))
        val corpus = sq8Corpus(v)
        val q = broadcast(v.filter(col("vec_id") < 5)
          .select(col("vec_id").as("qid"), col("vv").as("qv")))
        val w = Window.partitionBy("qid")
          .orderBy(col("cosine").desc, col("vec_id").asc)
        corpus.crossJoin(q)
          .filter(col("vec_id") =!= col("qid"))
          .withColumn("cosine", expr("cosine_fd(qv, dv)"))
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 5)
          .select(col("qid"), col("rank"), col("vec_id"),
            round(col("cosine"), 6).as("cosine_sq8"))
          .orderBy("qid", "rank")
      },
      Some(s"""
        WITH $sq8Ctes,
        q AS (SELECT vec_id AS qid, vv AS qv FROM v WHERE vec_id < 5),
        scored AS (
          SELECT qid, vec_id,
                 list_sum([qv[i+1] * dv[i+1] FOR i IN range(0, $dims)]) /
                 (sqrt(list_sum([qv[i+1] * qv[i+1] FOR i IN range(0, $dims)])) *
                  sqrt(list_sum([dv[i+1] * dv[i+1] FOR i IN range(0, $dims)]))) AS cosine
          FROM corpus CROSS JOIN q WHERE vec_id <> qid)
        SELECT qid, rank, vec_id, round(cosine, 6) AS cosine_sq8 FROM (
          SELECT qid, vec_id, cosine,
                 row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id ASC) AS rank
          FROM scored)
        WHERE rank <= 5 ORDER BY qid, rank"""),
      doc = "int8 scalar-quantized ANN (FAISS SQ8-style): one-pass per-dim " +
        "ranges, 4x-compressed codes, full quantize->dequantize->score " +
        "replayed by the oracle"),

    // IVF over SQ8 codes — the composed production layout (FAISS
    // IVF+SQ): the coarse quantizer (exact scaled-long cell centroids)
    // cuts the scanned fraction to nprobe/ncells, and the scanned
    // vectors are the 4x-compressed int8 codes, not the raw floats — so
    // at 100 TB the index reads nprobe/ncells of a corpus that is
    // ALREADY 4x smaller than float32. Queries stay full-precision
    // (asymmetric distance); everything is exact-rounded IEEE arithmetic
    // so the oracle replays cell-probe + dequantize + score end-to-end.
    Q(
      "sim_ann_ivf_sq8",
      (s, dir) => {
        val v = vv(th(s, dir, "embeddings"))
        val cent = v.select(col("label"), posexplode(col("vv")).as(Seq("d", "x")))
          .groupBy("label", "d")
          .agg((wsum(round(col("x").cast("double") * 1e6).cast("long"))
            .cast("double") / (count(lit(1)) * lit(1e6))).as("cx"))
          .groupBy("label")
          .agg(transform(array_sort(collect_list(struct(col("d"), col("cx")))),
            t => t.getField("cx")).as("cv"))
        val rng = v.select(posexplode(col("vv")).as(Seq("d0", "x")))
          .groupBy("d0")
          .agg(min(col("x").cast("double")).as("mn"),
            max(col("x").cast("double")).as("mx"))
        val rngArr = rng.agg(
          transform(array_sort(collect_list(struct(col("d0"), col("mn")))),
            t => t.getField("mn")).as("mns"),
          transform(array_sort(collect_list(struct(col("d0"), col("mx")))),
            t => t.getField("mx")).as("mxs"))
        val deq = transform(sequence(lit(0), lit(dims - 1)), i => {
          val x = element_at(col("vv"), i + 1).cast("double")
          val mn = element_at(col("mns"), i + 1)
          val span = element_at(col("mxs"), i + 1) - mn
          val code = when(span > 0,
            round(lit(255.0) * (x - mn) / span)).otherwise(lit(0.0))
          mn + code * span / lit(255.0)
        })
        val corpus = v.crossJoin(broadcast(rngArr)).withColumn("dv", deq)
        val q = v.filter(col("vec_id") < 5)
          .select(col("vec_id").as("qid"), col("vv").as("qv"))
        val wc = Window.partitionBy("qid").orderBy(col("ccos").desc, col("label").asc)
        val cells = q.crossJoin(broadcast(cent))
          .withColumn("ccos", expr("cosine_fd(qv, cv)"))
          .withColumn("crank", row_number().over(wc))
          .filter(col("crank") <= 2)
          .select(col("qid"), col("qv"), col("label").as("probe_label"))
        val w = Window.partitionBy("qid").orderBy(col("cosine").desc, col("vec_id").asc)
        corpus.join(broadcast(cells), corpus("label") === cells("probe_label"))
          .filter(col("vec_id") =!= col("qid"))
          .withColumn("cosine", expr("cosine_fd(qv, dv)"))
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 5)
          .select(col("qid"), col("rank"), col("vec_id"), col("label"),
            round(col("cosine"), 6).as("cosine_ivf_sq8"))
          .orderBy("qid", "rank")
      },
      Some(s"""
        WITH v AS (
          SELECT vec_id, label, [CAST(x AS DOUBLE) FOR x IN embedding] AS vv
          FROM embeddings),
        cent AS (
          SELECT label, list(cx ORDER BY d) AS cv FROM (
            SELECT label, d,
                   CAST(sum(CAST(round(vv[d+1] * 1e6) AS BIGINT)) AS DOUBLE)
                     / (count(*) * 1e6) AS cx
            FROM v CROSS JOIN (SELECT unnest(range(0, $dims)) AS d) t
            GROUP BY label, d)
          GROUP BY label),
        rng AS (
          SELECT d, min(x) AS mn, max(x) AS mx
          FROM (SELECT unnest(vv) AS x, generate_subscripts(vv, 1) AS d FROM v)
          GROUP BY d),
        r1 AS (SELECT list(mn ORDER BY d) AS mns, list(mx ORDER BY d) AS mxs
               FROM rng),
        corpus AS (
          SELECT vec_id, label,
                 [CASE WHEN mxs[i+1] - mns[i+1] > 0
                       THEN mns[i+1] + round(255.0 * (vv[i+1] - mns[i+1])
                              / (mxs[i+1] - mns[i+1]))
                            * (mxs[i+1] - mns[i+1]) / 255.0
                       ELSE mns[i+1] END
                  FOR i IN range(0, $dims)] AS dv
          FROM v CROSS JOIN r1),
        q AS (SELECT vec_id AS qid, vv AS qv FROM v WHERE vec_id < 5),
        cells AS (
          SELECT qid, qv, label AS probe_label FROM (
            SELECT qid, qv, label,
                   row_number() OVER (PARTITION BY qid ORDER BY
                     list_sum([qv[i+1] * cv[i+1] FOR i IN range(0, $dims)]) /
                     (sqrt(list_sum([qv[i+1] * qv[i+1] FOR i IN range(0, $dims)])) *
                      sqrt(list_sum([cv[i+1] * cv[i+1] FOR i IN range(0, $dims)]))) DESC,
                     label ASC) AS crank
            FROM q CROSS JOIN cent)
          WHERE crank <= 2),
        scored AS (
          SELECT qid, c.vec_id AS vec_id, c.label AS label,
                 list_sum([qv[i+1] * dv[i+1] FOR i IN range(0, $dims)]) /
                 (sqrt(list_sum([qv[i+1] * qv[i+1] FOR i IN range(0, $dims)])) *
                  sqrt(list_sum([dv[i+1] * dv[i+1] FOR i IN range(0, $dims)]))) AS cosine
          FROM corpus c JOIN cells ON c.label = cells.probe_label
          WHERE c.vec_id <> cells.qid)
        SELECT qid, rank, vec_id, label, round(cosine, 6) AS cosine_ivf_sq8
        FROM (
          SELECT qid, vec_id, label, cosine,
                 row_number() OVER (PARTITION BY qid
                   ORDER BY cosine DESC, vec_id ASC) AS rank
          FROM scored)
        WHERE rank <= 5 ORDER BY qid, rank"""),
      doc = "IVF over SQ8 codes (FAISS IVF+SQ layout): nprobe=2 coarse " +
        "cells scanned as 4x-compressed dequantized codes, asymmetric " +
        "full-precision queries; oracle replays probe + dequantize + " +
        "score end-to-end"),

    // Two-stage retrieve-and-rerank — the production retrieval shape:
    // stage 1 scans the 4x-compressed SQ8 codes and keeps a WIDE
    // candidate set (top-20 by quantized score, cheap); stage 2
    // re-scores ONLY those 20 per query at full float precision and
    // emits the top-5 (accurate). retrieval_rank in the output shows
    // where the reranker disagreed with the quantized ordering — the
    // accuracy the second stage buys. At 100 TB stage 1 is the only
    // corpus-sized scan (over memory 4x smaller than the floats);
    // stage 2 touches 20 rows per query.
    Q(
      "sim_retrieve_rerank",
      (s, dir) => {
        val v = vv(th(s, dir, "embeddings"))
        val corpus = sq8Corpus(v)
        val q = broadcast(v.filter(col("vec_id") < 5)
          .select(col("vec_id").as("qid"), col("vv").as("qv")))
        val w1 = Window.partitionBy("qid")
          .orderBy(col("qcos").desc, col("vec_id").asc)
        val cand = corpus.crossJoin(q)
          .filter(col("vec_id") =!= col("qid"))
          .withColumn("qcos", expr("cosine_fd(qv, dv)"))
          .withColumn("rk1", row_number().over(w1))
          .filter(col("rk1") <= 20)
        val w2 = Window.partitionBy("qid")
          .orderBy(col("cosine").desc, col("vec_id").asc)
        cand.withColumn("cosine", cosine("qv", "vv"))
          .withColumn("rank", row_number().over(w2))
          .filter(col("rank") <= 5)
          .select(col("qid"), col("rank"), col("vec_id"),
            round(col("cosine"), 6).as("cosine"),
            col("rk1").as("retrieval_rank"))
          .orderBy("qid", "rank")
      },
      Some(s"""
        WITH $sq8Ctes,
        q AS (SELECT vec_id AS qid, vv AS qv FROM v WHERE vec_id < 5),
        s1 AS (
          SELECT qid, qv, vec_id, vv,
                 row_number() OVER (PARTITION BY qid ORDER BY
                   list_sum([qv[i+1] * dv[i+1] FOR i IN range(0, $dims)]) /
                   (sqrt(list_sum([qv[i+1] * qv[i+1] FOR i IN range(0, $dims)])) *
                    sqrt(list_sum([dv[i+1] * dv[i+1] FOR i IN range(0, $dims)]))) DESC,
                   vec_id ASC) AS rk1
          FROM corpus CROSS JOIN q WHERE vec_id <> qid),
        cand AS (SELECT * FROM s1 WHERE rk1 <= 20),
        s2 AS (
          SELECT qid, vec_id, rk1,
                 list_sum([qv[i+1] * vv[i+1] FOR i IN range(0, $dims)]) /
                 (sqrt(list_sum([qv[i+1] * qv[i+1] FOR i IN range(0, $dims)])) *
                  sqrt(list_sum([vv[i+1] * vv[i+1] FOR i IN range(0, $dims)]))) AS cosine
          FROM cand)
        SELECT qid, rank, vec_id, round(cosine, 6) AS cosine,
               rk1 AS retrieval_rank
        FROM (SELECT qid, vec_id, rk1, cosine,
                     row_number() OVER (PARTITION BY qid
                       ORDER BY cosine DESC, vec_id ASC) AS rank
              FROM s2)
        WHERE rank <= 5 ORDER BY qid, rank"""),
      doc = "two-stage retrieval: wide SQ8-quantized candidate scan " +
        "(top-20, 4x-compressed) + full-precision rerank of 20 rows " +
        "per query (top-5); retrieval_rank exposes rerank disagreement"),

    // Cross-encoder-style second-stage rerank (r13 verdict item 5a):
    // sim_retrieve_rerank's stage 2 scores candidates by ONE metric
    // (full-precision cosine); a production reranker scores the PAIR
    // with a richer function. Stage 1 is unchanged (the SQ8 quantized
    // wide scan, top-20 per query — the only corpus-sized work); stage
    // 2 re-scores those 20 rows with a blended pair score: 0.8 ×
    // full-precision cosine + 0.1 × label-match prior + sign-agreement
    // fraction (count of dimensions where query and candidate agree in
    // sign, /64, × 0.1) — the last is a true pair-interaction feature
    // (not precomputable per side), which is exactly the cross-encoder
    // trait. Determinism: the cosine doubles are the same fold both
    // engines replay bit-identically (cosine_ff kernel ≡ list_sum
    // comprehension), the blend is fixed-order IEEE arithmetic on
    // them, sign agreement is an integer; ordering ties break vec_id
    // asc. At 100 TB the blend touches 20 rows per query — the richer
    // scorer costs nothing at corpus scale.
    Q(
      "sim_rerank_blend",
      (s, dir) => {
        val v = vv(th(s, dir, "embeddings"))
        val corpus = sq8Corpus(v)
        val q = broadcast(v.filter(col("vec_id") < 5)
          .select(col("vec_id").as("qid"), col("vv").as("qv"),
            col("label").as("qlabel")))
        val w1 = Window.partitionBy("qid")
          .orderBy(col("qcos").desc, col("vec_id").asc)
        val cand = corpus.crossJoin(q)
          .filter(col("vec_id") =!= col("qid"))
          .withColumn("qcos", expr("cosine_fd(qv, dv)"))
          .withColumn("rk1", row_number().over(w1))
          .filter(col("rk1") <= 20)
        val signAgree = size(filter(sequence(lit(0), lit(dims - 1)), i =>
          (element_at(col("qv"), i + 1).cast("double") > 0) ===
            (element_at(col("vv"), i + 1).cast("double") > 0)))
        val w2 = Window.partitionBy("qid")
          .orderBy(col("blend").desc, col("vec_id").asc)
        cand
          .withColumn("cosine", cosine("qv", "vv"))
          .withColumn("sign_agree", signAgree.cast("long"))
          .withColumn("label_match",
            when(col("label") === col("qlabel"), 1L).otherwise(0L))
          .withColumn("blend",
            col("cosine") * lit(0.8) + col("label_match") * lit(0.1) +
              col("sign_agree").cast("double") / lit(640.0))
          .withColumn("rank", row_number().over(w2))
          .filter(col("rank") <= 5)
          .select(col("qid"), col("rank"), col("vec_id"),
            round(col("blend"), 6).as("blend_score"),
            round(col("cosine"), 6).as("cosine"),
            col("sign_agree"), col("label_match"),
            col("rk1").as("retrieval_rank"))
          .orderBy("qid", "rank")
      },
      Some(s"""
        WITH $sq8Ctes,
        q AS (SELECT vec_id AS qid, vv AS qv, label AS qlabel
              FROM v WHERE vec_id < 5),
        s1 AS (
          SELECT qid, qv, qlabel, vec_id, vv, label,
                 row_number() OVER (PARTITION BY qid ORDER BY
                   list_sum([qv[i+1] * dv[i+1] FOR i IN range(0, $dims)]) /
                   (sqrt(list_sum([qv[i+1] * qv[i+1] FOR i IN range(0, $dims)])) *
                    sqrt(list_sum([dv[i+1] * dv[i+1] FOR i IN range(0, $dims)]))) DESC,
                   vec_id ASC) AS rk1
          FROM corpus CROSS JOIN q WHERE vec_id <> qid),
        cand AS (SELECT * FROM s1 WHERE rk1 <= 20),
        s2 AS (
          SELECT qid, vec_id, rk1,
                 list_sum([qv[i+1] * vv[i+1] FOR i IN range(0, $dims)]) /
                 (sqrt(list_sum([qv[i+1] * qv[i+1] FOR i IN range(0, $dims)])) *
                  sqrt(list_sum([vv[i+1] * vv[i+1] FOR i IN range(0, $dims)]))) AS cosine,
                 CAST(len(list_filter(range(0, $dims),
                   i -> (qv[i+1] > 0) = (vv[i+1] > 0))) AS BIGINT)
                   AS sign_agree,
                 CASE WHEN label = qlabel THEN CAST(1 AS BIGINT)
                      ELSE CAST(0 AS BIGINT) END AS label_match
          FROM cand),
        s3 AS (
          SELECT *, cosine * 0.8 + label_match * 0.1 + sign_agree / 640.0
            AS blend
          FROM s2)
        SELECT qid, rank, vec_id, round(blend, 6) AS blend_score,
               round(cosine, 6) AS cosine, sign_agree, label_match,
               rk1 AS retrieval_rank
        FROM (SELECT *, row_number() OVER (PARTITION BY qid
                ORDER BY blend DESC, vec_id ASC) AS rank
              FROM s3)
        WHERE rank <= 5 ORDER BY qid, rank"""),
      doc = "cross-encoder-style rerank: SQ8 wide scan (top-20) + " +
        "blended pair score (0.8 cosine + 0.1 label prior + 0.1 " +
        "sign-agreement interaction) over 20 rows per query; blend is " +
        "fixed-order IEEE arithmetic on bit-identical fold doubles"),

    // ANN EVAL HARNESS: recall@5 of the LSH index against the exact
    // brute-force ground truth, measured IN-ENGINE as one query — the
    // standard ANN quality metric (Aumüller et al., ann-benchmarks),
    // and the missing piece that turns the index family into a tunable
    // system: re-run with different band/cap settings and read recall
    // directly. Both pipelines are the catalog's own (`sim_ann_lsh`
    // candidates, `sim_ann_bruteforce` truth); ties broken vec_id-asc
    // on both faces so top-5 SETS are deterministic and recall is an
    // exact small rational. Scale: ground truth is the expensive side
    // (full scan per query) — the eval runs on a query SAMPLE, exactly
    // how recall is measured on production corpora.
    Q(
      "sim_ann_recall_eval",
      (s, dir) => {
        val v = vv(th(s, dir, "embeddings"))
        val q = v.filter(col("vec_id") < 5)
          .select(col("vec_id").as("qid"), col("vv").as("qv"))
        val w = Window.partitionBy("qid")
          .orderBy(col("cosine").desc, col("vec_id").asc)
        val bf = v.crossJoin(broadcast(q))
          .filter(col("vec_id") =!= col("qid"))
          .withColumn("cosine", cosine("qv", "vv"))
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 5).select("qid", "vec_id")
        val buckets = graft.plans.TopK.perKey(
            v.select(col("vec_id"),
              posexplode(expr("band_keys_f(vv)")).as(Seq("bd", "bkey"))),
            Seq("bd", "bkey"), Seq(("vec_id", true)), 64)
          .select("vec_id", "bd", "bkey")
        val qb = buckets.filter(col("vec_id") < 5)
          .select(col("vec_id").as("qid"), col("bd"), col("bkey"))
        val lsh = broadcast(qb).join(buckets, Seq("bd", "bkey"))
          .filter(col("vec_id") =!= col("qid"))
          .select("qid", "vec_id").distinct()
          .join(v.select(col("vec_id").as("qid"), col("vv").as("qv")),
            Seq("qid"))
          .join(v.select(col("vec_id"), col("vv")), Seq("vec_id"))
          .withColumn("cosine", cosine("qv", "vv"))
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 5).select("qid", "vec_id")
        val hits = bf.join(lsh, Seq("qid", "vec_id"), "left_semi")
          .groupBy("qid").agg(count(lit(1)).as("hits"))
        q.select("qid").distinct()
          .join(hits, Seq("qid"), "left")
          .select(col("qid"),
            coalesce(col("hits"), lit(0L)).as("hits"),
            (coalesce(col("hits"), lit(0L)).cast("double") / 5.0)
              .as("recall_at_5"))
          .orderBy("qid")
      },
      Some(s"""
        WITH v AS (
          SELECT vec_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS vv FROM embeddings),
        q AS (SELECT vec_id AS qid, vv AS qv FROM v WHERE vec_id < 5),
        bfscored AS (
          SELECT qid, vec_id,
                 list_sum([qv[i+1] * vv[i+1] FOR i IN range(0, $dims)]) /
                 (sqrt(list_sum([qv[i+1] * qv[i+1] FOR i IN range(0, $dims)])) *
                  sqrt(list_sum([vv[i+1] * vv[i+1] FOR i IN range(0, $dims)]))) AS cosine
          FROM v CROSS JOIN q WHERE vec_id <> qid),
        bftop AS (
          SELECT qid, vec_id FROM (
            SELECT qid, vec_id,
                   row_number() OVER (PARTITION BY qid
                     ORDER BY cosine DESC, vec_id ASC) AS rank
            FROM bfscored)
          WHERE rank <= 5),
        buckets AS (
          SELECT vec_id, bd, bkey FROM (
            SELECT vec_id, bd,
                   CAST(list_sum([CASE WHEN list_sum([vv[d+1] *
                       CAST((CAST(concat('0x', substr(md5(CAST(bd*4+j AS VARCHAR) || '_' ||
                         CAST(d AS VARCHAR)), 1, 15)) AS BIGINT) % 2001) - 1000 AS DOUBLE)
                       FOR d IN range(0, $dims)]) > 0
                     THEN CAST(pow(2, j) AS BIGINT) ELSE 0 END FOR j IN range(0, 4)]) AS BIGINT) AS bkey
            FROM v CROSS JOIN (SELECT unnest(range(0, 8)) AS bd) t)
          QUALIFY row_number() OVER (PARTITION BY bd, bkey ORDER BY vec_id) <= 64),
        cand AS (
          SELECT DISTINCT bq.vec_id AS qid, b.vec_id AS vec_id
          FROM buckets bq JOIN buckets b
            ON bq.bd = b.bd AND bq.bkey = b.bkey AND bq.vec_id <> b.vec_id
          WHERE bq.vec_id < 5),
        lshscored AS (
          SELECT qid, cand.vec_id AS vec_id,
                 list_sum([qv.vv[i+1] * cv.vv[i+1] FOR i IN range(0, $dims)]) /
                 (sqrt(list_sum([qv.vv[i+1] * qv.vv[i+1] FOR i IN range(0, $dims)])) *
                  sqrt(list_sum([cv.vv[i+1] * cv.vv[i+1] FOR i IN range(0, $dims)]))) AS cosine
          FROM cand JOIN v qv ON cand.qid = qv.vec_id
                    JOIN v cv ON cand.vec_id = cv.vec_id),
        lshtop AS (
          SELECT qid, vec_id FROM (
            SELECT qid, vec_id,
                   row_number() OVER (PARTITION BY qid
                     ORDER BY cosine DESC, vec_id ASC) AS rank
            FROM lshscored)
          WHERE rank <= 5),
        hits AS (
          SELECT b.qid, CAST(count(*) AS BIGINT) AS hits
          FROM bftop b JOIN lshtop l
            ON l.qid = b.qid AND l.vec_id = b.vec_id
          GROUP BY 1)
        SELECT q.qid, CAST(coalesce(h.hits, 0) AS BIGINT) AS hits,
               CAST(coalesce(h.hits, 0) AS DOUBLE) / 5.0 AS recall_at_5
        FROM (SELECT DISTINCT qid FROM q) q LEFT JOIN hits h ON h.qid = q.qid
        ORDER BY q.qid"""),
      doc = "ANN eval harness: recall@5 of the LSH index vs brute-force " +
        "ground truth in one query — deterministic top-5 sets " +
        "(vec_id-asc ties), exact rational recall; ground truth runs " +
        "on the query sample only"))
}
