package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Mint a larger scale-factor copy of the driver's test tables by
  * unioning K re-keyed copies of the sf0.1 facts (docs/SCALE.md's
  * measured scale curve uses K=10 → "sf1").
  *
  * - Dimension tables (region/nation/customer/supplier/part) copy
  *   through unchanged — at 100 TB the dims stay broadcast-sized, so
  *   growing them would distort the join shapes being measured.
  * - Fact tables (orders/lineitem/events/documents/embeddings) get K
  *   copies with primary keys shifted by copy*1e9 so keys stay unique;
  *   fact-to-fact keys (l_orderkey) shift with their parent so join
  *   cardinality per key is preserved. Dim FKs (o_custkey, l_partkey,
  *   l_suppkey) are left alone: each customer simply has K× orders,
  *   which is exactly what a bigger fact against a fixed dim looks like.
  * - Payload columns (text, embedding) are NOT perturbed: copy k of a
  *   document is content-identical to copy 0, so every LSH/SimHash/
  *   Jaccard bucket gets K× denser. That is deliberate — it stress-tests
  *   the per-bucket probe caps that keep near-dup candidate generation
  *   linear (a cap-less implementation would go quadratic here).
  *
  * SKEW MODE (`--skew` or `--skew=<alpha>`, default alpha 1.2): the
  * uniform re-key above leaves every dim FK uniformly loaded, so no
  * artifact ever showed a plan surviving a HOT key. With --skew the dim
  * FKs are redrawn from a Zipf(alpha) law over the full dim-key domain
  * (`o_custkey` over the 15k customers, `events.user_id` over its user
  * domain) via the truncated-Pareto inverse CDF
  * `rank = (1 + u·(N^(1-a) - 1))^(1/(1-a))`, with `u` a deterministic
  * hash of the row's primary key — at alpha 1.2 the hottest customer
  * takes ~15% of ALL orders (a genuinely pathological partition under a
  * key-hash shuffle). Row counts, primary keys and payloads are
  * untouched, so the DuckDB oracle gate runs on the skewed dir
  * unchanged — correctness and skew survival are checked on the SAME
  * artifact. SkewJoinSpec asserts AQE's OptimizeSkewedJoin actually
  * splits these partitions; docs/SCALE.md carries the measured
  * uniform-vs-skew table.
  *
  * RESEED MODE (`--reseed` or `--reseed=<seed>`, default seed 20260816):
  * every gate so far ran on mints derived from ONE generator family, so
  * in principle an oracle or threshold could be overfit to the fixture
  * seed (r11 verdict item 9). --reseed mints a same-shape sibling under
  * a new seed and the full oracle gate must stay green on it:
  *
  *  - fact PRIMARY KEYS are permuted by a hash-rank bijection INTO THE
  *    SAME dense range (new = min + rank_by_xxhash64(key, seed) − 1), so
  *    every keep-first order, %-derived planted group, and +offset
  *    fixture shift redistributes while the range assumptions the
  *    fixtures rely on stay intact; o_orderkey and l_orderkey go through
  *    the SAME map (join cardinality preserved);
  *  - documents.text is token-ROTATED by a per-doc seeded offset —
  *    every shingle, gram, minhash and LSH bucket changes while token
  *    multisets (and text length, which some corpus signatures sum)
  *    are preserved;
  *  - embeddings get ONE seed-drawn dimension permutation applied to
  *    every vector — all pairwise dot products and norms are exactly
  *    preserved (recall/threshold geometry identical in distribution)
  *    while every hyperplane sign and IVF/LSH bucket key changes.
  *
  * Row counts and dims are untouched; K is forced to 1. The DuckDB
  * oracle gate runs on the reseeded dir unchanged — a pinned literal or
  * seed-overfit threshold anywhere in the catalog goes red by name.
  *
  * Usage: runMain graft.MintScale <srcDir> <outDir> [K=10] [--skew[=a]]
  *        [--reseed[=seed]]
  */
object MintScale {
  private val KeyOffset = 1000000000L

  /** Deterministic Zipf(s)-distributed rank in [0, n) drawn from a hash
    * of `idCol` — truncated-Pareto inverse CDF, closed-form, so the
    * minted parquet is reproducible and oracle-friendly. */
  def zipfKey(idCol: Column, n: Long, s: Double): Column = {
    val m = 1000000007L
    val u = (pmod(xxhash64(idCol), lit(m)).cast("double") + 0.5) / m.toDouble
    val t = lit(1.0) + u * (pow(lit(n.toDouble), lit(1.0 - s)) - lit(1.0))
    least(lit(n - 1), greatest(lit(0L),
      (floor(pow(t, lit(1.0 / (1.0 - s)))).cast("long") - 1L)))
  }

  def main(args: Array[String]): Unit = {
    val flags = args.filter(_.startsWith("--"))
    val pos = args.filterNot(_.startsWith("--"))
    val skew: Option[Double] = flags.collectFirst {
      case f if f.startsWith("--skew") =>
        f.split("=").lift(1).map(_.toDouble).getOrElse(1.2)
    }
    val reseed: Option[Long] = flags.collectFirst {
      case f if f.startsWith("--reseed") =>
        f.split("=").lift(1).map(_.toLong).getOrElse(20260816L)
    }
    val src = pos.headOption.getOrElse("/root/testdata/sf0.1")
    val out = pos.lift(1).getOrElse("/tmp/sf1")
    val k = pos.lift(2).map(_.toInt)
      .getOrElse(if (skew.isDefined || reseed.isDefined) 1 else 10)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.core.Tables.localSession(cpus).getOrCreate()
    graft.core.Tables.setLogLevel(spark, "WARN")

    val rekey: Map[String, Seq[String]] = Map(
      "orders" -> Seq("o_orderkey"),
      "lineitem" -> Seq("l_orderkey"),
      "events" -> Seq("event_id"),
      "documents" -> Seq("doc_id"),
      "embeddings" -> Seq("vec_id"))

    def copies(df: DataFrame, keys: Seq[String]): DataFrame =
      (0 until k).map { c =>
        keys.foldLeft(df)((d, key) =>
          d.withColumn(key, col(key) + lit(c.toLong * KeyOffset)))
      }.reduce(_.unionAll(_))

    // Reseed: hash-rank key bijections per fact-PK domain, built once.
    // A window rank over the whole domain is single-partition, which is
    // fine for a mint tool (largest domain = lineitem's parent orders) —
    // but ONLY at fixture scale, so the bound is enforced, not assumed:
    // pointing --reseed at a large minted dir would otherwise sort the
    // whole key domain on one task until it OOMs (r12 ADVICE). Reseed
    // bigger sources by reseeding their sf0.1 ancestor and re-expanding.
    def keyMap(table: String, key: String, seed: Long): DataFrame = {
      val d = graft.core.Tables.load(spark, src, table)
        .select(col(key).cast("long").as("_old")).distinct()
      val domain = d.count()
      require(domain <= 10000000L,
        s"--reseed key domain for $table is $domain rows; the bijection " +
          "rank is a deliberate single-partition window sized for " +
          "fixture mints (<= 1e7 keys) — reseed the sf0.1 source and " +
          "re-expand with xK instead of reseeding a large minted dir")
      val minKey = d.agg(min(col("_old"))).head().getLong(0)
      d.withColumn("_new",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(xxhash64(col("_old"), lit(seed)), col("_old")))
          .cast("long") - 1L + minKey)
    }
    lazy val reseedMaps: Map[String, DataFrame] = reseed.map { seed =>
      Map(
        "orders" -> keyMap("orders", "o_orderkey", seed),
        "documents" -> keyMap("documents", "doc_id", seed),
        "events" -> keyMap("events", "event_id", seed),
        "embeddings" -> keyMap("embeddings", "vec_id", seed))
    }.getOrElse(Map.empty)

    def applyReseed(name: String, df: DataFrame, seed: Long): DataFrame = {
      val cols = df.columns.toSeq
      def remap(d: DataFrame, key: String, map: DataFrame): DataFrame =
        d.join(map, d(key) === map("_old"))
          .drop("_old").withColumn(key, col("_new")).drop("_new")
          .select(cols.map(col): _*)
      val keyed = name match {
        case "orders" => remap(df, "o_orderkey", reseedMaps("orders"))
        case "lineitem" => remap(df, "l_orderkey", reseedMaps("orders"))
        case "documents" => remap(df, "doc_id", reseedMaps("documents"))
        case "events" => remap(df, "event_id", reseedMaps("events"))
        case "embeddings" => remap(df, "vec_id", reseedMaps("embeddings"))
        case _ => df // dims copy through
      }
      name match {
        case "documents" =>
          // token rotation: multiset + length preserved, all grams change
          keyed.withColumn("text", expr(
            s"""array_join(concat(
               |  slice(split(text, ' '),
               |    pmod(xxhash64(doc_id, ${seed}L), size(split(text, ' '))) + 1,
               |    size(split(text, ' ')) -
               |      pmod(xxhash64(doc_id, ${seed}L), size(split(text, ' ')))),
               |  slice(split(text, ' '), 1,
               |    pmod(xxhash64(doc_id, ${seed}L), size(split(text, ' '))))),
               |' ')""".stripMargin))
        case "embeddings" =>
          // one global dimension permutation — dots/norms exact-preserved
          val dim = keyed.select(size(col("embedding"))).head().getInt(0)
          val perm = new scala.util.Random(seed).shuffle((1 to dim).toVector)
          keyed.withColumn("embedding",
            array(perm.map(j => element_at(col("embedding"), j)): _*))
        case _ => keyed
      }
    }

    graft.core.Tables.names.foreach { name =>
      val base0 =
        if (name == "events") graft.core.Tables.events(spark, src)
        else graft.core.Tables.load(spark, src, name)
      val base = reseed match {
        case Some(seed) => applyReseed(name, base0, seed)
        case None => base0
      }
      val scaled0 = rekey.get(name) match {
        case Some(keys) =>
          // Repartition so the output lands as multiple row groups —
          // the measured dir should scan in parallel like a production
          // table, not serialize on one K-file-concat row group.
          copies(base, keys).repartition(cpus.toInt)
        case None => base
      }
      // Skew mode: redraw the dim FKs Zipf(alpha) over their domain.
      val scaled = skew match {
        case Some(a) if name == "orders" =>
          val n = graft.core.Tables.load(spark, src, "customer").count()
          scaled0.withColumn("o_custkey", zipfKey(col("o_orderkey"), n, a))
        case Some(a) if name == "events" =>
          val n = base.agg(max(col("user_id"))).head().getLong(0) + 1
          scaled0.withColumn("user_id", zipfKey(col("event_id"), n, a))
        case _ => scaled0
      }
      scaled.write.mode("overwrite").parquet(s"$out/$name.parquet")
      println(s"[mint] $name -> $out/$name.parquet" +
        (if (rekey.contains(name)) s" (x$k)" else " (dim copy)"))
    }
    spark.stop()
  }
}
