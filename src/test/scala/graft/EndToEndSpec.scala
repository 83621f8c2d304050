package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.bronze.Gomus
import graft.core.Upsert
import graft.silver.Views

/** Minimal end-to-end pipeline run — the engine's analog of the
  * reference's CI stage `run_minimal_mining_pipeline.sh` (SURVEY.md §5.3):
  * raw report rows → bronze normalizers → upserted tables → second
  * incremental batch → silver union view → schema/acceptance invariants
  * (domains, key uniqueness, non-null permalinks).
  */
class EndToEndSpec extends SparkSpec {
  import spark.implicits._

  test("bronze → upsert → incremental batch → silver view → invariants") {
    val dir = scratchDir("graft-e2e")

    // ---- bronze: normalize a raw order report and upsert it (K1).
    val rawOrders1 = Seq(
      ("5001", "43840.96875", "77", "Ja", "bezahlt", "web"),
      ("5002", "44000.5", "88", "Ja", "offen", "kasse"))
      .toDF("Bestellnummer", "Erstellt", "Kundennummer", "ist gültig?",
        "Bezahlstatus", "Herkunft")
    val mapping = Seq((77, 424242), (88, 515151)).toDF("gomus_id", "customer_id")
    val orders1 = Gomus.extractOrders(rawOrders1, mapping)
    Upsert.upsertWrite(spark, s"$dir/gomus_order", orders1, Seq("order_id"))

    // ---- incremental batch: one corrected row (paid flips) + one new.
    val rawOrders2 = Seq(
      ("5002", "44000.5", "88", "Ja", "bezahlt", "kasse"),
      ("5003", "44010.0", "77", "Nein", "offen", "web"))
      .toDF("Bestellnummer", "Erstellt", "Kundennummer", "ist gültig?",
        "Bezahlstatus", "Herkunft")
    Upsert.upsertWrite(spark, s"$dir/gomus_order",
      Gomus.extractOrders(rawOrders2, mapping), Seq("order_id"))

    val orders = spark.read.parquet(s"$dir/gomus_order")
    assert(orders.count() === 3)
    // PK conflict resolved incoming-wins: 5002 is now paid.
    assert(orders.filter($"order_id" === 5002).select("paid")
      .as[Boolean].head() === true)
    // Key uniqueness invariant (reference check_posts-style).
    assert(orders.groupBy("order_id").count().filter($"count" > 1).count() === 0)

    // ---- silver: post union over two review sources + social.
    val ts = Timestamp.valueOf("2021-06-01 12:00:00")
    val app = Seq(("Apple Appstore", "r1", "great", ts, 5, 3, "https://x/r1"))
      .toDF("source", "review_id", "text", "post_date", "rating", "likes",
        "permalink")
    val museum = Seq(("Google Maps", "m1", "nice", ts, 4, "https://x/m1"))
      .toDF("source", "review_id", "text", "post_date", "rating", "permalink")
    val fb = Views.fbPostGenerated(
      Seq(("pg", "42", "hello", ts, true, 7, 1, 2,
        null.asInstanceOf[String]))
        .toDF("page_id", "post_id", "text", "post_date", "is_from_museum",
          "likes", "comments", "shares", "response_to"))
    val social = Views.withIsResponse(fb)
      .withColumn("source", lit("Facebook Post"))
      .select(col("source"), col("fb_post_id").as("post_id"), col("text"),
        col("post_date"), col("is_from_museum"), col("is_response"),
        col("likes"), col("comments"), col("shares"), col("permalink"))
    val post = Views.postUnion(app, museum, social)

    // Acceptance invariants (reference tests/schema/check_posts.py:20-100):
    // source domain, (source, post_id) uniqueness, permalink non-null and
    // URL-shaped.
    assert(post.count() === 3)
    assert(post.groupBy("source", "post_id").count()
      .filter($"count" > 1).count() === 0)
    val domains = post.select("context").distinct().as[String].collect().toSet
    assert(domains === Set("App Review", "Museum Review", "Social Media"))
    assert(post.filter($"permalink".isNull ||
      !$"permalink".rlike("^https://")).count() === 0)

    // ---- gold: per-customer order rollup joins the upserted table.
    val gold = orders.groupBy("customer_id")
      .agg(count(lit(1)).as("order_count"),
        sum(when($"paid", 1).otherwise(0)).as("paid_count"))
    val g77 = gold.filter($"customer_id" === 424242).collect().head
    assert(g77.getAs[Long]("order_count") === 2)
    assert(g77.getAs[Long]("paid_count") === 1)
  }

  test("reference fixtures → social bronze → post union → sentiment gold") {
    val refData = java.nio.file.Paths.get("/root/reference/tests/test_data")
    assume(java.nio.file.Files.isDirectory(refData))
    import graft.bronze.Social

    // bronze: the reference's OWN captured payloads through the engine
    val fbPosts = Social.fbPosts(spark.read.option("multiLine", "true")
      .json(refData.resolve("facebook/post_actual.json").toString))
    val gmaps = Social.gmapsReviews(spark.read.option("multiLine", "true")
      .json(refData.resolve("google_maps/raw_reviews.json").toString))

    // silver: branch-align and union (U1 semantics)
    val social = Views.fbPostGenerated(fbPosts)
      .select(lit("Facebook Post").as("source"),
        col("fb_post_id").as("post_id"), col("text"), col("post_date"),
        lit(false).as("is_from_museum"), lit(false).as("is_response"),
        lit(1).as("likes"), lit(0).as("comments"), lit(0).as("shares"),
        col("permalink"))
    val museum = gmaps.select(lit("Google Maps").as("source"),
      col("google_maps_review_id").as("review_id"), col("text"),
      col("post_date"), col("rating"), col("uri").as("permalink"))
    val app = Seq(("Apple Appstore", "r1", "great app", "2020-01-05T00:00:00",
      5, 3, "https://apps.example.com/r1"))
      .toDF("source", "review_id", "text", "post_date", "rating", "likes",
        "permalink")
    val post = Views.postUnion(app, museum, social)

    // acceptance invariants over the mixed corpus
    assert(post.count() === 8) // 1 app + 4 gmaps + 3 fb
    assert(post.groupBy("source", "post_id").count()
      .filter($"count" > 1).count() === 0)
    assert(post.filter($"permalink".isNull ||
      !$"permalink".rlike("^https://")).count() === 0)

    // gold: lexicon sentiment over the union (J7 + A1 shape) — the
    // review without text drops out of the explode, German/Russian
    // sentiments land via the splitter's `text` column
    val lexicon = Seq(("great", 1.0), ("pictures", 0.5), ("echter", 0.8),
      ("nicht", -0.5)).toDF("word", "weight")
    val sentiment = post
      .select(col("source"), col("post_id"),
        explode(split(lower(col("text")), "[\\s,\\.!\"]+")).as("word"))
      .join(broadcast(lexicon), Seq("word"))
      .groupBy("source")
      .agg(round(avg("weight"), 3).as("sentiment"),
        count(lit(1)).as("n_hits"))
      .orderBy("source")
      .as[(String, Double, Long)].collect().toSeq
    assert(sentiment === Seq(
      ("Apple Appstore", 1.0, 1L),    // "great"
      ("Facebook Post", 0.8, 1L),     // "echter"
      ("Google Maps", 0.0, 2L)))      // "pictures" + "nicht"
  }

  test("quotas acceptance invariants: scraped fill satisfies the " +
      "migration_052 schema contract") {
    // The reference's acceptance trio, quotas domain
    // (tests/schema/check_quotas.py + the DDL constraints the fill must
    // satisfy, migration_052.sql:4-23): presence, PK uniqueness, the
    // capacity CHECK (max - sold - reserved = available), and REFERENCES
    // gomus_quota — run over the engine's own scraped path on the
    // reference's HTML fixtures, through the K1 upsert sink.
    val refData = java.nio.file.Paths.get("/root/reference/tests/test_data/gomus")
    assume(java.nio.file.Files.isDirectory(refData))
    val dir = scratchDir("graft-e2e-quotas")
    val qDir = Files.createDirectory(java.nio.file.Paths.get(dir, "qpages"))
    val cDir = Files.createDirectory(java.nio.file.Paths.get(dir, "cpages"))
    Seq("quotas_1.html", "quotas_34.html").foreach(f =>
      Files.copy(refData.resolve(s"quotas/$f"), qDir.resolve(f)))
    // the 2021-04-19 page is the reference's ValueError fixture (no
    // basic cells, no ignored message) — it belongs to the raise test in
    // GomusScrapeSpec, not to a fill
    Seq("capacities_1_2019-10-28.html", "capacities_30_2020-10-26.html",
        "capacities_18_2021-04-12.html").foreach(f =>
      Files.copy(refData.resolve(s"capacities/$f"), cDir.resolve(f)))

    val quotas = graft.bronze.Scrape.quotaDetails(spark, qDir.toString)
    val caps0 = graft.bronze.Scrape.capacities(spark, cDir.toString,
      java.time.LocalDate.parse("2021-04-12"))
    // REFERENCES gomus_quota: the engine's FK stage (J2) enforces what
    // the reference delegates to the DDL — fixture capacity pages cover
    // quotas 1/30/18 while the quota pages cover 1/34, so the violating
    // fills drop here instead of failing a DB constraint.
    val caps = graft.core.FkFilter.filter(caps0, Seq(
      graft.core.FkFilter.Fk(Seq("quota_id"), "gomus_quota",
        quotas.select(col("quota_id")), Seq("quota_id"))))

    Upsert.upsertWrite(spark, s"$dir/gomus_quota", quotas, Seq("quota_id"))
    Upsert.upsertWrite(spark, s"$dir/gomus_capacity", caps,
      Seq("quota_id", "date", "time"))
    val quota = spark.read.parquet(s"$dir/gomus_quota")
    val capacity = spark.read.parquet(s"$dir/gomus_capacity")

    // check_quotas.py:18-31 — presence of both fills
    assert(quota.count() > 0, "No quota is present")
    assert(capacity.count() > 0, "No capacity is present")
    // PK uniqueness (quota_id) / (quota_id, date, time)
    assert(quota.groupBy("quota_id").count()
      .filter($"count" > 1).count() === 0)
    assert(capacity.groupBy("quota_id", "date", "time").count()
      .filter($"count" > 1).count() === 0)
    // the capacity CHECK, migration_052.sql:21
    assert(capacity.filter(
      $"max" - $"sold" - $"reserved" =!= $"available").count() === 0,
      "CHECK (max - sold - reserved = available) violated")
    // FK holds after the filter stage
    val known = quota.select($"quota_id").as[Int].collect().toSet
    assert(capacity.select($"quota_id").distinct().as[Int].collect()
      .forall(known), "capacity.quota_id must reference gomus_quota")
    // and the filter actually had to bite (quotas 30/18 have no page)
    assert(caps0.select($"quota_id").distinct().count() >
      capacity.select($"quota_id").distinct().count())
  }
}
