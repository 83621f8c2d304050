package graft

import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.ArrayKernelOps
import graft.queries.DedupQueries

/** Round-12 operators: ExactSubstr rewrite dedup (arbitrary-alignment
  * repeats), the Luhn / mod-97 checksum kernels behind PII tier 2, and
  * the jusText-style boilerplate classifier's threshold rules.
  */
class Round12OpsSpec extends SparkSpec {

  private def words(n: Int, tag: String): String =
    (1 to n).map(i => s"$tag$i").mkString(" ")

  // --- dedup_exact_substring core ---

  test("exactSubstringDedup removes an arbitrary-alignment repeat from " +
      "the later doc only (keep-first), leaves clean docs intact") {
    import spark.implicits._
    val shared = words(10, "dup")
    val a = s"${words(3, "ua")} $shared ${words(2, "ub")}" // first occurrence
    val b = s"${words(5, "uc")} $shared"                   // shift-5 copy
    val clean = words(12, "clean")
    val df = Seq((1L, a), (2L, b), (3L, clean)).toDF("doc_id", "text")
    val got = DedupQueries.exactSubstringDedup(df, 8).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getString(5))).toMap
    // doc 1 owns the first occurrence: nothing removed
    assert(got(1L) == (15L, 0L, 0L, 0L, a))
    // doc 2: the 10 shared tokens form 3 duplicated 8-grams (positions
    // 6,7,8) merging to ONE span covering tokens 6..15 — removed
    assert(got(2L) == (15L, 3L, 1L, 10L, words(5, "uc")))
    assert(got(3L) == (12L, 0L, 0L, 0L, clean))
  }

  test("exactSubstringDedup: within-doc repeat keeps the earlier copy; " +
      "sub-k overlaps are untouched") {
    import spark.implicits._
    val rep = words(8, "r")
    val doc = s"$rep ${words(2, "mid")} $rep" // same 8 tokens twice
    val short = s"${words(7, "s")} x ${words(7, "s")}" // 7 < k repeats
    val df = Seq((1L, doc), (2L, short)).toDF("doc_id", "text")
    val got = DedupQueries.exactSubstringDedup(df, 8).collect()
      .map(r => r.getLong(0) -> (r.getLong(4), r.getString(5))).toMap
    assert(got(1L) == (8L, s"$rep ${words(2, "mid")}"))
    assert(got(2L)._1 == 0L)
  }

  test("exactSubstringDedup: planted hot gram (1e5 repeats of one " +
      "boilerplate 8-gram) — keep-first survives without a per-gram " +
      "rank window (no single-task sort group)") {
    // 100k docs, each = 3 unique tokens + the SAME 8-token run. The hot
    // gram occurs 100,000 times; the removed row_number window would
    // have sorted all of them inside one task. The min-struct keep-first
    // folds them map-side.
    val hot = (1 to 8).map(i => s"hot$i").mkString(" ")
    val docs = spark.range(0L, 100000L)
      .select(col("id").as("doc_id"),
        concat_ws(" ", concat(lit("u"), col("id"), lit("a")),
          concat(lit("u"), col("id"), lit("b")),
          concat(lit("u"), col("id"), lit("c")), lit(hot)).as("text"))
    val out = DedupQueries.exactSubstringDedup(docs, 8)
    // plan shape: the only row_number in this query was the per-gram
    // keep-first rank; its absence IS the de-skew
    assert(!out.queryExecution.executedPlan.toString.contains("row_number"),
      "per-gram rank window reappeared in exactSubstringDedup")
    val stats = out.agg(
      sum("n_removed").as("rm"), count(lit(1)).as("n"),
      sum(when(col("n_removed") === 0, 1).otherwise(0)).as("untouched"))
      .collect().head
    assert(stats.getLong(1) == 100000L)        // every doc came back
    assert(stats.getLong(2) == 1L)             // exactly one keeper intact
    assert(stats.getLong(0) == 8L * 99999L)    // 8 tokens off each dup
    val keeper = out.filter(col("doc_id") === 0L).collect().head
    assert(keeper.getAs[String]("text_dedup") == s"u0a u0b u0c $hot")
  }

  // --- PII checksum kernels ---

  test("luhn_sum: known-valid cards pass, off-by-one check digits fail") {
    def ok(s: String): Boolean =
      ArrayKernelOps.luhnSum(UTF8String.fromString(s)) % 10 == 0
    assert(ok("4111111111111111")) // canonical Visa test number
    assert(ok("5500005555555559"))
    assert(!ok("4111111111111112"))
    assert(!ok("5500005555555551"))
    // non-digit input returns -1 (never masks)
    assert(ArrayKernelOps.luhnSum(UTF8String.fromString("41x1")) == -1)
  }

  test("mod97_fold: ISO 13616 validation accepts a known-valid IBAN and " +
      "rejects a perturbed one") {
    // DE89 3704 0044 0532 0130 00 — the ECBS example IBAN
    def rem(iban: String): Int = {
      val rearranged = iban.substring(4) + "1314" + iban.substring(2, 4)
      ArrayKernelOps.mod97Fold(UTF8String.fromString(rearranged))
    }
    assert(rem("DE89370400440532013000") == 1)
    assert(rem("DE88370400440532013000") != 1)
    assert(ArrayKernelOps.mod97Fold(UTF8String.fromString("12a")) == -1)
  }

  test("checksum kernels agree with their oracle-replayed HOF folds " +
      "through the registered SQL functions") {
    import spark.implicits._
    val df = Seq("4111111111111111", "79927398713", "123456789")
      .toDF("s")
      .select(col("s"), expr("luhn_sum(s)").as("l"),
        expr("mod97_fold(s)").as("m"),
        // the HOF fold the DuckDB oracle replays, inline
        expr("aggregate(transform(sequence(1, length(s)), i -> CASE " +
          "WHEN i % 2 = 1 THEN CASE WHEN 2 * CAST(substring(s, i, 1) AS INT) > 9 " +
          "THEN 2 * CAST(substring(s, i, 1) AS INT) - 9 " +
          "ELSE 2 * CAST(substring(s, i, 1) AS INT) END " +
          "ELSE CAST(substring(s, i, 1) AS INT) END), 0, (a, x) -> a + x)")
          .as("lRef"),
        expr("aggregate(transform(sequence(1, length(s)), " +
          "i -> CAST(substring(s, i, 1) AS INT)), 0, " +
          "(a, d) -> (a * 10 + d) % 97)").as("mRef"))
    df.collect().foreach { r =>
      assert(r.getInt(1) == r.getInt(3), s"luhn mismatch for ${r.getString(0)}")
      assert(r.getInt(2) == r.getInt(4), s"mod97 mismatch for ${r.getString(0)}")
    }
  }

  // --- boilerplate classifier thresholds (integer cross-multiplied) ---

  test("pipe_pii_redact masks only checksum-valid candidates") {
    import spark.implicits._
    // run the catalog builder against a minimal parquet fixture dir
    val dir = scratchDir("pii")
    Seq((1L, "Customer#000000001", "BUILDING"),
        (3L, "Customer#000000003", "AUTO"),
        (5L, "Customer#000000005", "STEEL"))
      .toDF("c_custkey", "c_name", "c_mktsegment")
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    val out = graft.queries.Catalog.byName("pipe_pii_redact")
      .spark(spark, dir).collect()
    val byKey = out.map(r => r.getLong(0) -> r).toMap
    // k=1: valid+broken card and IBAN planted → one of each masked
    assert(byKey(1L).getAs[Number]("n_cards_seen").longValue == 2)
    assert(byKey(1L).getAs[Number]("n_cards_valid").longValue == 1)
    assert(byKey(1L).getAs[Number]("n_ibans_valid").longValue == 1)
    val red1 = byKey(1L).getAs[String]("redacted")
    assert(red1.contains("<CC>") && red1.contains("<IBAN>") &&
      red1.contains("<IP4>") && red1.contains("<IP6>") &&
      red1.contains("<EMAIL>") && red1.contains("<PHONE>"))
    // the broken twins SURVIVE (checksum gate, not pattern match)
    assert(red1.contains(" alt 4") && red1.contains(" alt2 DE"))
    // k=3 plants a broken-only card: nothing masked, audit says 0 valid
    assert(byKey(3L).getAs[Number]("n_cards_valid").longValue == 0)
    assert(!byKey(3L).getAs[String]("redacted").contains("<CC>"))
    // k=5 plants a broken-only IBAN
    assert(byKey(5L).getAs[Number]("n_ibans_valid").longValue == 0)
    assert(!byKey(5L).getAs[String]("redacted").contains("<IBAN>"))
  }

  test("text_boilerplate_strip: nav/footer classified by link density, " +
      "promo by stopword density, content kept in order") {
    import spark.implicits._
    val dir = scratchDir("boiler")
    // first half has a stopword ('the'), second half has none →
    // content + lowstop respectively
    Seq((7L, "the quick brown fox jumps high over lazy dogs daily"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val r = graft.queries.Catalog.byName("text_boilerplate_strip")
      .spark(spark, dir).collect().head
    assert(r.getAs[Long]("n_blocks") == 5)
    assert(r.getAs[Long]("n_link") == 2)    // nav + footer
    assert(r.getAs[Long]("n_lowstop") == 2) // promo + stopword-free half
    assert(r.getAs[Long]("n_content") == 1)
    assert(r.getAs[String]("kept_text") == "the quick brown fox jumps")
  }
}
