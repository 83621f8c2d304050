package graft

import org.apache.spark.sql.functions._
import graft.streaming.Incremental

/** Streaming/batch parity: the AvailableNow streaming rollup over the
  * events table must equal the equivalent batch aggregation, and a
  * restart with the same checkpoint must process nothing new.
  */
class StreamingSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  test("availableNow windowed rollup matches batch aggregation") {
    val batchEvents = graft.core.Tables.events(spark, sfDir)
    val tmp = scratchDir("graft-stream")

    // Stage the (nanos-converted) events as a plain parquet stream source.
    batchEvents.write.mode("overwrite").parquet(s"$tmp/src")
    val src = Incremental.readStream(spark, s"$tmp/src",
      spark.read.parquet(s"$tmp/src").schema)

    val q = Incremental.runAvailableNow(
      Incremental.windowedRollup(src, "1 day", "2 hours"),
      s"$tmp/ckpt", s"$tmp/out")
    q.awaitTermination()

    // Append mode only emits a window once the watermark passes its end;
    // the final day's windows are still in state when AvailableNow stops.
    // Parity therefore holds for every window whose end <= maxTs - 2h.
    val maxTs = spark.read.parquet(s"$tmp/src")
      .agg(max(col("ts"))).collect()(0).getTimestamp(0)
    val streamed = spark.read.parquet(s"$tmp/out")
      .select(date_format(col("window_start"), "yyyy-MM-dd").as("day"),
        col("event_type"), col("n_events"))
      .orderBy("day", "event_type").collect()
    val batch = spark.read.parquet(s"$tmp/src")
      .groupBy(date_trunc("day", col("ts")).as("day_ts"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .filter(col("day_ts") + expr("INTERVAL 26 HOURS") <= lit(maxTs))
      .select(date_format(col("day_ts"), "yyyy-MM-dd").as("day"),
        col("event_type"), col("n_events"))
      .orderBy("day", "event_type").collect()
    assert(batch.nonEmpty)
    val streamedSet = streamed.map(_.toSeq).toSet
    assert(batch.map(_.toSeq).forall(streamedSet.contains),
      "every finalized batch window must appear in the streamed output")

    // Second AvailableNow run from the same checkpoint: no new input.
    val q2 = Incremental.runAvailableNow(
      Incremental.windowedRollup(src, "1 day", "2 hours"),
      s"$tmp/ckpt", s"$tmp/out")
    q2.awaitTermination()
    assert(spark.read.parquet(s"$tmp/out").count() === streamed.length.toLong)
  }

  test("availableNow + foreachBatch upsert: the FillDbHourly merge cadence") {
    import spark.implicits._
    val tmp = scratchDir("graft-stream-upsert")
    val (srcDir, table, ckpt) = (s"$tmp/src", s"$tmp/table", s"$tmp/ckpt")
    val schema = Seq((0L, "x")).toDF("id", "v").schema

    def run(): Unit = {
      val q = Incremental.runAvailableNowUpsert(
        Incremental.readStream(spark, srcDir, schema),
        ckpt, table, Seq("id"))
      q.awaitTermination()
    }

    // hour 1: initial batch
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
      .write.mode("append").parquet(srcDir)
    run()
    assert(spark.read.parquet(table).as[(Long, String)].collect().sorted
      === Seq((1L, "a"), (2L, "b"), (3L, "c")))

    // hour 2: new files with one PK conflict and one insert; only the
    // NEW files are processed (checkpoint), and the merge updates in place
    Seq((2L, "B2"), (4L, "d")).toDF("id", "v")
      .write.mode("append").parquet(srcDir)
    run()
    assert(spark.read.parquet(table).as[(Long, String)].collect().sorted
      === Seq((1L, "a"), (2L, "B2"), (3L, "c"), (4L, "d")))

    // hour 3: nothing new — table unchanged (idempotent cadence)
    run()
    assert(spark.read.parquet(table).as[(Long, String)].collect().sorted
      === Seq((1L, "a"), (2L, "B2"), (3L, "c"), (4L, "d")))
  }

  test("streaming exact dedup keeps one row per fingerprint (bounded state)") {
    val tmp = scratchDir("graft-stream-dedup")
    // Documents wrapped as an arriving stream with planted duplicate
    // fingerprints: doc_id % 100 collides 5x at sf0.001 (500 docs).
    val docs = graft.core.Tables.load(spark, sfDir, "documents")
      .select((col("doc_id") % 100).cast("string").as("fingerprint"),
        col("doc_id"),
        // deterministic arrival timestamps inside one watermark horizon
        timestamp_seconds(
          unix_timestamp(lit("2024-01-01 00:00:00").cast("timestamp"))
            + col("doc_id")).as("arrival"))
    docs.write.mode("overwrite").parquet(s"$tmp/src")
    val src = Incremental.readStream(spark, s"$tmp/src",
      spark.read.parquet(s"$tmp/src").schema)
    val q = Incremental.runAvailableNow(
      Incremental.dedupStream(src, "fingerprint", "arrival", "10 minutes"),
      s"$tmp/ckpt", s"$tmp/out")
    q.awaitTermination()
    val out = spark.read.parquet(s"$tmp/out")
    // one survivor per fingerprint, same distinct set as batch dedup
    assert(out.count() === 100L)
    assert(out.select("fingerprint").distinct().count() === 100L)
    val batchDistinct = docs.select("fingerprint").distinct().count()
    assert(batchDistinct === 100L)
  }

  test("streaming image-phash dedup admits one row per perceptual hash") {
    val tmp = scratchDir("graft-stream-phash")
    val mm = graft.multimodal.Multimodal
    // Planted exact re-uploads: two mints from the SAME seed (identical
    // PNG bytes → identical dHash) under different media ids.
    val docs = graft.core.Tables.load(spark, sfDir, "documents")
      .select("doc_id").limit(120)
    val media = mm.asImageMediaTextured(docs)
      .unionByName(mm.asImageMediaTextured(docs)
        .withColumn("media_id", col("media_id") + 100000L))
      .withColumn("arrival", timestamp_seconds(
        unix_timestamp(lit("2024-01-01 00:00:00").cast("timestamp"))
          + col("media_id") % 1000))
    media.write.mode("overwrite").parquet(s"$tmp/src")
    val src = Incremental.readStream(spark, s"$tmp/src",
      spark.read.parquet(s"$tmp/src").schema)
    val q = Incremental.runAvailableNow(
      Incremental.imagePhashDedupStream(src, "10 minutes"),
      s"$tmp/ckpt", s"$tmp/out")
    q.awaitTermination()
    val out = spark.read.parquet(s"$tmp/out")
    val batch = mm.imageDHashStamped(spark.read.parquet(s"$tmp/src"))
    val batchDistinct = batch.select("h").distinct().count()
    // every re-upload collapsed; admitted set = the distinct hash set
    assert(out.count() === batchDistinct)
    assert(out.select("h").distinct().count() === batchDistinct)
    // the planted duplicates actually collided (dedup had work to do);
    // >= leaves room for an honest cross-seed hash collision
    assert(batch.count() >= 2 * batchDistinct,
      "every seed should appear at least twice via its identical re-upload")
    assert(batchDistinct >= 100, "hashes should be diverse across seeds")
  }

  test("streaming near-dup gate flags radius-3 re-uploads at admission") {
    val tmp = scratchDir("graft-stream-neardup")
    val mm = graft.multimodal.Multimodal
    // Originals arrive first (arrival ordered by media_id), then the
    // PERTURBED re-uploads: same mint seed with the red channel bumped
    // one level — a <=3-bit dHash perturbation (the batch
    // dedup_image_phash plant), NOT an exact hash match, so the old
    // exact gate cannot catch it and the band-keyed ledger must.
    val docs = graft.core.Tables.load(spark, sfDir, "documents")
      .select("doc_id").limit(120)
    val base = unix_timestamp(lit("2024-01-01 00:00:00").cast("timestamp"))
    val media = mm.asImageMediaTextured(docs)
      .withColumn("arrival", timestamp_seconds(base + col("media_id")))
      .unionByName(mm.asImageMediaTexturedBumped(docs)
        .withColumn("arrival",
          timestamp_seconds(base + col("media_id") - 100000L + 500L)))
    media.write.mode("overwrite").parquet(s"$tmp/src")
    val src = Incremental.readStream(spark, s"$tmp/src",
      spark.read.parquet(s"$tmp/src").schema)
    val q = Incremental.runAvailableNow(
      Incremental.imageNearDupGateStream(src, "10 minutes"),
      s"$tmp/ckpt", s"$tmp/out")
    q.awaitTermination()
    val flags = spark.read.parquet(s"$tmp/out")
    // Every planted perturbed re-upload is flagged IN-STREAM against its
    // original (media_id - 100000), at a strictly positive Hamming
    // distance for at least some pairs (it's a near-dup gate, not the
    // exact gate).
    val caught = flags
      .filter(col("media_id") >= 100000L &&
        col("matched_with") === col("media_id") - 100000L)
      .select("media_id").distinct().count()
    assert(caught === 120L,
      s"all 120 perturbed re-uploads must be flagged at admission, got $caught")
    assert(flags.filter(col("hamming") > 0).count() > 0,
      "some planted pairs must match at nonzero Hamming distance")
    // State is band-bucket ledgers, bounded: one state row per live
    // (band, bv) bucket — never more than 4 x admitted hashes, and far
    // fewer than total arrivals once buckets share values.
    val stateRows = q.recentProgress.flatMap(_.stateOperators)
      .map(_.numRowsTotal).max
    val admitted = mm.imageDHashStamped(spark.read.parquet(s"$tmp/src"))
      .select("h").distinct().count()
    assert(stateRows <= 4 * admitted,
      s"state rows $stateRows must be bounded by live band buckets")
    // Stream/batch parity: identical flag set to the batch twin running
    // the same admission fold without state carry-over.
    val streamedSet = flags
      .select("media_id", "matched_with", "band", "hamming")
      .collect().map(_.toSeq).toSet
    val batchSet = Incremental
      .imageNearDupFlagsBatch(spark.read.parquet(s"$tmp/src"))
      .select("media_id", "matched_with", "band", "hamming")
      .collect().map(_.toSeq).toSet
    assert(streamedSet === batchSet,
      "stream admission flags must equal the batch twin's")
  }

  test("streaming text near-dup gate flags MinHash band collisions at " +
      "admission, with batch-twin parity and bounded state") {
    val tmp = scratchDir("graft-stream-textdup")
    // Originals arrive first, then PERTURBED re-posts: one token appended
    // — NOT an exact fingerprint match (dedupStream can't see it), but
    // Jaccard ≈ (n-2)/(n-1) on word-3-shingles, so the MinHash band
    // ledger must. Docs are length-filtered so the planted similarity is
    // high enough that a 4×3 LSH miss is ~1e-4 per doc.
    val base = unix_timestamp(lit("2024-01-01 00:00:00").cast("timestamp"))
    val docs = graft.core.Tables.load(spark, sfDir, "documents")
      .filter(size(split(lower(col("text")), "\\s+")) >= 20)
      .select("doc_id", "text").limit(100)
    val media = docs
      .withColumn("arrival", timestamp_seconds(base + col("doc_id") % 400))
      .unionByName(docs
        .select((col("doc_id") + 100000L).as("doc_id"),
          concat(col("text"), lit(" zq9tail")).as("text"))
        .withColumn("arrival",
          timestamp_seconds(base + col("doc_id") % 400 + 500L)))
    media.write.mode("overwrite").parquet(s"$tmp/src")
    val src = Incremental.readStream(spark, s"$tmp/src",
      spark.read.parquet(s"$tmp/src").schema)
    val q = Incremental.runAvailableNow(
      Incremental.textNearDupGateStream(src, "10 minutes"),
      s"$tmp/ckpt", s"$tmp/out")
    q.awaitTermination()
    val flags = spark.read.parquet(s"$tmp/out")
    // near-exhaustive capture of the planted re-posts (LSH miss odds are
    // ~1e-4 each; >= 95 leaves honest room without going probabilistic)
    val caught = flags.filter(col("doc_id") >= 100000L)
      .select("doc_id").distinct().count()
    assert(caught >= 95L,
      s"planted near-dup re-posts must be flagged at admission, got $caught")
    // most plants match their OWN original (some originals are fixture
    // near-dups of each other, so a few match an earlier keeper instead)
    val ownMatch = flags
      .filter(col("doc_id") >= 100000L &&
        col("matched_with") === col("doc_id") - 100000L)
      .select("doc_id").distinct().count()
    assert(ownMatch >= 50L,
      s"plants should mostly match their own original, got $ownMatch")
    // Bounded state: one O(1) ledger row per live (band, key) bucket —
    // at most 4 band keys per admitted doc.
    val stateRows = q.recentProgress.flatMap(_.stateOperators)
      .map(_.numRowsTotal).max
    assert(stateRows <= 4L * media.count(),
      s"state rows $stateRows must be bounded by live band buckets")
    // Stream/batch parity: identical flag set to the stateless twin.
    val streamedSet = flags.select("doc_id", "matched_with", "band")
      .collect().map(_.toSeq).toSet
    val batchSet = Incremental
      .textNearDupFlagsBatch(spark.read.parquet(s"$tmp/src"))
      .select("doc_id", "matched_with", "band")
      .collect().map(_.toSeq).toSet
    assert(streamedSet === batchSet,
      "stream admission flags must equal the batch twin's")
  }

  test("streaming curation intake equals the batch transform row-for-row") {
    val tmp = scratchDir("graft-stream-curate")
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    docs.write.mode("overwrite").parquet(s"$tmp/src")
    val src = Incremental.readStream(spark, s"$tmp/src",
      spark.read.parquet(s"$tmp/src").schema)
    val q = Incremental.runAvailableNow(
      Incremental.curationIntake(src), s"$tmp/ckpt", s"$tmp/out")
    q.awaitTermination()
    val streamed = spark.read.parquet(s"$tmp/out")
      .collect().map(_.toSeq).toSet
    val batch = graft.queries.CurationQueries
      .curateChunks(spark.read.parquet(s"$tmp/src"))
      .collect().map(_.toSeq).toSet
    assert(batch.nonEmpty)
    assert(streamed === batch,
      "stateless intake must produce identical chunks in both modes")
  }

  test("session_window gap sessionization runs in streaming mode") {
    val batchEvents = graft.core.Tables.events(spark, sfDir)
    val tmp = scratchDir("graft-stream-sess")
    batchEvents.write.mode("overwrite").parquet(s"$tmp/src")
    val src = Incremental.readStream(spark, s"$tmp/src",
      spark.read.parquet(s"$tmp/src").schema)
    val q = Incremental.runAvailableNow(
      Incremental.sessionized(src, "30 minutes", "1 hour"),
      s"$tmp/ckpt", s"$tmp/out")
    q.awaitTermination()
    val out = spark.read.parquet(s"$tmp/out")
    assert(out.count() > 0)
    assert(out.schema.fieldNames.toSeq ===
      Seq("session_start", "user_id", "n_events"))
  }

  test("stream-stream interval join equals the batch join row-for-row") {
    val tmp = scratchDir("graft-stream-ssj")
    val ev = graft.core.Tables.events(spark, sfDir)
    ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("p_id"))
      .write.mode("overwrite").parquet(s"$tmp/purchases")
    ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("event_id").as("c_id"))
      .write.mode("overwrite").parquet(s"$tmp/clicks")
    val pStream = Incremental.readStream(spark, s"$tmp/purchases",
      spark.read.parquet(s"$tmp/purchases").schema)
    val cStream = Incremental.readStream(spark, s"$tmp/clicks",
      spark.read.parquet(s"$tmp/clicks").schema)
    val q = Incremental.runAvailableNow(
      Incremental.attributionJoin(pStream, cStream, "2 hours"),
      s"$tmp/ckpt", s"$tmp/out")
    q.awaitTermination()
    // Batch twin: the identical interval join as a plain (non-streaming)
    // plan over the same staged inputs.
    val batch = spark.read.parquet(s"$tmp/purchases")
      .join(spark.read.parquet(s"$tmp/clicks"),
        expr("p_user = c_user AND " +
          "c_ts >= p_ts - INTERVAL 1 HOUR AND c_ts < p_ts"))
      .select("p_id", "c_id").collect().map(_.toSeq)
    val streamed = spark.read.parquet(s"$tmp/out")
      .select("p_id", "c_id").collect().map(_.toSeq)
    assert(batch.nonEmpty, "fixture produced no attributable pairs")
    // Multiset equality via sorted comparison on the unique id pairs.
    assert(streamed.sortBy(_.toString) === batch.sortBy(_.toString),
      "inner stream-stream interval join must emit exactly the batch rows")
  }

  test("streaming funnel stages equal the batch funnel per user") {
    val tmp = scratchDir("graft-stream-funnel")
    val ev = graft.core.Tables.events(spark, sfDir)
    // One file => one micro-batch => per-user events fold in event-time
    // order, the contract under which streaming equals batch exactly.
    ev.select("user_id", "ts", "event_type")
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/src")
    val src = Incremental.readStream(spark, s"$tmp/src",
      spark.read.parquet(s"$tmp/src").schema)
    val q = Incremental.runAvailableNow(Incremental.funnelStages(src),
      s"$tmp/ckpt", s"$tmp/out")
    q.awaitTermination()
    val streamed = spark.read.parquet(s"$tmp/out")
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap

    // Batch twin: the window_funnel per-user chained conditional mins.
    val src2 = spark.read.parquet(s"$tmp/src")
    val w = org.apache.spark.sql.expressions.Window.partitionBy("user_id")
    val batch = src2
      .withColumn("t1",
        min(when(col("event_type") === "view", col("ts"))).over(w))
      .withColumn("t2",
        min(when(col("event_type") === "click" && col("ts") > col("t1"),
          col("ts"))).over(w))
      .withColumn("t3",
        min(when(col("event_type") === "purchase" && col("ts") > col("t2"),
          col("ts"))).over(w))
      .groupBy("user_id")
      .agg(max(unix_micros(col("t1"))).as("t1"),
        max(unix_micros(col("t2"))).as("t2"),
        max(unix_micros(col("t3"))).as("t3"))
      .collect()
      .map(r => (r.getLong(0), (
        if (r.isNullAt(1)) -1L else r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3))))
      .toMap
    assert(batch.nonEmpty)
    assert(batch.values.exists(_._3 >= 0), "no user completes the funnel")
    assert(streamed == batch,
      "streaming funnel state must equal the batch chained-window result")
  }

  test("stream-static enrichment equals the batch join, and sees dim refreshes") {
    val tmp = scratchDir("graft-stream-enrich")
    val ev = graft.core.Tables.events(spark, sfDir)
    ev.select("event_id", "user_id", "value")
      .write.mode("overwrite").parquet(s"$tmp/facts")
    val cust = graft.core.Tables.load(spark, sfDir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"))
    cust.write.mode("overwrite").parquet(s"$tmp/dim")
    val src = Incremental.readStream(spark, s"$tmp/facts",
      spark.read.parquet(s"$tmp/facts").schema)
    val dim = spark.read.parquet(s"$tmp/dim")
    val q = Incremental.runAvailableNow(
      Incremental.enrichStream(src, dim, "user_id", "c_custkey"),
      s"$tmp/ckpt", s"$tmp/out")
    q.awaitTermination()
    val streamed = spark.read.parquet(s"$tmp/out")
      .groupBy("c_mktsegment").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val batch = spark.read.parquet(s"$tmp/facts")
      .join(cust, col("user_id") === col("c_custkey"))
      .groupBy("c_mktsegment").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(batch.nonEmpty && streamed == batch)

    // Dim refresh (replace-content) + NEW fact files only: the next
    // AvailableNow run reads the refreshed dim for the new arrivals.
    cust.withColumn("c_mktsegment", concat(lit("R_"), col("c_mktsegment")))
      .write.mode("overwrite").parquet(s"$tmp/dim")
    ev.select((col("event_id") + 1000000L).as("event_id"), col("user_id"),
        col("value")).limit(100)
      .write.mode("append").parquet(s"$tmp/facts")
    val dim2 = spark.read.parquet(s"$tmp/dim")
    val q2 = Incremental.runAvailableNow(
      Incremental.enrichStream(src, dim2, "user_id", "c_custkey"),
      s"$tmp/ckpt", s"$tmp/out")
    q2.awaitTermination()
    val refreshed = spark.read.parquet(s"$tmp/out")
      .filter(col("c_mktsegment").startsWith("R_")).count()
    assert(refreshed > 0, "second batch must see the refreshed dim")
  }

  test("streaming heavy hitters: exact parity above capacity, theorems below") {
    val batchEvents = graft.core.Tables.events(spark, sfDir)
    val tmp = scratchDir("graft-stream-hh")
    batchEvents
      .select(col("ts"), (col("user_id") % 2).cast("string").as("grp"),
        col("event_type").as("w"))
      .write.mode("overwrite").parquet(s"$tmp/src")
    val maxTs = spark.read.parquet(s"$tmp/src")
      .agg(max(col("ts"))).collect()(0).getTimestamp(0)
    // exact per-(finalized day, grp, item) counts, batch side
    val exact = spark.read.parquet(s"$tmp/src")
      .groupBy(date_trunc("day", col("ts")).as("day"), col("grp"), col("w"))
      .agg(count(lit(1)).as("n"))
      .filter(col("day") + expr("INTERVAL 26 HOURS") <= lit(maxTs))
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getString(2)) -> r.getLong(3))
      .toMap
    assert(exact.nonEmpty)

    def streamed(k: Int, tag: String): Map[(java.sql.Timestamp, String), Map[String, Long]] = {
      val src = Incremental.readStream(spark, s"$tmp/src",
        spark.read.parquet(s"$tmp/src").schema)
      val q = Incremental.runAvailableNow(
        Incremental.heavyHitters(src, "1 day", "2 hours", k),
        s"$tmp/ckpt$tag", s"$tmp/out$tag")
      q.awaitTermination()
      spark.read.parquet(s"$tmp/out$tag")
        .select(col("window_start"), col("grp"), explode(col("sketch")).as("it"))
        .select(col("window_start"), col("grp"), col("it.item"), col("it.est"))
        .collect()
        .groupBy(r => (r.getTimestamp(0), r.getString(1)))
        .map { case (key, rows) =>
          key -> rows.map(r => r.getString(2) -> r.getLong(3)).toMap
        }
    }

    // k=8 >= 5 distinct event types: the MG summary is EXACT, so every
    // finalized window's sketch must equal the batch counts.
    val exactSketches = streamed(8, "a")
    exact.groupBy { case ((day, grp, _), _) => (day, grp) }.foreach {
      case ((day, grp), items) =>
        val sk = exactSketches.getOrElse((day, grp),
          fail(s"missing finalized window ($day, $grp)"))
        assert(sk == items.map { case ((_, _, w), n) => w -> n },
          s"window ($day, $grp)")
    }

    // k=3 < 5 distinct: at most k counters per window and the MG
    // underestimate theorem holds against exact counts.
    val bounded = streamed(3, "b")
    exact.groupBy { case ((day, grp, _), _) => (day, grp) }.foreach {
      case ((day, grp), items) =>
        val n = items.values.sum
        bounded.get((day, grp)).foreach { sk =>
          assert(sk.size <= 3)
          sk.foreach { case (w, est) =>
            val ex = items(((day, grp, w)))
            assert(est <= ex && (ex - est) * 4 <= n,
              s"window ($day, $grp) item $w: est=$est exact=$ex n=$n")
          }
        }
    }
  }

  test("streaming Viterbi intent gate equals the batch DP across micro-batches") {
    val tmp = scratchDir("graft-stream-intent")
    val ev = graft.core.Tables.events(spark, sfDir)
      .select("event_id", "user_id", "ts", "event_type")
    // Two files split at the median event time, processed one per
    // trigger (maxFilesPerTrigger=1) -> TWO micro-batches with the
    // early half first: state must carry the DP across the batch
    // boundary, the in-order-across-batches streaming contract.
    val cut = ev.selectExpr("percentile_approx(unix_micros(ts), 0.5)")
      .head().getLong(0)
    ev.filter(unix_micros(col("ts")) < cut)
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/src")
    Thread.sleep(1100) // file-source ordering is by modification time
    ev.filter(unix_micros(col("ts")) >= cut)
      .coalesce(1).write.mode("append").parquet(s"$tmp/src")
    val src = spark.readStream
      .schema(spark.read.parquet(s"$tmp/src").schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$tmp/src")
    val q = Incremental.runAvailableNow(Incremental.intentStream(src),
      s"$tmp/ckpt", s"$tmp/out")
    q.awaitTermination()
    // Append emits one row per (user, batch); keep the last = the row
    // with the largest n_events per user.
    val outRows = spark.read.parquet(s"$tmp/out")
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getString(2), r.getLong(3))))
    val streamed = outRows.groupBy(_._1).map { case (u, rs) =>
      u -> rs.map(_._2).maxBy(_._1)
    }
    // Batch twin: the catalog DP (the aggregate-fold query itself).
    val batch = graft.queries.Catalog.byName("ml_hmm_viterbi")
      .spark(spark, sfDir).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getString(2), r.getLong(3))))
      .toMap
    assert(batch.nonEmpty)
    assert(outRows.groupBy(_._1).values.exists(_.length == 2),
      "expected at least one user spanning both micro-batches")
    assert(streamed == batch,
      "streaming Viterbi state must equal the batch max-plus DP")
  }

  test("left-outer stream-stream attribution: matches exact, nulls watermark-closed") {
    val tmp = scratchDir("graft-stream-ssjo")
    val ev = graft.core.Tables.events(spark, sfDir)
    ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("p_id"))
      .write.mode("overwrite").parquet(s"$tmp/purchases")
    ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("event_id").as("c_id"))
      .write.mode("overwrite").parquet(s"$tmp/clicks")
    val pStream = Incremental.readStream(spark, s"$tmp/purchases",
      spark.read.parquet(s"$tmp/purchases").schema)
    val cStream = Incremental.readStream(spark, s"$tmp/clicks",
      spark.read.parquet(s"$tmp/clicks").schema)
    val q = Incremental.runAvailableNow(
      Incremental.attributionJoinOuter(pStream, cStream, "2 hours"),
      s"$tmp/ckpt", s"$tmp/out")
    q.awaitTermination()
    val out = spark.read.parquet(s"$tmp/out")
    val matched = out.filter(col("c_id").isNotNull)
      .select("p_id", "c_id").collect().map(_.toSeq)
    val nullIds = out.filter(col("c_id").isNull)
      .select("p_id").collect().map(_.getLong(0))
    // Matched rows are EXACTLY the batch inner join.
    val batchP = spark.read.parquet(s"$tmp/purchases")
    val batchC = spark.read.parquet(s"$tmp/clicks")
    val inner = batchP.join(batchC,
        expr("p_user = c_user AND " +
          "c_ts >= p_ts - INTERVAL 1 HOUR AND c_ts < p_ts"))
    assert(matched.sortBy(_.toString) ===
      inner.select("p_id", "c_id").collect().map(_.toSeq).sortBy(_.toString),
      "outer join's matched rows must equal the batch inner join")
    // Null rows: one per unmatched purchase, only for purchases whose
    // join window the final watermark (min of both streams' max event
    // time minus the 2h lateness) has passed; boundary rows get a 5 min
    // safety margin rather than pinning the engine's exact boundary.
    assert(nullIds.length === nullIds.toSet.size, "duplicate null rows")
    val unmatchedAll = batchP
      .join(inner.select("p_id"), Seq("p_id"), "left_anti")
    val maxP = batchP.agg(max(col("p_ts"))).head().getTimestamp(0).getTime
    val maxC = batchC.agg(max(col("c_ts"))).head().getTimestamp(0).getTime
    val wmMs = math.min(maxP, maxC) - 2L * 3600 * 1000
    val mustEmit = unmatchedAll
      .filter(col("p_ts").cast("long") * 1000 < lit(wmMs - 5 * 60 * 1000))
      .select("p_id").collect().map(_.getLong(0)).toSet
    val unmatchedSet = unmatchedAll.select("p_id").collect()
      .map(_.getLong(0)).toSet
    val nullSet = nullIds.toSet
    assert(mustEmit.nonEmpty, "fixture has no watermark-closed unmatched purchase")
    assert(mustEmit.subsetOf(nullSet),
      s"${(mustEmit -- nullSet).size} closed unmatched purchases missing null rows")
    assert(nullSet.subsetOf(unmatchedSet),
      "a null row was emitted for a purchase the batch join matches")
  }
  test("aspect token matching runs stateless in-stream with catalog parity") {
    val docs = graft.core.Tables.load(spark, sfDir, "documents")
      .select(col("source"), col("doc_id").as("post_id"), col("text"))
    val tmp = scratchDir("graft-stream-aspect")
    docs.write.mode("overwrite").parquet(s"$tmp/src")
    val src = Incremental.readStream(spark, s"$tmp/src",
      spark.read.parquet(s"$tmp/src").schema)

    val q = Incremental.runAvailableNow(
      Incremental.aspectTokenMatches(src), s"$tmp/ckpt", s"$tmp/out")
    q.awaitTermination()
    // STATELESS: pure append with no aggregation/dedup state anywhere —
    // a new document's matches emit in the micro-batch it arrives in.
    assert(q.lastProgress == null ||
      q.lastProgress.stateOperators.isEmpty,
      "aspect matching must not register any stateful operator")

    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("source", "post_id", "word_index", "aspect_id",
          "aspect_word", "match_algorithm")
        .collect().map(_.toString).sorted.toSeq
    val streamed = canon(spark.read.parquet(s"$tmp/out"))
    val batchCatalog = canon(
      graft.queries.Catalog.byName("pipe_aspect_match").spark(spark, sfDir))
    assert(streamed.size == batchCatalog.size,
      s"streamed ${streamed.size} rows vs catalog ${batchCatalog.size}")
    assert(streamed == batchCatalog,
      "stream and batch catalog outputs must be value-identical")
    // the inline form also runs as a plain batch transform — same rows
    val batchInline = canon(Incremental.aspectTokenMatches(docs))
    assert(batchInline == batchCatalog)
  }

  // r13 verdict item 4: the O(live band keys) state claim becomes a
  // FAILING TEST instead of a scaladoc comment. Drive the text gate
  // through several eviction horizons of multi-batch input and assert
  // the state store holds ~two batches' band keys, not the stream's.
  test("text near-dup gate state is evicted past the watermark horizon") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val tmp = scratchDir("graft-evict-text")
    val input = MemoryStream[(Long, java.sql.Timestamp, String)]
    val docs = input.toDF.toDF("doc_id", "arrival", "text")
    val q = Incremental.textNearDupGateStream(docs, "10 minutes")
      .writeStream.format("memory").queryName("tndg_evict")
      .outputMode("append")
      .option("checkpointLocation", s"$tmp/ckpt").start()
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val nBatches = 5
    val bSize = 25
    val stateAfter = (0 until nBatches).map { k =>
      // one hour between batches >> the 10-minute horizon; every doc's
      // text is unique (6 batch+doc-salted tokens), so each contributes
      // ~4 fresh band keys and none collide across batches
      input.addData((0 until bSize).map { i =>
        (k * 1000L + i,
          new java.sql.Timestamp(base + k * 3600000L + i * 1000L),
          s"aa${k}x$i bb${k}y$i cc${k}z$i dd$k$i ee$i$k ff$k$i")
      })
      q.processAllAvailable()
      q.lastProgress.stateOperators.map(_.numRowsTotal).sum
    }
    q.stop()
    val perBatchKeys = 4L * bSize
    // lazy eviction keeps at most the current + previous batch's groups
    // (timeouts fire one batch after the watermark passes them)
    assert(stateAfter.last <= 2 * perBatchKeys + 8,
      s"state ${stateAfter.last} rows exceeds two batches' band keys " +
        s"(${2 * perBatchKeys}) — eviction is not happening")
    // and strictly below the no-eviction floor of all past batches
    assert(stateAfter.last < (nBatches - 1) * perBatchKeys,
      s"state ${stateAfter.last} implies the horizon never evicted")
    // the early-stream reading actually accumulated before eviction
    assert(stateAfter.head >= perBatchKeys / 2,
      s"first batch registered only ${stateAfter.head} state rows")
  }

  test("image phash dedup state is evicted past the watermark horizon") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val tmp = scratchDir("graft-evict-phash")
    val mm = graft.multimodal.Multimodal
    val nBatches = 5
    val bSize = 20
    // pre-render nBatches*bSize DISTINCT png payloads (per-seed mints),
    // sliced per batch — distinct hashes make cumulative-vs-evicted
    // state distinguishable
    val payloads = mm.asImageMediaTextured(
        graft.core.Tables.load(spark, sfDir, "documents")
          .select("doc_id").limit(nBatches * bSize))
      .select("media_id", "payload")
      .collect().map(r => (r.getLong(0), r.getAs[Array[Byte]](1)))
    val input = MemoryStream[(Long, Array[Byte], java.sql.Timestamp)]
    val media = input.toDF.toDF("media_id", "payload", "arrival")
    val q = Incremental.imagePhashDedupStream(media, "10 minutes")
      .writeStream.format("memory").queryName("phash_evict")
      .outputMode("append")
      .option("checkpointLocation", s"$tmp/ckpt").start()
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val stateAfter = (0 until nBatches).map { k =>
      input.addData(payloads.slice(k * bSize, (k + 1) * bSize)
        .zipWithIndex.map { case ((id, bytes), i) =>
          (id, bytes,
            new java.sql.Timestamp(base + k * 3600000L + i * 1000L))
        }.toSeq)
      q.processAllAvailable()
      q.lastProgress.stateOperators.map(_.numRowsTotal).sum
    }
    q.stop()
    // dropDuplicatesWithinWatermark keys state on h: bounded by ~two
    // batches of live hashes once the watermark passes older ones
    assert(stateAfter.last <= 2L * bSize + 4,
      s"state ${stateAfter.last} rows exceeds two batches of hashes " +
        s"(${2 * bSize}) — eviction is not happening")
    assert(stateAfter.last < (nBatches - 1).toLong * bSize,
      s"state ${stateAfter.last} implies the horizon never evicted")
    assert(stateAfter.head >= bSize / 2,
      s"first batch registered only ${stateAfter.head} state rows")
  }

}
