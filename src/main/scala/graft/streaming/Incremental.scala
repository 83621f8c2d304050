package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** Structured Streaming forms of the reference's incremental-batch
  * patterns (SURVEY.md §2.9).
  *
  * The reference has no true streaming — "hourly" is a cron re-run
  * (src/_fill_db.py:48-54) with a high-watermark predicate
  * (src/absa/post_words.py:106-115). `Trigger.AvailableNow` is the exact
  * Spark-native equivalent: process everything new since the last
  * checkpoint, then stop — same cadence semantics, but exactly-once and
  * restartable from state instead of re-deriving a watermark per run.
  */
object Incremental {

  /** Milliseconds in a watermark horizon such as "10 minutes"; a horizon
    * in months has no fixed length and is rejected. */
  private def horizonMs(late: String): Long = {
    val iv = org.apache.spark.sql.catalyst.util.IntervalUtils
      .stringToInterval(
        org.apache.spark.unsafe.types.UTF8String.fromString(late))
    require(iv.months == 0, s"horizon '$late' must not use months")
    iv.days * 86400000L + iv.microseconds / 1000L
  }

  /** Epoch microseconds of a timestamp, the unit of the state ledgers. */
  private def micros(ts: java.sql.Timestamp): Long = {
    val inst = ts.toInstant
    inst.getEpochSecond * 1000000L + inst.getNano / 1000L
  }

  /** File-stream source over a parquet table directory with an enforced
    * schema (the streaming analog of graft.core.Tables.load). */
  def readStream(spark: SparkSession, dir: String, schema: StructType): DataFrame =
    spark.readStream.schema(schema).parquet(dir)

  /** Watermarked tumbling-window rollup — the streaming form of the daily
    * entries rollup (A8, reference predict.py:75-84): per-window sums that
    * tolerate `late` out-of-order data before finalizing. */
  def windowedRollup(events: DataFrame, window_ : String, late: String): DataFrame =
    events
      .withWatermark("ts", late)
      .groupBy(window(col("ts"), window_), col("event_type"))
      .agg(sum("value").as("total_value"), count(lit(1)).as("n_events"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("total_value"), col("n_events"))

  /** Gap-based sessionization (W2, reference keyword_intervals.py:117-141)
    * via the native session_window — state-backed in streaming, plain
    * aggregation in batch. */
  def sessionized(events: DataFrame, gap: String, late: String): DataFrame =
    events
      .withWatermark("ts", late)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("session_window.start").as("session_start"),
        col("user_id"), col("n_events"))

  /** Streaming exact dedup — the ingestion-side twin of the batch
    * `dedup_exact` operator (LLM-pipeline family): keep the first arrival
    * per fingerprint, with `dropDuplicatesWithinWatermark` so the
    * dedup state is BOUNDED by the watermark horizon instead of growing
    * with the full corpus (plain dropDuplicates state never expires — a
    * non-starter for a continuous 100 TB ingest). */
  def dedupStream(docs: DataFrame, fingerprintCol: String, tsCol: String,
      late: String): DataFrame =
    docs
      .withWatermark(tsCol, late)
      .dropDuplicatesWithinWatermark(fingerprintCol)

  /** Streaming multimodal near-dup gate — the ingest-time twin of the
    * batch `dedup_image_phash` operator: arriving image payloads decode
    * (REAL ImageIO, stateless mapPartitions) to the packed 64-bit dHash,
    * and an arrival whose EXACT perceptual hash was already admitted
    * inside the watermark horizon is dropped —
    * `dropDuplicatesWithinWatermark` keys its bounded state on the hash,
    * so state is O(distinct hashes per horizon), not O(stream). The
    * Hamming-BALL pair search (near-but-not-identical) stays a
    * batch/periodic job over the admitted set; the streaming gate
    * removes the exact re-uploads that dominate real media ingest. */
  def imagePhashDedupStream(media: DataFrame, late: String): DataFrame =
    graft.multimodal.Multimodal.imageDHashStamped(media)
      .withWatermark("arrival", late)
      .dropDuplicatesWithinWatermark("h")

  /** One (band, bucket) admission ledger for the streaming NEAR-dup
    * gate: the media ids and full 64-bit hashes admitted in this bucket
    * (parallel lists, capped), plus the newest arrival micros for
    * watermark-horizon eviction. */
  case class PhashBucketState(ids: List[Long], hs: List[Long],
      maxArrivalUs: Long)

  /** One exploded band arrival: a media's full hash plus the 16-bit
    * band slice that keys its bucket. */
  case class PhashArrival(media_id: Long, arrival: java.sql.Timestamp,
      h: Long, band: Int, bv: Long)

  /** A near-dup flagged AT ADMISSION: `media_id` arrived within Hamming
    * radius <= 3 of the already-admitted `matched_with`. */
  case class PhashNearDup(media_id: Long, matched_with: Long,
      band: Int, hamming: Int, arrival: java.sql.Timestamp)

  /** Shared admission core for the batch twin and the streaming gate:
    * fold one bucket's arrivals (in (arrival, media_id) order — the
    * admission order) into the ledger. An arrival within Hamming <= 3
    * of an admitted hash is FLAGGED (against the closest admitted match,
    * ties to the lowest id) and NOT admitted; otherwise it joins the
    * ledger, subject to the same per-bucket cap the batch operator uses
    * (a saturated bucket admits no more — the bounded-state contract). */
  private def phashAdmit(arrivals: Seq[PhashArrival],
      prior: PhashBucketState, cap: Int):
      (Seq[PhashNearDup], PhashBucketState) = {
    var ids = prior.ids // oldest-first; appends keep admission order
    var hs = prior.hs
    var n = ids.length
    var maxUs = prior.maxArrivalUs
    val flags = scala.collection.mutable.ArrayBuffer.empty[PhashNearDup]
    arrivals.sortBy(a => (a.arrival.getTime, a.media_id)).foreach { a =>
      val us = micros(a.arrival)
      if (us > maxUs) maxUs = us
      var bestHam = 4
      var bestId = Long.MaxValue
      var i = ids
      var j = hs
      while (i.nonEmpty) {
        val ham = java.lang.Long.bitCount(a.h ^ j.head)
        if (ham < bestHam || (ham == bestHam && i.head < bestId)) {
          if (ham <= 3) { bestHam = ham; bestId = i.head }
        }
        i = i.tail; j = j.tail
      }
      if (bestHam <= 3)
        flags += PhashNearDup(a.media_id, bestId, a.band, bestHam, a.arrival)
      else if (n < cap) { ids = ids :+ a.media_id; hs = hs :+ a.h; n += 1 }
    }
    (flags.toSeq, PhashBucketState(ids, hs, maxUs))
  }

  /** Explode stamped hashes into their four 16-bit pigeonhole bands —
    * by pigeonhole, two hashes within Hamming distance <= 3 agree
    * EXACTLY on at least one band, so per-band equality buckets see
    * every radius-3 pair. */
  private def phashBands(stamped: DataFrame): DataFrame =
    stamped.select(col("media_id"), col("arrival"), col("h"),
      posexplode(array((0 to 3).map(b =>
        shiftright(col("h"), 16 * b).bitwiseAND(lit(0xffffL))): _*))
        .as(Seq("band", "bv")))

  /** Streaming NEAR-dup admission gate (VERDICT r6 item 5) — upgrades
    * [[imagePhashDedupStream]] from exact-hash to Hamming-radius-3
    * matching IN-STREAM: arriving images decode to the 64-bit dHash,
    * each hash lands in its four pigeonhole band buckets, and a
    * `flatMapGroupsWithState` ledger per (band, value) flags any
    * arrival within radius 3 of an already-admitted hash at admission
    * time — the Hamming-ball search no longer waits for the periodic
    * batch job.
    *
    * State posture: one state row per live (band, value) bucket holding
    * at most `cap` (id, hash) entries — the SAME per-bucket probe cap
    * the batch operator uses — and evicted by event-time timeout one
    * watermark horizon after the bucket's newest arrival. Total state
    * is O(live buckets × cap), bounded by the horizon at any stream
    * length. Emits the flag stream (append mode); the admitted set
    * remains [[imagePhashDedupStream]]'s output. */
  def imageNearDupGateStream(media: DataFrame, late: String,
      cap: Int = 32): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    val horizon = horizonMs(late)
    phashBands(
        graft.multimodal.Multimodal.imageDHashStamped(media)
          .withWatermark("arrival", late))
      .as[PhashArrival]
      .groupByKey(a => (a.band, a.bv))
      .flatMapGroupsWithState[PhashBucketState, PhashNearDup](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_: (Int, Long), it: Iterator[PhashArrival],
            state: GroupState[PhashBucketState]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val prior = state.getOption
              .getOrElse(PhashBucketState(Nil, Nil, 0L))
            val (flags, next) = phashAdmit(it.toSeq, prior, cap)
            state.update(next)
            state.setTimeoutTimestamp(next.maxArrivalUs / 1000L + horizon)
            flags.iterator
          }
      }
      .toDF()
  }

  /** Batch twin of [[imageNearDupGateStream]]: the identical admission
    * fold per (band, value) bucket with no state carry-over — the spec's
    * stream-vs-batch parity surface. */
  def imageNearDupFlagsBatch(media: DataFrame, cap: Int = 32): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    phashBands(graft.multimodal.Multimodal.imageDHashStamped(media))
      .as[PhashArrival]
      .groupByKey(a => (a.band, a.bv))
      .flatMapGroups { (_: (Int, Long), it: Iterator[PhashArrival]) =>
        phashAdmit(it.toSeq, PhashBucketState(Nil, Nil, 0L), cap)._1.iterator
      }
      .toDF()
  }

  /** One exploded MinHash band arrival: a document's (band, band-key)
    * slice of its 12-hash signature, 4 bands × 3 rows — the SAME
    * md5-derived signature and band keys as the batch
    * `dedup_minhash_lsh` blocking. */
  case class MinhashArrival(doc_id: Long, arrival: java.sql.Timestamp,
      band: Int, bkey: String)

  /** One (band, bkey) admission ledger for the text near-dup gate: the
    * doc that first claimed this band key, plus the newest arrival
    * micros for watermark-horizon eviction. A MinHash band-key EQUALITY
    * is already the near-dup candidate signal (unlike the image gate's
    * Hamming ball there is nothing to search within the bucket), so the
    * ledger is a single id — O(1) state per live band key. */
  case class MinhashBandState(keeper: Long, maxArrivalUs: Long)

  /** A text near-dup candidate flagged AT ADMISSION: `doc_id` arrived
    * with a band key already claimed by `matched_with` inside the
    * watermark horizon. */
  case class TextNearDup(doc_id: Long, matched_with: Long, band: Int,
      arrival: java.sql.Timestamp)

  /** Shared admission core for the batch twin and the streaming gate:
    * fold one band bucket's arrivals in (arrival, doc_id) order. The
    * first arrival claims the key; every later arrival is flagged
    * against the keeper and not admitted. */
  private def minhashAdmit(arrivals: Seq[MinhashArrival],
      prior: Option[MinhashBandState]):
      (Seq[TextNearDup], MinhashBandState) = {
    var keeper = prior.map(_.keeper).getOrElse(-1L)
    var maxUs = prior.map(_.maxArrivalUs).getOrElse(0L)
    val flags = scala.collection.mutable.ArrayBuffer.empty[TextNearDup]
    arrivals.sortBy(a => (a.arrival.getTime, a.doc_id)).foreach { a =>
      val us = micros(a.arrival)
      if (us > maxUs) maxUs = us
      if (keeper < 0) keeper = a.doc_id
      else if (a.doc_id != keeper)
        flags += TextNearDup(a.doc_id, keeper, a.band, a.arrival)
    }
    (flags.toSeq, MinhashBandState(keeper, maxUs))
  }

  /** Explode (doc_id, arrival, text) into the 4×3 MinHash band keys of
    * the batch `dedup_minhash_lsh` blocking — its own word-3-shingles
    * and band derivation ([[graft.queries.DedupQueries.minhashBands]]),
    * so a doc the batch job would bucket with an earlier doc collides
    * with it here too. */
  private def minhashBands(docs: DataFrame): DataFrame =
    graft.queries.DedupQueries.minhashBands(
        docs.select(col("doc_id"), col("arrival"),
            graft.queries.CurationDefs.toks.as("tk"))
          .select(col("doc_id"), col("arrival"),
            graft.queries.DedupQueries.shingles3(col("tk")).as("sh")))
      .withColumnRenamed("bd", "band")

  /** Streaming near-dup admission for TEXT (r12 verdict item 4) — the
    * text analog of [[imageNearDupGateStream]], upgrading the exact-hash
    * [[dedupStream]] to MinHash similarity at admission time: arriving
    * documents shingle and sign exactly as the batch `dedup_minhash_lsh`
    * blocking (same kernel, same md5 band keys), each doc lands in its
    * four band buckets, and a `flatMapGroupsWithState` ledger per
    * (band, key) flags any arrival whose band key was already claimed
    * inside the watermark horizon. Exact-Jaccard verification of the
    * flagged candidates stays a batch job over the admitted set (the
    * LSH contract: a band collision is a candidate, not a verdict).
    *
    * State posture: ONE state row per live (band, key) bucket holding a
    * single keeper id + newest-arrival micros (MinHash equality needs no
    * in-bucket search, so no cap is required — the ledger cannot grow
    * past one entry), evicted by event-time timeout one watermark
    * horizon after the bucket's newest arrival. Total state is O(live
    * band keys in the horizon) × O(1), bounded at any stream length.
    * Emits the candidate-flag stream (append mode).
    *
    * Cross-micro-batch ordering caveat (r13 ADVICE; applies equally to
    * [[imageNearDupGateStream]]): the keeper of a band key is decided in
    * ADMISSION order — (arrival, doc_id) within a micro-batch, but batch
    * order across batches. An out-of-order event time that lands in a
    * LATER micro-batch (still inside the watermark) is folded after the
    * earlier batch's arrivals, so the stream's keeper/matched_with
    * attribution can differ from [[textNearDupFlagsBatch]]'s global
    * (arrival, doc_id) fold. The candidate SET semantics ("this doc
    * collided with a live band key") are what the LSH contract
    * promises; exact tuple parity with the batch twin holds when a run
    * lands in one batch (AvailableNow over one source snapshot — the
    * spec's setup) or when arrivals are batch-monotone in event time. */
  def textNearDupGateStream(docs: DataFrame, late: String): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val horizon = horizonMs(late)
    minhashBands(docs.withWatermark("arrival", late))
      .as[MinhashArrival]
      .groupByKey(a => (a.band, a.bkey))
      .flatMapGroupsWithState[MinhashBandState, TextNearDup](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_: (Int, String), it: Iterator[MinhashArrival],
            state: GroupState[MinhashBandState]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val (flags, next) = minhashAdmit(it.toSeq, state.getOption)
            state.update(next)
            state.setTimeoutTimestamp(next.maxArrivalUs / 1000L + horizon)
            flags.iterator
          }
      }
      .toDF()
  }

  /** Batch twin of [[textNearDupGateStream]]: the identical admission
    * fold per (band, key) bucket with no state carry-over — the spec's
    * stream-vs-batch parity surface. */
  def textNearDupFlagsBatch(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    minhashBands(docs)
      .as[MinhashArrival]
      .groupByKey(a => (a.band, a.bkey))
      .flatMapGroups { (_: (Int, String), it: Iterator[MinhashArrival]) =>
        minhashAdmit(it.toSeq, None)._1.iterator
      }
      .toDF()
  }

  /** Streaming heavy hitters — the continuous-ingest twin of the batch
    * `agg_heavy_hitters` query: per watermarked tumbling window, a
    * Misra–Gries summary ([[graft.functions.MisraGriesAgg]]) of the
    * item stream. The state-store row per (window, group) is the O(k)
    * serialized counter map — NOT the item set — so state stays
    * fixed-size at any stream cardinality; window expiry via the
    * watermark bounds the number of live rows. The MG merge is
    * arbitrary-merge-tree-safe, which is exactly what micro-batch
    * partial aggregation needs. */
  def heavyHitters(items: DataFrame, window_ : String, late: String,
      k: Int): DataFrame = {
    items
      .withWatermark("ts", late)
      .groupBy(window(col("ts"), window_), col("grp"))
      .agg(expr(s"misra_gries(w, $k)").as("sketch"),
        count(lit(1)).as("n_items"))
      .select(col("window.start").as("window_start"), col("grp"),
        col("sketch"), col("n_items"))
  }

  /** Streaming curation intake — the ingest-time quality gate + sequence
    * chunking of the LLM-pipeline family, running the SAME transform as
    * the batch `pipe_corpus_intake` query
    * ([[graft.queries.CurationQueries.curateChunks]]). Every step is a
    * stateless row-level expression (codegen bigram_stats kernel,
    * explode, slice), so it needs no watermark or state store and keeps
    * exactly the batch plan's map parallelism under continuous ingest.
    */
  def curationIntake(docs: DataFrame): DataFrame =
    graft.queries.CurationQueries.curateChunks(docs)

  /** Stream-stream interval join — attribution: each purchase joins the
    * same user's clicks from the preceding hour (`c_ts ∈ [p_ts - 1h,
    * p_ts)`). Both sides are watermarked and the join condition carries
    * an explicit event-time range, so Spark derives state-expiry bounds
    * for BOTH join buffers: a click older than `p_ts_max - 1h - late` or
    * a purchase older than the click watermark can never match again and
    * is evicted. Without the time bound the buffers grow with the full
    * history — the classic unbounded-state trap; with it, state is
    * O(rate × (horizon + lateness)) at any stream length. Inner join ⇒
    * append-mode rows emit as soon as both sides arrive. */
  def attributionJoin(purchases: DataFrame, clicks: DataFrame,
      late: String): DataFrame =
    purchases.withWatermark("p_ts", late)
      .join(clicks.withWatermark("c_ts", late),
        expr("p_user = c_user AND " +
          "c_ts >= p_ts - INTERVAL 1 HOUR AND c_ts < p_ts"))

  /** LEFT OUTER stream-stream attribution — the unattributed-purchase
    * report ([[attributionJoin]] only emits matches). Outer
    * stream-stream joins are watermark-DRIVEN: a purchase with no
    * in-window click is emitted with nulls only once the watermark
    * passes the end of its join window (before that, a matching click
    * could still arrive), so the null rows trail live rows by the
    * lateness bound — the exactly-once semantics a batch
    * LEFT JOIN gives for free, recovered incrementally. State on both
    * sides is bounded by the watermark + interval horizon. */
  def attributionJoinOuter(purchases: DataFrame, clicks: DataFrame,
      late: String): DataFrame =
    purchases.withWatermark("p_ts", late)
      .join(clicks.withWatermark("c_ts", late),
        expr("p_user = c_user AND " +
          "c_ts >= p_ts - INTERVAL 1 HOUR AND c_ts < p_ts"),
        "left_outer")

  /** Stream-static enrichment join — the remaining cell of the streaming
    * join matrix (stream-stream: [[attributionJoin]]): each micro-batch
    * joins the arriving facts against a STATIC dimension snapshot.
    * Stateless — no watermark, no state store; the dim is re-resolved
    * per micro-batch (so a replace-content refresh of the dim parquet is
    * picked up by the next batch) and small dims broadcast exactly as in
    * batch plans. Inner join keeps the stream append-only. */
  def enrichStream(facts: DataFrame, dim: DataFrame,
      factKey: String, dimKey: String): DataFrame =
    // Dataframe-qualified keys: bare col() is ambiguous when the fact
    // and dim key columns share a name (the common enrichment case).
    facts.join(dim, facts(factKey) === dim(dimKey))

  /** Streaming ordered-event funnel — the continuous twin of the batch
    * `window_funnel` query, as keyed custom state: per user the state is
    * EXACTLY three epoch-micro longs (first view, first click strictly
    * after it, first purchase strictly after that; -1 = stage not
    * reached) — the same O(1)-per-user bound the batch window argument
    * makes, held in the state store instead of a shuffle partition.
    *
    * Each micro-batch's events for a user are folded in (event-time,
    * type) order, so results equal the batch query whenever a user's
    * events arrive in event-time order ACROSS batches (within a batch,
    * order never matters — we sort). That's the standard streaming-
    * funnel contract: out-of-order arrival is tolerated up to the
    * micro-batch boundary; an earlier-stage event that arrives in a
    * LATER batch than its dependents cannot retroactively validate them
    * (the alternative — buffering every candidate event per user — has
    * unbounded state). Append output with NoTimeout: each batch emits
    * the user's current reach; readers keep the last row per user. */
  def funnelStages(events: DataFrame): DataFrame = {
    val s = events.sparkSession
    import s.implicits._
    val typed = events.select(col("user_id").cast("long").as("user_id"),
      col("ts").cast("timestamp").as("ts"), col("event_type"))
      .as[(Long, java.sql.Timestamp, String)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Long, Long), (Long, Long, Long, Long)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, it: Iterator[(Long, java.sql.Timestamp, String)],
            state: GroupState[(Long, Long, Long)]) =>
          var (t1, t2, t3) = state.getOption.getOrElse((-1L, -1L, -1L))
          it.toSeq
            .map { case (_, ts, tpe) => (micros(ts), tpe) }
            .sortBy(identity)
            .foreach { case (t, tpe) =>
              tpe match {
                case "view" if t1 < 0 => t1 = t
                case "click" if t2 < 0 && t1 >= 0 && t > t1 => t2 = t
                case "purchase" if t3 < 0 && t2 >= 0 && t > t2 => t3 = t
                case _ => ()
              }
            }
          state.update((t1, t2, t3))
          Iterator.single((user, t1, t2, t3))
      }
      .toDF("user_id", "t1", "t2", "t3")
  }

  /** Streaming Viterbi intent gate — the in-stream twin of the catalog's
    * `ml_hmm_viterbi` (same fixed 2-state HMM, same integer micro-nat
    * max-plus recurrence; the literals here and in the batch query/SQL
    * oracle are pinned to each other by StreamingSpec's parity test).
    * State per user is exactly three longs (a0, a1, n) — bounded at any
    * horizon, no event buffering. Each micro-batch folds its arrivals
    * in (event-time, event_id) order, so results equal the batch DP
    * whenever a user's events arrive in event-time order ACROSS batches
    * (within a batch, order never matters — we sort): the same
    * streaming contract as [[funnelStages]]. Append output emits the
    * user's current decoded intent per batch; readers keep the last
    * row per user. */
  def intentStream(events: DataFrame): DataFrame = {
    val s = events.sparkSession
    import s.implicits._
    val typed = events.select(col("user_id").cast("long").as("user_id"),
      col("ts").cast("timestamp").as("ts"),
      col("event_id").cast("long").as("event_id"), col("event_type"))
      .as[(Long, java.sql.Timestamp, Long, String)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Long, Long), (Long, Long, String, Long)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, it: Iterator[(Long, java.sql.Timestamp, Long, String)],
            state: GroupState[(Long, Long, Long)]) =>
          var (a0, a1, n) = state.getOption.getOrElse((-510826L, -916291L, 0L))
          it.toSeq
            .map { case (_, ts, id, tpe) => (micros(ts), id, tpe) }
            .sortBy(x => (x._1, x._2))
            .foreach { case (_, _, tpe) =>
              val e0 = tpe match {
                case "click" | "view" => -1049822L
                case _ => -2302585L
              }
              val e1 = tpe match {
                case "purchase" => -1049822L
                case "signup" => -1386294L
                case "error" => -1609438L
                case _ => -2302585L
              }
              val na0 = math.max(a0 - 223144L, a1 - 1203973L) + e0
              val na1 = math.max(a0 - 1609438L, a1 - 356675L) + e1
              a0 = na0; a1 = na1; n += 1
            }
          state.update((a0, a1, n))
          Iterator.single((user, n,
            if (a0 >= a1) "browse" else "transact", math.max(a0, a1)))
      }
      .toDF("user_id", "n_events", "best_state", "vscore")
  }

  /** Streaming twin of the three-algorithm aspect matcher
    * (pipe_aspect_match / post_aspects.py:59-199), STATELESS by design:
    * the lexicon is tiny, so instead of the batch form's vocab-distinct
    * + broadcast join (which would need a shuffle/aggregation and
    * therefore state in a stream), each token row scores the whole
    * lexicon INLINE as an array kernel — per-token best-match, the
    * threshold post-filters, and the min-word-per-aspect dedup are all
    * higher-order array expressions on one row. No watermark, no state
    * store, pure append mode: a new document's aspect matches emit in
    * the micro-batch it arrives in, and values are IDENTICAL to the
    * batch catalog query (per-phrase best == per-token best because the
    * match value depends only on the string pair; StreamingSpec pins
    * row-set parity and the empty state-operator list).
    *
    * Works on a batch frame too (same expressions) — the parity test
    * runs it in both modes. `docs` must carry (post_id, text) plus
    * passthrough columns. */
  def aspectTokenMatches(docs: DataFrame): DataFrame = {
    val lexSql = graft.queries.PipelineQueries.aspectLexicon
      .map { case (id, w) => s"named_struct('aspect_id', $id, 'word', '$w')" }
      .mkString("array(", ", ", ")")
    val valsT = "array<struct<aspect_id:int,word:string,m_eq:boolean," +
      "sim:double,tg_q:boolean,m_lv:double>>"
    // One qualifying-best branch: sort by (aspect_id, word) — struct
    // order — then keep the FIRST entry per aspect_id (= min word, the
    // batch form's min(word) group aggregate), tagged with the algorithm.
    def branch(pred: String, algo: String): String =
      s"""transform(
            aggregate(array_sort(filter(vals, v -> $pred)),
              cast(array() as $valsT),
              (acc, x) -> CASE WHEN exists(acc, a -> a.aspect_id = x.aspect_id)
                          THEN acc ELSE concat(acc, array(x)) END),
            v -> named_struct('aspect_id', v.aspect_id,
              'aspect_word', v.word, 'match_algorithm', '$algo'))"""
    val passthrough = docs.columns.filter(_ != "text").toSeq
    docs
      .select(passthrough.map(col) :+
        posexplode(split(lower(col("text")), " ")): _*)
      .filter(length(col("col")) > 0)
      .select(passthrough.map(col) ++ Seq(
        (col("pos") + 1).cast("long").as("word_index"),
        col("col").as("phrase")): _*)
      // Two chained transforms = a let-binding: Catalyst does NOT
      // common-subexpression-eliminate inside lambda bodies, so each
      // kernel (trigram set-build, banded levenshtein DP) is computed
      // exactly ONCE per (token, lexicon word) in the first transform
      // and the derived flags read the bound struct fields.
      .withColumn("vals", expr(s"""
        transform(
          transform($lexSql, e -> named_struct(
            'aspect_id', e.aspect_id, 'word', e.word,
            'sim', trigram_sim(phrase, e.word),
            'd', levenshtein(lower(phrase), lower(e.word),
                   cast(floor(0.19D * length(phrase)) as int)))),
          k -> named_struct(
            'aspect_id', k.aspect_id, 'word', k.word,
            'm_eq', lower(phrase) = lower(k.word),
            'sim', k.sim,
            'tg_q', k.sim >= 0.65D,
            'm_lv', CASE WHEN length(phrase) <= 255 AND k.d >= 0
                    THEN cast(k.d as double) / length(phrase)
                    ELSE cast(null as double) END))"""))
      .withColumn("tg_best",
        expr("array_max(transform(filter(vals, v -> v.tg_q), v -> v.sim))"))
      .withColumn("lv_best",
        expr("array_min(transform(filter(vals, v -> v.m_lv is not null), v -> v.m_lv))"))
      .withColumn("hit", explode(expr(s"""
        concat(
          ${branch("v.m_eq", "equality")},
          ${branch("v.tg_q and v.sim = tg_best", "trigram")},
          ${branch("v.m_lv is not null and v.m_lv = lv_best", "levenshtein")})""")))
      .select(passthrough.map(col) ++ Seq(col("word_index"), col("phrase"),
        col("hit.aspect_id").as("aspect_id"),
        col("hit.aspect_word").as("aspect_word"),
        col("hit.match_algorithm").as("match_algorithm")): _*)
  }

  /** Run a streaming transform over everything currently unprocessed, then
    * stop (the FillDbHourly cadence). Restart with the same checkpoint to
    * pick up only new files. */
  def runAvailableNow(out: DataFrame, checkpoint: String, outPath: String): StreamingQuery =
    out.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .format("parquet")
      .start(outPath)

  /** The complete FillDbHourly analog (reference _fill_db.py:48-54 →
    * database.py:140-174): process everything unprocessed, then MERGE
    * each micro-batch into the live table by primary key — the K1 upsert
    * as a streaming sink via foreachBatch. Restart-safe: the checkpoint
    * tracks consumed input and the merge is idempotent (re-upserting a
    * replayed batch rewrites the same rows to the same values), which is
    * exactly the property the reference gets from `ON CONFLICT DO
    * UPDATE`. For non-aggregated transforms (append-mode lineage). */
  def runAvailableNowUpsert(out: DataFrame, checkpoint: String,
      tablePath: String, pk: Seq[String]): StreamingQuery =
    out.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.core.Upsert.upsertWrite(batch.sparkSession, tablePath,
          batch, pk)
      }
      .start()
}
