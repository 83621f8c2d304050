package graft.bronze

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Social-source normalizers (facebook, instagram, twitter, google maps)
  * — the reference's per-source extract transforms re-expressed as
  * pure-expression DataFrame operators over captured payload frames (one
  * row per fetched page/post payload; fetching/auth is ingestion, outside
  * engine scope per SURVEY §7.5). Fidelity is asserted against the
  * reference's OWN test fixtures and expected CSVs in SocialBronzeSpec.
  *
  * All transforms are expression-only (no UDFs): at 100 TB of captured
  * payloads each is a single whole-stage-codegen'd projection/explode —
  * no shuffle except the explicit dedups, which hash-partition on the
  * dedup key.
  */
object Social {

  /** FB posts page payload → posts (facebook.py:117-124
    * `transform_posts`): `id` splits on the FIRST underscore into
    * (page_id, post_id) — pandas `str.split('_', n=1)`. */
  def fbPosts(pages: DataFrame): DataFrame =
    pages.select(explode(col("data")).as("p"))
      .select(
        substring_index(col("p.id"), "_", 1).as("page_id"),
        expr("substring(p.id, instr(p.id, '_') + 1)").as("post_id"),
        col("p.created_time").as("post_date"),
        col("p.message").as("text"))

  private val fbCommentLeaf = StructType(Seq(
    StructField("id", StringType),
    StructField("message", StringType),
    StructField("created_time", StringType),
    StructField("from", StructType(Seq(StructField("name", StringType))))))

  /** Schema of one post's comments payload (toplevel + nested replies). */
  val fbCommentsSchema: StructType = StructType(Seq(
    StructField("data", ArrayType(StructType(fbCommentLeaf.fields ++ Seq(
      StructField("comment_count", LongType),
      StructField("comments", StructType(Seq(
        StructField("data", ArrayType(fbCommentLeaf)))))))))))

  /** Comment id = SECOND underscore segment (facebook.py:438,456:
    * `id.split('_')[1]`). */
  private def commentId(id: Column): Column =
    element_at(split(id, "_"), 2)

  private def isFromMuseum(from: Column, museumName: String): Column =
    coalesce(from.getField("name") === museumName, lit(false))

  /** FB comments payloads → comment rows (facebook.py:392-463
    * `fetch_comments` + :355-365): toplevel comments get
    * `response_to = NULL`; replies nested under a toplevel comment get
    * `response_to` = the parent's comment id; `is_from_museum` compares
    * `from.name` against the museum-facts name; dedup on
    * (comment_id, post_id).
    *
    * @param batches one row per fetched post: (page_id, post_id,
    *                payload) with `payload` the raw comments JSON text.
    */
  def fbComments(batches: DataFrame, museumName: String): DataFrame = {
    // Single pass: each payload is JSON-parsed ONCE and each toplevel
    // comment expands to itself ++ its inline replies in one nested
    // explode — a union of toplevel/reply branches would re-parse every
    // payload twice (the parse dominates at capture scale).
    val c = col("c")
    // The parent's id, projected once (`cid`), not re-split per reply.
    val cid = col("cid")
    def leaf(n: Column, id: Column, respTo: Column): Column = struct(
      id.as("comment_id"),
      n.getField("created_time").as("post_date"),
      n.getField("message").as("text"),
      isFromMuseum(n.getField("from"), museumName).as("is_from_museum"),
      respTo.as("response_to"))
    val emptyLeafs = array().cast(
      "array<struct<comment_id:string,post_date:string,text:string," +
        "is_from_museum:boolean,response_to:string>>")
    val replies = when(
      c.getField("comment_count") > 0 && c.getField("comments").isNotNull,
      transform(c.getField("comments").getField("data"),
        r => leaf(r, commentId(r.getField("id")), cid)))
      .otherwise(emptyLeafs)
    batches
      .select(col("page_id"), col("post_id"),
        explode(from_json(col("payload"), fbCommentsSchema)
          .getField("data")).as("c"))
      .select(col("page_id"), col("post_id"), c,
        commentId(c.getField("id")).as("cid"))
      .select(col("page_id"), col("post_id"),
        explode(concat(
          array(leaf(c, cid, lit(null).cast(StringType))), replies)).as("e"))
      .select(col("post_id"), col("e.comment_id").as("comment_id"),
        col("page_id"), col("e.post_date").as("post_date"),
        col("e.text").as("text"),
        col("e.is_from_museum").as("is_from_museum"),
        col("e.response_to").as("response_to"))
      .dropDuplicates("comment_id", "post_id")
  }

  // Insights payloads mix value types per metric (object for
  // reactions/activity/clicks, number for negative feedback and
  // impressions); the payload text is parsed twice with the two shapes —
  // a field of the "wrong" shape nulls out in that pass, which is
  // exactly the reference's per-metric `except IndexError: pass`.
  private def insightsSchema(valueType: DataType): StructType = StructType(Seq(
    StructField("data", ArrayType(StructType(Seq(
      StructField("name", StringType),
      StructField("values", ArrayType(StructType(Seq(
        StructField("value", valueType)))))))))))

  private val reactionKeys =
    Seq("like", "love", "wow", "haha", "sorry", "anger")

  private def metricValue(parsed: Column, name: String): Column =
    element_at(
      filter(parsed.getField("data"), d => d.getField("name") === name),
      1).getField("values").getItem(0).getField("value")

  /** FB post-insights payloads → one performance row per post
    * (facebook.py:200-312): per-metric extraction with missing metrics
    * tolerated, map-metric keys defaulting to 0 when the metric is
    * present, dedup on post_id (the reference's duplicate-insight
    * workaround, facebook.py:318).
    *
    * @param batches (page_id, post_id, payload raw insights JSON text)
    * @param ts      the snapshot timestamp (the reference stamps
    *                `dt.datetime.now()`; injected for determinism)
    */
  def fbInsights(batches: DataFrame, ts: String): DataFrame = {
    val objType = MapType(StringType, StringType)
    val withParsed = batches
      .withColumn("jo", from_json(col("payload"), insightsSchema(objType)))
      .withColumn("js", from_json(col("payload"), insightsSchema(StringType)))
    def mapMetric(name: String, key: String, outName: String): Column = {
      val m = metricValue(col("jo"), name)
      when(m.isNotNull, coalesce(element_at(m, key).cast(IntegerType), lit(0)))
        .as(outName)
    }
    def intMetric(name: String, outName: String): Column =
      metricValue(col("js"), name).cast(IntegerType).as(outName)
    withParsed.select(Seq(lit(ts).as("timestamp")) ++
        reactionKeys.map(k =>
          mapMetric("post_reactions_by_type_total", k, s"react_$k")) ++
        Seq(
          mapMetric("post_activity_by_action_type", "like", "likes"),
          mapMetric("post_activity_by_action_type", "share", "shares"),
          mapMetric("post_activity_by_action_type", "comment", "comments"),
          mapMetric("post_clicks_by_type", "video play", "video_clicks"),
          mapMetric("post_clicks_by_type", "link clicks", "link_clicks"),
          mapMetric("post_clicks_by_type", "other clicks", "other_clicks"),
          intMetric("post_negative_feedback", "negative_feedback"),
          intMetric("post_impressions_paid", "paid_impressions"),
          intMetric("post_impressions", "post_impressions"),
          intMetric("post_impressions_unique", "post_impressions_unique"),
          col("page_id"), col("post_id")): _*)
      .dropDuplicates("post_id")
  }

  /** IG media page payload → posts (instagram.py:144-225): fields pass
    * through; `timestamp` is parsed and re-rendered in the pandas
    * `Timestamp` text form (`+0000` → `+00:00`); absent captions null.
    * The rendering is timezone-pinned: the instant is shifted so its
    * formatted wall clock is the UTC one whatever the session timezone,
    * and the offset is the literal `+00:00` — session-independent. */
  def igPosts(pages: DataFrame): DataFrame =
    pages.select(explode(col("data")).as("m"))
      .select(
        col("m.id").as("id"),
        col("m.caption").as("caption"),
        // dtparser.parse accepts both the ISO 'T' form and a space
        // separator — both occur in real captures
        concat(
          date_format(
            to_utc_timestamp(
              coalesce(
                try_to_timestamp(col("m.timestamp"),
                  lit("yyyy-MM-dd'T'HH:mm:ssZ")),
                try_to_timestamp(col("m.timestamp"),
                  lit("yyyy-MM-dd HH:mm:ssZ"))),
              current_timezone()),
            "yyyy-MM-dd HH:mm:ss"),
          lit("+00:00")).as("timestamp"),
        col("m.media_type").as("media_type"),
        col("m.like_count").cast(LongType).as("like_count"),
        col("m.comments_count").cast(LongType).as("comments_count"),
        col("m.permalink").as("permalink"))

  /** Raw tweet capture → tweets (twitter.py:41-71 `ExtractTweets`):
    * projection + rename + full-row dedup; empty `parent_tweet_id` stays
    * empty, ids are strings (`keep_default_na=False`, dtype=str). */
  def tweets(raw: DataFrame): DataFrame =
    raw.select(
        col("user_id").cast(StringType).as("user_id"),
        col("tweet_id").cast(StringType).as("tweet_id"),
        col("text"),
        coalesce(col("parent_tweet_id").cast(StringType), lit(""))
          .as("response_to"),
        col("timestamp").as("post_date"))
      .dropDuplicates()

  /** Raw tweet capture → performance snapshot rows (twitter.py:79-103):
    * metric projection stamped with the injected snapshot timestamp
    * (condensing against the stored latest is the separate J4 operator,
    * graft.streaming.Condenser / join_change_detect). */
  def tweetPerformance(raw: DataFrame, ts: String): DataFrame =
    raw.select(
      col("tweet_id").cast(StringType).as("tweet_id"),
      col("likes").cast(IntegerType).as("likes"),
      col("retweets").cast(IntegerType).as("retweets"),
      col("replies").cast(IntegerType).as("replies"),
      lit(ts).as("timestamp"))

  /** IG post-insights payloads → one performance row per post
    * (instagram.py:398-447): name-keyed metric extraction,
    * `video_views` forced 0 for non-video media. Composes with
    * [[graft.core.Condense.withDeltas]] for the stored-latest delta
    * columns, mirroring the reference's condense step. */
  def igPostInsights(batches: DataFrame, ts: String): DataFrame = {
    val schema = insightsSchema(LongType)
    val parsed = col("j")
    def m(name: String): Column =
      metricValue(parsed, name).cast(LongType)
    batches.withColumn("j", from_json(col("payload"), schema))
      .select(
        col("ig_post_id"),
        lit(ts).as("timestamp"),
        m("impressions").as("impressions"),
        m("reach").as("reach"),
        m("total_interactions").as("total_interactions"),
        m("saved").as("saved"),
        when(col("media_type") === "VIDEO", m("video_views"))
          .otherwise(0L).as("video_views"))
  }

  private def igBreakdownResults(pages: DataFrame): Column =
    element_at(element_at(col("data"), 1)
      .getField("total_value").getField("breakdowns"), 1)
      .getField("results")

  /** IG audience gender/age breakdown → rows (instagram.py:587-618 +
    * `_get_single_metric` :621-645): dimension_values = (gender, age). */
  def igAudienceGenderAge(pages: DataFrame, ts: String): DataFrame =
    pages.select(explode(igBreakdownResults(pages)).as("r"))
      .select(
        element_at(col("r.dimension_values"), 1).as("gender"),
        element_at(col("r.dimension_values"), 2).as("age"),
        lit(ts).as("timestamp"),
        col("r.value").cast(LongType).as("amount"))

  /** IG audience origin breakdown (city or country mode,
    * instagram.py:547-584): single dimension. */
  def igAudienceOrigin(pages: DataFrame, ts: String): DataFrame =
    pages.select(explode(igBreakdownResults(pages)).as("r"))
      .select(
        element_at(col("r.dimension_values"), 1).as("city"),
        lit(ts).as("timestamp"),
        col("r.value").cast(LongType).as("amount"))

  /** IG profile-metrics development (instagram.py:459-502): one row,
    * timestamp from the first metric's end_time, name-keyed values. */
  def igProfileMetricsDevelopment(pages: DataFrame): DataFrame = {
    val metrics = Seq("impressions", "reach", "profile_views",
      "follower_count", "website_clicks")
    pages.select(Seq(
      element_at(col("data"), 1).getField("values").getItem(0)
        .getField("end_time").as("timestamp")) ++
      metrics.map(mName =>
        element_at(
          filter(col("data"), d => d.getField("name") === mName), 1)
          .getField("values").getItem(0).getField("value")
          .cast(LongType).as(mName)): _*)
  }

  /** IG total profile metrics (instagram.py:506-545). */
  def igTotalProfileMetrics(pages: DataFrame, ts: String): DataFrame =
    pages.select(
      lit(ts).as("timestamp"),
      col("followers_count").cast(LongType).as("follower_count"),
      col("media_count").cast(LongType).as("media_count"))

  /** One parsed App-Store RSS review entry (apple_appstore.py:145-160). */
  final case class AppstoreReview(appstore_review_id: String, text: String,
      rating: String, app_version: String, vote_count: String,
      vote_sum: String, title: String, date: String)

  /** S4: parse one App-Store customerreviews RSS page with the engine's
    * own XML/HTML parser (apple_appstore.py:131-167 via xmltodict):
    * entry fields incl. the `im:`-namespaced ones, the `type="text"`
    * content variant (the html variant is skipped like the reference's
    * conditional-tag scan), and the `rel="next"` pagination link. */
  def appstoreEntries(xml: String): (Seq[AppstoreReview], Option[String]) = {
    val dom = graft.sources.Html.parse(xml)
    def kids(e: graft.sources.Html.HElem, tag: String) =
      e.childElems.filter(_.tag == tag)
    val feed = (dom +: dom.descendants).find(_.tag == "feed").getOrElse(dom)
    val entries = kids(feed, "entry").map { e =>
      def t(tag: String): String =
        kids(e, tag).headOption.map(_.textContent.trim).getOrElse("")
      val text = kids(e, "content")
        .find(_.attr("type").contains("text"))
        .map(_.textContent.trim).getOrElse("")
      AppstoreReview(t("id"), text, t("im:rating"), t("im:version"),
        t("im:votecount"), t("im:votesum"), t("title"), t("updated"))
    }
    val next = kids(feed, "link").find(_.attr("rel").contains("next"))
      .flatMap(_.attr("href"))
    (entries.toSeq, next)
  }

  /** Distributed per-country App-Store review scan (apple_appstore.py:
    * 56-88): one captured RSS page per row, parsed on executors, then
    * the cross-country dedup on (app_id, appstore_review_id) keeping the
    * FIRST country in sorted order — the reference iterates sorted
    * country codes and pandas keeps the first occurrence; the window
    * makes that keeper deterministic distributedly. */
  def appstoreReviews(spark: org.apache.spark.sql.SparkSession,
      pages: DataFrame, appId: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val parsed = pages.select(col("country_code"), col("payload"))
      .as[(String, String)]
      .flatMap { case (cc, xml) =>
        appstoreEntries(xml)._1.map(r => (appId, r.appstore_review_id,
          r.text, r.rating, r.app_version, r.vote_count, r.vote_sum,
          r.title, r.date, cc))
      }
      .toDF("app_id", "appstore_review_id", "text", "rating",
        "app_version", "vote_count", "vote_sum", "title", "date",
        "country_code")
    val w = Window.partitionBy("app_id", "appstore_review_id")
      .orderBy("country_code")
    parsed.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  private val gplayResultsSchema = StructType(Seq(
    StructField("results", ArrayType(StructType(Seq(
      StructField("id", StringType),
      StructField("date", StringType),
      StructField("score", LongType),
      StructField("text", StringType),
      StructField("thumbsUp", LongType),
      StructField("version", StringType)))))))

  /** Google-Play reviews (gplay_reviews.py:35-173): per-language capture
    * pages parsed and flattened, full-row dedup across languages (the
    * same review returns under several language codes as an identical
    * row — dedup of identical rows is keeper-independent, so it is
    * deterministic distributedly), renamed/typed/ordered like
    * `convert_to_right_output_format`. */
  def gplayReviews(pages: DataFrame, appId: String): DataFrame =
    pages
      .select(explode(
        from_json(col("payload"), gplayResultsSchema).getField("results"))
        .as("r"))
      .select(
        col("r.id").as("playstore_review_id"),
        col("r.text").as("text"),
        col("r.score").cast(IntegerType).as("rating"),
        col("r.version").as("app_version"),
        col("r.thumbsUp").cast(IntegerType).as("likes"),
        col("r.date").as("date"),
        lit(appId).as("app_id"))
      .dropDuplicates()

  private val gmapsStars = Map(
    "ONE" -> 1, "TWO" -> 2, "THREE" -> 3, "FOUR" -> 4, "FIVE" -> 5)

  /** Raw Google-Maps reviews → normalized reviews
    * (google_maps.py:217-274 `extract_review`): star-enum map (P5) and
    * the translated-review sandwich splitter (P13) with the reference's
    * three comment branches. */
  def gmapsReviews(raw: DataFrame): DataFrame = {
    val c = col("comment")
    val marker = "(Translated by Google)"
    val star = gmapsStars.foldLeft(lit(null).cast(IntegerType)) {
      case (acc, (k, v)) => when(col("starRating") === k, v).otherwise(acc)
    }
    // split on the literal markers; regex-quote both. Python str.strip()
    // trims ALL whitespace (the split parts end in newlines) — Spark's
    // trim only strips spaces, so use a regex strip.
    def strip(x: Column): Column = regexp_replace(x, "^\\s+|\\s+$", "")
    val byOriginal =
      split(expr(s"substring(comment, ${marker.length + 1})"),
        java.util.regex.Pattern.quote("(Original)"))
    val byMarker = split(c, java.util.regex.Pattern.quote(marker))
    val (text, textEn, lang) = (
      when(c.isNull || c === "", lit(null).cast(StringType))
        .when(!c.contains(marker), c)
        .when(c.startsWith(marker), strip(element_at(byOriginal, 2)))
        .otherwise(strip(element_at(byMarker, 1))),
      when(c.isNull || c === "", lit(null).cast(StringType))
        .when(!c.contains(marker), c)
        .when(c.startsWith(marker), strip(element_at(byOriginal, 1)))
        .otherwise(strip(element_at(byMarker, 2))),
      when(c.isNull || c === "", lit(null).cast(StringType))
        .when(!c.contains(marker), lit("english"))
        .when(c.startsWith(marker), lit("other"))
        .otherwise(lit("german")))
    raw.select(
      col("reviewId").as("google_maps_review_id"),
      col("createTime").as("post_date"),
      star.as("rating"),
      text.as("text"), textEn.as("text_english"), lang.as("language"),
      col("placeId").as("place_id"),
      col("uri"))
  }
}
