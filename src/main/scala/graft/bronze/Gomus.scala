package graft.bronze

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._


/** Bronze-layer normalizers for the museum booking system ("gomus")
  * report payloads — the SURVEY.md §2.1/§2.3 payload halves (S2 report
  * shapes; P3–P10, P19 transforms). Each is a pure DataFrame → DataFrame
  * function over the raw report columns (German headers exactly as
  * fetched), so the network/scrape half stays out of engine scope while
  * every transform the reference applies is reproduced and unit-tested.
  *
  * All expressions are built-ins or codegen'd custom expressions — no
  * UDFs, no driver-side loops — so the normalizers inherit pushdown,
  * pruning and whole-stage codegen at any input size.
  */
object Gomus {

  /** mmh3-parity privacy hash (P4): seed-666 signed murmur3 over the
    * expression given as SQL text (the `murmur3_seeded` codegen expression,
    * so the caller's session must have graft installed; `Q.spark` does).
    * Reference src/gomus/_utils/extract_customers.py:135-140. */
  private def privacyHash(innerSql: String): Column =
    expr(s"murmur3_seeded($innerSql, 666)")

  /** Excel 1900-system serial → date with xlrd `xldate_as_datetime`
    * parity (the reference's converter, src/gomus/events.py:108-109):
    * serials 1..59 sit BEFORE Excel's phantom 1900-02-29, so their epoch
    * is 1899-12-31; serials >= 61 use the standard 1899-12-30 epoch that
    * absorbs the phantom day. Serial 60 (the phantom itself) and
    * serials outside Python's datetime range (xlrd raises OverflowError,
    * reference tests/gomus/test_gomus_transformations.py:182-186) map to
    * null — the engine's uniform coerce contract for unrepresentable
    * dates. */
  private def xlDate(serial: Column): Column = {
    val d = floor(serial.cast("double")).cast("int")
    when(d.between(1, 59), date_add(to_date(lit("1899-12-31")), d))
      .when(d.between(61, 2958465), date_add(to_date(lit("1899-12-30")), d))
      .otherwise(lit(null).cast("date"))
  }

  /** Booking-report normalizer. Reference behavior
    * (src/gomus/_utils/extract_bookings.py:35-108):
    *  - `Guide`: first name of the comma list, lowercased, de-spaced,
    *    murmur3(seed=666); missing guide → 0.
    *  - `Startzeit` = `Datum` + `Uhrzeit von` as dd.MM.yyyy HH:mm.
    *  - `Dauer` = minutes from `Uhrzeit von` to `Uhrzeit bis` (same-day,
    *    Python `timedelta.seconds` semantics: a negative span wraps by
    *    +24 h).
    *  - `Angebot/Termin` coalesce; `Anzahl Teilnehmende` NaN→0.
    */
  def extractBookings(raw: DataFrame): DataFrame = {
    val guideHash = privacyHash(
      "element_at(split(replace(lower(Guide), ' ', ''), ','), 1)")
    val startTs = to_timestamp(
      concat_ws(" ", col("Datum"), col("Uhrzeit von")), "dd.MM.yyyy HH:mm")
    val minsOf = (c: Column) =>
      element_at(split(c, ":"), 1).cast("int") * 60 +
        element_at(split(c, ":"), 2).cast("int")
    val span = minsOf(col("Uhrzeit bis")) - minsOf(col("Uhrzeit von"))
    raw.select(
      // double-hop cast: the report reads ids as floats ("10101.0")
      col("Buchung").cast("double").cast("long").as("booking_id"),
      col("Angebotskategorie").as("category"),
      coalesce(col("Anzahl Teilnehmende").cast("double").cast("int"), lit(0))
        .as("participants"),
      coalesce(guideHash, lit(0)).as("guide_id"),
      (when(span < 0, span + 24 * 60).otherwise(span)).as("duration"),
      col("Ausstellung").as("exhibition"),
      coalesce(col("Angebot"), col("Termin")).as("title"),
      col("Status").as("status"),
      startTs.as("start_datetime"))
  }

  /** Customer-report normalizer. Reference behavior
    * (src/gomus/_utils/extract_customers.py:36-140):
    *  - `customer_id` = murmur3(email, 666) when the email is present,
    *    else the numeric report id (`Nummer`).
    *  - `postal_code`: trailing literal ".0" stripped (float-read codes).
    *  - `newsletter` = (value == "ja"); `gender`: Frau→w, Herr→m, else ''.
    *  - `register_date` parsed dd.MM.yyyy; unparseable rows are dropped
    *    (the reference additionally aborts past 50% invalid — kept as a
    *    caller-side assertion, not a silent behavior).
    *  - `valid_mail` = email present (non-null), reference parity —
    *    NOT a shape check; `tourism_tags` = ordered whitelist tags
    *    contained in the email (P9).
    */
  def extractCustomers(raw: DataFrame): DataFrame = {
    val tags = Seq("reise", "kultur", "freunde", "förder", "foerder",
      "guide", "hotel", "travel", "event", "visit", "verein", "stiftung")
    val email = col("E-Mail")
    // try_to_date = the reference's errors='coerce': bad rows → null → drop.
    val regDate = try_to_date(col("Erstellt am"), "dd.MM.yyyy")
    raw.select(
      when(email.isNotNull, privacyHash("`E-Mail`"))
        .otherwise(col("Nummer").cast("double").cast("long")).as("customer_id"),
      regexp_replace(col("PLZ").cast("string"), "\\.0$", "").as("postal_code"),
      (col("Newsletter") === "ja").as("newsletter"),
      when(col("Anrede") === "Frau", "w")
        .when(col("Anrede") === "Herr", "m")
        .otherwise("").as("gender"),
      col("Kategorie").as("category"),
      col("Sprache").as("language"),
      col("Land").as("country"),
      col("Typ").as("type"),
      regDate.as("register_date"),
      // Reference parity (extract_customers.py:40): 'Gültige E-Mail' is
      // isinstance(email, str) — true for ANY non-null email, even a
      // malformed one. No shape regex.
      email.isNotNull.as("valid_mail"),
      filter(array(tags.map(lit): _*),
        t => coalesce(email, lit("")).contains(t)).as("tourism_tags"))
      .filter(regDate.isNotNull)
  }

  /** Gomus-id → privacy-hashed customer-id mapping (reference
    * `ExtractGomusToCustomerMapping`, src/gomus/customers.py): the raw
    * report id alongside the SAME hash-or-fallback id
    * [[extractCustomers]] emits — the join key bridge between raw gomus
    * reports and the hashed customer dimension. */
  def gomusToCustomerMapping(raw: DataFrame): DataFrame = {
    raw.select(
      col("Nummer").cast("double").cast("long").as("gomus_id"),
      when(col("E-Mail").isNotNull, privacyHash("`E-Mail`"))
        .otherwise(col("Nummer").cast("double").cast("long"))
        .as("customer_id"))
  }

  /** Keep-last dedup by customer_id (reference A13 `keep='last'`): pandas
    * row order is implicit, so the caller supplies an explicit ordinal
    * column name — last ordinal per key wins. */
  def dedupKeepLast(df: DataFrame, key: String, ordinal: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(key).orderBy(col(ordinal).desc)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Order-report normalizer (reference src/gomus/orders.py:54-104):
    *  - `order_date` from the Excel serial float (epoch 1899-12-30, P7).
    *  - `customer_id` resolved through the gomus→customer mapping table —
    *    as ONE broadcast join instead of the reference's per-row SQL
    *    lookup (J10's documented pathology); unmapped → null, missing
    *    gomus id → 0 semantics preserved.
    *  - `valid` = (ist gültig? == 'Ja'), `paid` = (Bezahlstatus ==
    *    'bezahlt') — case-insensitive like the reference.
    */
  def extractOrders(raw: DataFrame, mapping: DataFrame): DataFrame = {
    val orders = raw.select(
      col("Bestellnummer").cast("double").cast("long").as("order_id"),
      // Missing-ness must be captured BEFORE the 0 fallback: a report id
      // that is LITERALLY 0 still goes through the mapping lookup.
      col("Kundennummer").isNull.as("__missing"),
      xlDate(col("Erstellt")).as("order_date"),
      coalesce(col("Kundennummer").cast("double").cast("long"), lit(0L))
        .as("gomus_id"),
      (lower(col("ist gültig?")) === "ja").as("valid"),
      (lower(col("Bezahlstatus")) === "bezahlt").as("paid"),
      col("Herkunft").as("origin"))
    orders
      .join(broadcast(mapping.select(col("gomus_id"),
        col("customer_id"))), Seq("gomus_id"), "left")
      // Reference parity (orders.py:90-102 query_customer_id): a MISSING
      // report id short-circuits to literal 0 before any lookup; a
      // present-but-unmapped id becomes NaN (null). The two cases are
      // distinct in the fixture and must stay distinct here.
      .select(col("order_id"), col("order_date"),
        when(col("__missing"), lit(0)).otherwise(col("customer_id"))
          .as("customer_id"),
        col("valid"), col("paid"), col("origin"))
  }

  /** Daily-entries matrix unpivot (reference
    * src/gomus/daily_entries.py:85-126): one row per (ID, Ticket) with 24
    * hourly count columns → long form (id, ticket, datetime, count).
    * `hourCols` are the raw matrix headers in hour order ("0.0".."23.0"
    * actual, "0:00".."23:00" expected); `date` is the report date carried
    * in sheet-0 metadata. The hourly stack is a generated projection
    * (posexplode over an array literal), not 24 selects.
    */
  def unpivotDailyEntries(sheet: DataFrame, hourCols: Seq[String],
      date: String, countName: String): DataFrame = {
    val counts = array(hourCols.map(h =>
      coalesce(col(s"`$h`").cast("double").cast("int"), lit(0))): _*)
    sheet.select(
        coalesce(col("ID").cast("double").cast("long"), lit(0L)).as("id"),
        col("Ticket").as("ticket"),
        posexplode(counts).as(Seq("hour", countName)))
      .select(col("id"), col("ticket"),
        timestamp_seconds(
          unix_timestamp(to_timestamp(lit(date))) + col("hour") * 3600L)
          .as("datetime"),
        col(countName))
  }

  /** Actual ∪ expected daily entries: natural inner join on
    * (id, ticket, datetime) — reference J1 (daily_entries.py:115-120). */
  def combineDailyEntries(actual: DataFrame, expected: DataFrame): DataFrame =
    actual.join(expected, Seq("id", "ticket", "datetime"), "inner")

  /** `cleanse_umlauts` (reference src/gomus/events.py:174-185): the
    * two-char German transliteration luigi needs for target paths. */
  def cleanseUmlauts(c: Column): Column =
    Seq("Ä" -> "Ae", "ä" -> "ae", "Ö" -> "Oe", "ö" -> "oe",
        "Ü" -> "Ue", "ü" -> "ue")
      .foldLeft(c) { case (acc, (from, to)) => replace(acc, lit(from), lit(to)) }

  /** Event-reservation normalizer (reference src/gomus/events.py:40-129):
    *  - per category only the LATEST TWO bookings by `start_datetime`
    *    contribute (events.py:125-129 `ORDER BY start_datetime DESC
    *    LIMIT 2`, the minimal-mode cadence); the reference's LIMIT has no
    *    tiebreak, so ties are broken on `booking_id` DESC here to make
    *    the operator deterministic.
    *  - each kept booking contributes its approved and cancelled
    *    reservation sheets; sheet parity becomes the status text
    *    ("Gebucht" / "Storniert", events.py:58-66).
    *  - per sheet row (events.py:96-107): reservation `ID` → int `id`,
    *    the booking id becomes `event_id`, `E-Mail` → seed-666 murmur3
    *    `customer_id` with the non-string → int(float(0)) fallback
    *    (extract_customers.py:135-140 hash_id), `Plätze` → int
    *    `reservation_count`, Excel-serial `gebucht am` → `order_date`
    *    (P7, epoch 1899-12-30).
    *  - `path_key` is the umlaut-transliterated category — the key the
    *    reference embeds in every per-category target path.
    *
    * Scale shape: the latest-2 pick is one window over (category), the
    * sheet attach one hash join on booking_id; nothing collects.
    *
    * @param bookings (`booking_id`, `category`, `start_datetime`)
    * @param sheets   raw reservation rows with German report headers
    *                 (`ID`, `E-Mail`, `Plätze`, `gebucht am`) plus their
    *                 sheet identity (`booking_id`, boolean `cancelled`).
    */
  def extractEvents(bookings: DataFrame, sheets: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("category")
      .orderBy(col("start_datetime").desc, col("booking_id").desc)
    val latest2 = bookings
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= 2)
      .select("booking_id", "category")
    sheets.join(latest2, Seq("booking_id"))
      .select(
        col("ID").cast("double").cast("long").as("id"),
        col("booking_id").cast("long").as("event_id"),
        coalesce(privacyHash("`E-Mail`").cast("long"),
          col("`E-Mail`").cast("double").cast("long"), lit(0L))
          .as("customer_id"),
        col("`Plätze`").cast("double").cast("int").as("reservation_count"),
        xlDate(col("`gebucht am`")).as("order_date"),
        when(col("cancelled"), "Storniert").otherwise("Gebucht").as("status"),
        col("category"),
        cleanseUmlauts(col("category")).as("path_key"))
  }

  /** Exhibition extract (reference src/gomus/exhibitions.py:57-80): title
    * plus the optional `picture.original` URL, straight off the API
    * payload. */
  def exhibitions(pages: DataFrame): DataFrame =
    pages.select(explode(col("exhibitions")).as("e"))
      .select(col("e.title").as("title"),
        col("e.picture.original").as("picture_url"))

  /** Exhibition-times extract (exhibitions.py:83-115): one row per
    * (exhibition, time frame). `dateparser.parse(x).date()` keeps the
    * LITERAL date written in the ISO string (no timezone conversion), so
    * the date is sliced off the text, not round-tripped through a
    * session-zoned timestamp. */
  def exhibitionTimes(pages: DataFrame): DataFrame =
    pages.select(explode(col("exhibitions")).as("e"))
      .select(col("e.title").as("title"),
        explode(col("e.time_frames")).as("tf"))
      .select(col("title"),
        to_date(substring(col("tf.start_at"), 1, 10)).as("start_date"),
        to_date(substring(col("tf.end_at"), 1, 10)).as("end_date"))
}
