package graft.bronze

import java.sql.Timestamp
import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.col

import graft.functions.Murmur3Ops
import graft.sources.{Html, Scrapers, Xpath}

/** S5: the gomus HTML scrape operators (reference
  * src/gomus/_utils/scrape_gomus.py, src/gomus/quotas.py,
  * src/gomus/capacities.py), re-expressed as distributed Spark scans.
  *
  * The reference loops over fetched page files on one machine; here each
  * page is one `binaryFile` row and the extraction (HTML parse + XPath,
  * [[graft.sources.Html]]/[[graft.sources.Xpath]]) runs inside a
  * `flatMap` on executors — one task per file group, linear scale-out
  * over page count, no shuffle until the caller aggregates. Fetching
  * (auth, sessions, retries) stays out of engine scope per SURVEY §7.5;
  * these operators start from fetched page bytes exactly like the
  * reference tasks start from `FetchGomusHTML` outputs.
  *
  * Every XPath expression below is the reference's, verbatim (cited per
  * method); fidelity against the reference's own HTML fixtures and
  * expected CSVs is asserted in GomusScrapeSpec.
  */
object Scrape {

  private val idFromPath = """(\d+)\.html$""".r.unanchored

  private def pathId(path: String): Long =
    idFromPath.findFirstMatchIn(path).map(_.group(1).toLong).getOrElse(-1L)

  private def pages(spark: SparkSession, dir: String): Dataset[(String, Array[Byte])] = {
    import spark.implicits._
    spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.html")
      .load(dir)
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
  }

  private def ts(d: java.time.LocalDateTime): Timestamp = Timestamp.valueOf(d)

  // ------------------------------------------------------------- quotas
  final case class QuotaRow(quota_id: Int, name: String,
      creation_date: Timestamp, update_date: Timestamp)

  /** One quota page → one row (quotas.py:53-68, xpaths verbatim). */
  def extractQuota(src: String): QuotaRow = {
    val dom = Html.parse(src)
    val div = Xpath.elems(dom,
      "//body/div[2]/div[2]/div[3]/div/div[2]/div[1]").head
    val dateDiv = Xpath.elems(div, "div[3]/div/div[2]/div/small/dl").head
    def date(expr: String): Timestamp =
      ts(Scrapers.parseGermanDate(Xpath.parseText(dateDiv, expr)).getOrElse(
        throw new IllegalArgumentException(s"unparseable date at $expr")))
    QuotaRow(
      quota_id = Xpath.parseInt(dom,
        "//body/div[2]/div[2]/div[2]/div/div/ol/li[2]/span[1]"),
      name = Xpath.parseText(div, "div[2]/h3"),
      creation_date = date("dd[2]"),
      update_date = date("dd[1]"))
  }

  final case class QuotaIdPage(quotaIds: Seq[Int], nextUrl: Option[String])

  /** One quota LISTING page → the quota ids it lists plus the rel=next
    * pagination link (quotas.py:115-141, xpaths verbatim) — the payload
    * half of FetchQuotaIds; the HTTP loop that follows `nextUrl` is the
    * scoped-out live half. Ids come from the last path segment of each
    * row's first-cell link, exactly like the reference's
    * `href.split('/')[-1]`. */
  def extractQuotaIdPage(src: String): QuotaIdPage = {
    val dom = Html.parse(src)
    val ids = Xpath.elems(dom,
      "//body/div[2]/div[2]/div[3]/div/div[2]/div/div[2]/" +
        "table/tbody/tr/td[1]/a")
      .flatMap(_.attr("href"))
      .map(h => h.split('/').last.toInt)
    val next = Xpath.elems(dom,
      "//body/div[2]/div[2]/div[3]/div/div[2]/div/div[2]/div/" +
        "div[1]/ul/li/a[@rel=\"next\"]")
      .headOption.flatMap(_.attr("href"))
    QuotaIdPage(ids, next)
  }

  /** Distributed ExtractQuotas: directory of quota pages → DataFrame. */
  def quotaDetails(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    pages(spark, dir).map { case (_, content) =>
      extractQuota(new String(content, "UTF-8"))
    }.toDF()
  }

  // --------------------------------------------------------- capacities
  final case class CapacityRow(quota_id: Int, date: String, time: String,
      max: Int, sold: Int, reserved: Int, available: Int,
      last_updated: String)

  /** Messages that mark a page as legitimately capacity-less
    * (capacities.py:37-40). */
  val ignoredErrorMessages: Seq[String] = Seq(
    "Für dieses Kontingent können keine Kapazitäten berechnet werden.")

  /** One capacity page → the full 7-day × 15-minute zero grid with
    * basic-table and hovercard details applied (capacities.py:88-206,
    * xpaths and flow verbatim: zero grid, `td[position()>1]` basic cells
    * keyed by `data-timestamp` [Berlin local time], popover JS literals →
    * title date w/ min_date as relative base + content table ints,
    * detailed overrides basic). Throws when no basic cell exists and no
    * ignored-error message is present (reference ValueError). */
  def extractCapacities(src: String, today: LocalDate): Seq[CapacityRow] = {
    val dom = Html.parse(src)
    val quotaId = Xpath.parseInt(dom, "//*[contains(@class, \"badge-primary\")]")
    val minDate = Scrapers.parseGermanDate(
      Xpath.parseText(dom, "//input[@id=\"start_at\"]/@value"))
      .getOrElse(throw new IllegalArgumentException("bad start_at"))
      .toLocalDate

    // (date, time) → (max, sold, reserved, available)
    val grid = scala.collection.mutable.LinkedHashMap.empty[
      (LocalDate, String), (Int, Int, Int, Int)]
    for (d <- 0 until 7; slot <- 0 until 96) {
      val t = f"${slot / 4}%02d:${(slot % 4) * 15}%02d:00"
      grid((minDate.plusDays(d), t)) = (0, 0, 0, 0)
    }

    val cells = Xpath.elems(dom,
      "//body/div[2]/div[2]/div[3]/div/div[2]/div/div[2]/table/tbody/" +
        "tr/td[position()>1]")
    if (cells.isEmpty) {
      val allText = dom.textContent
      if (!ignoredErrorMessages.exists(allText.contains))
        throw new IllegalStateException(
          s"Failed to extract any basic capacity from DOM for " +
            s"quota_id=$quotaId, min_date=$minDate!")
    }
    cells.foreach { cell =>
      val dt = Scrapers.fromTimestamp(cell.attr("data-timestamp").get.toLong)
      val key = (dt.toLocalDate, dt.toLocalTime.toString + ":00")
      val avail = cell.textContent.trim.toInt
      if (grid.contains(key)) grid(key) = (avail, 0, 0, avail)
    }

    Scrapers.popoverLiterals(src).foreach { js =>
      val info = Scrapers.parseJsObject(js)
      val title = Html.parse(info("title"))
      val content = Html.parse(info("content"))
      val dt = Scrapers.parseGermanDate(title.textContent,
        relativeBase = Some(minDate)).getOrElse(
        throw new IllegalArgumentException("bad hovercard date"))
      val key = (dt.toLocalDate, dt.toLocalTime.toString + ":00")
      if (grid.contains(key)) grid(key) = (
        Xpath.parseInt(content, "//tbody[1]/tr[1]/td[2]"),
        Xpath.parseInt(content, "//tbody[1]/tr[2]/td[2]"),
        Xpath.parseInt(content, "//tbody[1]/tr[3]/td[2]"),
        Xpath.parseInt(content, "//tfooter[1]/tr/td[2]"))
    }

    grid.iterator.map { case ((d, t), (mx, sold, res, avail)) =>
      CapacityRow(quotaId, d.toString, t, mx, sold, res, avail,
        today.toString)
    }.toSeq
  }

  /** Distributed ExtractCapacities over a directory of capacity pages. */
  def capacities(spark: SparkSession, dir: String, today: LocalDate): DataFrame = {
    import spark.implicits._
    pages(spark, dir).flatMap { case (_, content) =>
      extractCapacities(new String(content, "UTF-8"), today)
    }.toDF()
  }

  // ----------------------------------------------------------- bookings
  final case class BookingDetailRow(booking_id: Long, customer_id: Int,
      order_date: Timestamp, language: String, gomus_id: Long)

  private val emailRe = """^\S+@\S+\.\S+$""".r

  /** One booking page → scraped enrichment columns
    * (scrape_gomus.py:103-172, xpaths verbatim): order date from the
    * Datum dl, language from the dd whose nearest preceding dt mentions
    * Sprache, customer id = seed-666 murmur3 of the customer email when
    * present and email-shaped, else 0 with the gomus customer id scraped
    * from the profile link (the reference then fetches that profile — a
    * network step outside engine scope; the id is surfaced instead). */
  def extractBookingDetail(bookingId: Long, src: String): BookingDetailRow = {
    val dom = Html.parse(src)
    val details = Xpath.elems(dom,
      "//body/div[2]/div[2]/div[3]/div[4]/div[2]/div[1]/div[3]").head
    val orderDate = Scrapers.parseGermanDate(Xpath.parseText(details,
      "//div[@class='ibox-content']//dl[dt[normalize-space(text())='Datum']]//dd[1]"))
      .map(ts).orNull
    val language = Xpath.parseText(details,
      "div/div[1]/dl[2]/dd[contains(preceding-sibling::dt[1]/text(), 'Sprache')]")
    var customerId = 0
    var gomusId = -1L
    val custDetails = Xpath.elems(dom,
      "/html/body/div[2]/div[2]/div[3]/div[4]/div[2]/div[2]/div[2]")
    custDetails.headOption.foreach { cust =>
      val mailNodes = Xpath.select(cust, "div[1]/div[1]/div[2]/small[1]")
      if (mailNodes.isEmpty) {
        // reference scrape_gomus.py:134-166: the gomus-id fallback is
        // exception-scoped — only the ABSENT email node (IndexError)
        // takes the profile-link branch
        Xpath.select(cust, "div[1]/div[1]/div[1]/a/@href").headOption
          .foreach { href =>
            gomusId = Xpath.itemString(href).split('/').last.toLong
          }
      } else {
        val mail = Xpath.itemString(mailNodes.head).trim.split('\n').head
        if (emailRe.findFirstIn(mail).isDefined)
          customerId = Murmur3Ops.hashBytes(mail.getBytes("UTF-8"), 666)
        // mail present but not email-shaped: customer_id stays 0 with NO
        // gomus lookup, matching the reference's non-exception path
      }
    }
    BookingDetailRow(bookingId, customerId, orderDate, language, gomusId)
  }

  // ------------------------------------------------------ order articles
  final case class OrderArticleRow(article_id: Long, article_type: String,
      order_id: Long, ticket: String, date: Timestamp, quantity: Int,
      price: Double, is_cancelled: Boolean)

  private val stornoRe = """(S|s)torn(o|ier)""".r
  private val uhrDateRe = """\d.*Uhr""".r

  /** One order page → article rows (ScrapeGomusOrderContains,
    * scrape_gomus.py:277-365, xpaths and all four workarounds verbatim:
    * union id xpath for excursion links, skip articles without id cell,
    * skip `td[3]` without children, skip empty tickets, fall back to
    * 1.1.1900 when the infobox has no "… Uhr" date, storno regex over
    * the whole article row text). */
  def extractOrderArticles(orderId: Long, src: String): Seq[OrderArticleRow] = {
    val dom = Html.parse(src)
    val details = Xpath.elems(dom,
      "//body/div[2]/div[2]/div[3]/div[3]/div[2]/div/div[2]/" +
        "div/div/div/div[2]").head
    Xpath.elems(details, "table/tbody[1]/tr").flatMap { article =>
      val idXpath = "td[1]/div|td[1]/a/div|td[1]/a"
      val idNodes = Xpath.elems(article, idXpath)
      if (idNodes.isEmpty) None
      else {
        val articleId = Xpath.extractText(article, idXpath).trim.toLong
        val articleType = Xpath.select(article,
          "td[1]/div/i/@title|td[1]/a/div/i/@title|td[1]/a/i/@title")
          .headOption.map(Xpath.itemString).getOrElse("")
        if (Xpath.elems(article, "td[3][count(*)>0]").isEmpty) None
        else {
          val ticket = Xpath.extractText(article, "td[3]/strong").trim
          if (ticket.isEmpty) None
          else {
            val infobox = Xpath.extractText(article, "td[2]/div")
            val rawDate = uhrDateRe.findFirstIn(infobox).getOrElse("1.1.1900")
            val date = Scrapers.parseGermanDate(rawDate.stripSuffix("Uhr"))
              .map(ts).orNull
            val quantity = Xpath.extractText(article, "td[4]").trim.toInt
            val price = Scrapers.parsePrice(Xpath.extractText(article, "td[5]"))
            val cancelled =
              stornoRe.findFirstIn(article.textContent).isDefined
            Some(OrderArticleRow(articleId, articleType, orderId, ticket,
              date, quantity, price, cancelled))
          }
        }
      }
    }.toSeq
  }

  /** Distributed ScrapeGomusOrderContains. */
  def orderContains(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    pages(spark, dir).flatMap { case (path, content) =>
      extractOrderArticles(pathId(path), new String(content, "UTF-8"))
    }.toDF()
  }
}
