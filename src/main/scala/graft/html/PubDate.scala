package graft.html

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Publication-date extraction — the htmldate/trafilatura problem
  * (Barbaresi, "htmldate: A Python package to extract publication dates
  * from web pages", JOSS 2020; method is public): walk a documented
  * PRECEDENCE CHAIN of page signals and return the first candidate that
  * VALIDATES as a real calendar date, with the winning source tagged so
  * every decision is auditable (same auditability convention as
  * `ops.Encoding`'s `how` column).
  *
  * Precedence (first valid wins; an invalid candidate falls through to
  * the NEXT source, as in htmldate's extensive-search cascade):
  *   1. `og_article` — `<meta property="article:published_time">`
  *   2. `microdata`  — `<meta itemprop="datePublished">`
  *   3. `meta_date`  — `<meta name="date">` (name case-insensitive)
  *   4. `time_elem`  — first `<time datetime=…>` (attr-less `<time>`
  *                     elements are skipped, not parsed as text)
  *   5. `url_path`   — first valid `/YYYY/MM[/DD]/` path segment
  *                     (day defaults to 01 — archive-index convention)
  *   6. `none`       — empty date
  *
  * Within one source the FIRST occurrence wins (a later duplicate meta
  * never overrides — same convention as `html.Meta`). Candidates accept
  * `YYYY-MM-DD` or `YYYY/MM/DD` prefixes (trailing time-of-day ignored)
  * and must pass full calendar validation: year 1991-2030, month 1-12,
  * day within the month INCLUDING leap-year February — `2020-02-29`
  * validates, `2021-02-29` falls through.
  *
  * Scale shape: one typed map per document — map-only, rides the scan,
  * no shuffle; output is one short string pair per row.
  */
object PubDate {

  private val monthDays =
    Array(31, 28, 31, 30, 31, 30, 31, 31, 30, 31, 30, 31)

  private def isLeap(y: Int): Boolean =
    (y % 4 == 0 && y % 100 != 0) || y % 400 == 0

  private def validDate(y: Int, m: Int, d: Int): Boolean = {
    if (y < 1991 || y > 2030 || m < 1 || m > 12 || d < 1) return false
    val max = if (m == 2 && isLeap(y)) 29 else monthDays(m - 1)
    d <= max
  }

  private def fmt(y: Int, m: Int, d: Int): String =
    f"$y%04d-$m%02d-$d%02d"

  /** Parse a candidate string: a `YYYY-MM-DD` / `YYYY/MM/DD` prefix
    * (anything after the day — 'T', space, time-of-day — is ignored).
    * Returns the normalized ISO date, or "" when malformed or not a
    * real calendar date. */
  def parseCandidate(raw: String): String = {
    if (raw == null) return ""
    val s = raw.trim
    if (s.length < 10) return ""
    def dig(i: Int): Boolean = { val c = s.charAt(i); c >= '0' && c <= '9' }
    if (!(dig(0) && dig(1) && dig(2) && dig(3))) return ""
    val sep = s.charAt(4)
    if (sep != '-' && sep != '/') return ""
    if (!(dig(5) && dig(6)) || s.charAt(7) != sep || !(dig(8) && dig(9)))
      return ""
    val y = s.substring(0, 4).toInt
    val m = s.substring(5, 7).toInt
    val d = s.substring(8, 10).toInt
    if (validDate(y, m, d)) fmt(y, m, d) else ""
  }

  /** First valid `/YYYY/MM[/DD]` segment in the URL path (boundary:
    * the segment after the match must end or continue with '/'). */
  private val urlDate =
    """/((?:19|20)\d{2})/(\d{1,2})(?:/(\d{1,2}))?(?=/|$)""".r

  def fromUrl(url: String): String = {
    if (url == null) return ""
    urlDate.findAllMatchIn(url).foreach { mm =>
      val y = mm.group(1).toInt
      val m = mm.group(2).toInt
      val d = if (mm.group(3) == null) 1 else mm.group(3).toInt
      if (validDate(y, m, d)) return fmt(y, m, d)
    }
    ""
  }

  /** (isoDate, source) per the object doc's precedence chain. */
  def extract(url: String, html: String): (String, String) = {
    // first-seen raw candidate per source (null = source absent)
    var og: String = null
    var micro: String = null
    var metaDate: String = null
    var timeAttr: String = null
    HtmlTokenizer.tokenize(Option(html).getOrElse("")).foreach {
      case HtmlTokenizer.StartTag("meta", attrs, _) =>
        val content = attr(attrs, "content")
        if (og == null && attr(attrs, "property")
            .equalsIgnoreCase("article:published_time") && content.nonEmpty)
          og = content
        if (micro == null && attr(attrs, "itemprop")
            .equalsIgnoreCase("datePublished") && content.nonEmpty)
          micro = content
        if (metaDate == null && attr(attrs, "name")
            .equalsIgnoreCase("date") && content.nonEmpty)
          metaDate = content
      case HtmlTokenizer.StartTag("time", attrs, _) =>
        val dt = attr(attrs, "datetime")
        if (timeAttr == null && dt.nonEmpty) timeAttr = dt
      case _ => ()
    }
    val chain = Seq(
      "og_article" -> Option(og).map(parseCandidate).getOrElse(""),
      "microdata" -> Option(micro).map(parseCandidate).getOrElse(""),
      "meta_date" -> Option(metaDate).map(parseCandidate).getOrElse(""),
      "time_elem" -> Option(timeAttr).map(parseCandidate).getOrElse(""),
      "url_path" -> fromUrl(url))
    chain.collectFirst { case (src, d) if d.nonEmpty => (d, src) }
      .getOrElse(("", "none"))
  }

  /** One row per document: (idCol, pub_date, source) — one typed map,
    * map-only. */
  def pubDateRows(df: DataFrame, idCol: String, urlCol: String,
                  htmlCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(urlCol).cast("string"),
        col(htmlCol).cast("string"))
      .as[(Long, String, String)]
      .map { case (id, url, h) =>
        val (d, src) = extract(url, h)
        (id, d, src)
      }
      .toDF(idCol, "pub_date", "source")
  }
}
