package graft.html

import org.apache.spark.sql.DataFrame

/** Head-metadata extraction from real HTML via the streaming tokenizer
  * — the page-level fields a web corpus indexes next to the extracted
  * text: `<title>`, meta description, canonical URL, `<base href>`,
  * charset, Open Graph title, robots directives, alternate-language
  * link count.
  *
  * Semantics (WHATWG-aligned): all fields are FIRST-wins (a second
  * `<title>` or canonical never overrides the first, matching browser
  * behavior); attribute names arrive lower-cased and values
  * entity-decoded from the tokenizer; `<title>` content is RCDATA
  * (markup inside is text) and is whitespace-collapsed; `rel` is a
  * case-insensitive space-separated token list; robots directives are
  * case-insensitive comma-separated tokens scanned for `noindex` /
  * `nofollow` (the `none` shorthand implies both, per the original
  * robots-meta convention).
  *
  * Scale shape: one typed map per document — map-only, rides the scan,
  * no shuffle; the output is a handful of short strings per row.
  */
object Meta {

  final case class PageMeta(
    title: String, description: String, canonical: String,
    baseHref: String, charset: String, ogTitle: String,
    noindex: Boolean, nofollow: Boolean, nAlternates: Int)

  private def relTokens(rel: String): Set[String] =
    rel.toLowerCase(java.util.Locale.ROOT).split("\\s+")
      .iterator.filter(_.nonEmpty).toSet

  def extract(htmlText: String): PageMeta = {
    var title: String = null
    var desc: String = null
    var canonical: String = null
    var base: String = null
    var charset: String = null
    var ogTitle: String = null
    var noindex = false
    var nofollow = false
    var nAlt = 0
    var inTitle = false
    val titleSb = new StringBuilder
    HtmlTokenizer.tokenize(htmlText).foreach {
      case HtmlTokenizer.StartTag("title", _, selfClosing) =>
        if (title == null && !selfClosing) inTitle = true
      case HtmlTokenizer.EndTag("title") =>
        if (inTitle) { title = collapseWs(titleSb.toString); inTitle = false }
      case HtmlTokenizer.Text(t) if inTitle => titleSb.append(t)
      case HtmlTokenizer.StartTag("meta", attrs, _) =>
        val name = attr(attrs, "name").toLowerCase(java.util.Locale.ROOT)
        val content = attr(attrs, "content")
        name match {
          case "description" => if (desc == null && content.nonEmpty) desc = content
          case "robots" =>
            content.toLowerCase(java.util.Locale.ROOT).split(",")
              .map(_.trim).foreach {
                case "noindex" => noindex = true
                case "nofollow" => nofollow = true
                case "none" => noindex = true; nofollow = true
                case _ => ()
              }
          case _ => ()
        }
        if (attr(attrs, "property")
            .equalsIgnoreCase("og:title") && ogTitle == null &&
          content.nonEmpty) ogTitle = content
        val cs = attr(attrs, "charset")
        if (cs.nonEmpty && charset == null)
          charset = cs.toLowerCase(java.util.Locale.ROOT)
      case HtmlTokenizer.StartTag("link", attrs, _) =>
        val rel = relTokens(attr(attrs, "rel"))
        val href = attr(attrs, "href")
        if (rel.contains("canonical") && canonical == null && href.nonEmpty)
          canonical = href
        if (rel.contains("alternate") &&
          attr(attrs, "hreflang").nonEmpty) nAlt += 1
      case HtmlTokenizer.StartTag("base", attrs, _) =>
        val href = attr(attrs, "href")
        if (base == null && href.nonEmpty) base = href
      case _ => ()
    }
    if (inTitle && title == null) title = collapseWs(titleSb.toString)
    def nz(s: String) = if (s == null) "" else s
    PageMeta(nz(title), nz(desc), nz(canonical), nz(base), nz(charset),
      nz(ogTitle), noindex, nofollow, nAlt)
  }

  /** Meta-refresh redirect (`<meta http-equiv="refresh"
    * content="delay[;url=target]">`) — the soft-redirect mechanism a
    * crawler must follow (or trap-guard) next to HTTP 3xx. Pinned
    * parse: FIRST refresh meta wins; delay is the leading digit run
    * of the content's first `;`-part (no digits → the refresh is
    * invalid and ignored — strict, documented); the target is the
    * part after a case-insensitive `url=`, with one layer of
    * matching quotes stripped; a delay-only refresh (self-reload)
    * yields an empty target. */
  def metaRefresh(html: String): Option[(Long, String)] = {
    var found: Option[(Long, String)] = None
    HtmlTokenizer.tokenize(Option(html).getOrElse("")).foreach {
      case HtmlTokenizer.StartTag("meta", attrs, _) if found.isEmpty &&
        attr(attrs, "http-equiv").equalsIgnoreCase("refresh") =>
        val content = attr(attrs, "content")
        val parts = content.split(";", 2)
        val digits = parts(0).trim.takeWhile(_.isDigit)
        if (digits.nonEmpty) {
          val url = if (parts.length < 2) "" else {
            val p = parts(1).trim
            if (p.toLowerCase(java.util.Locale.ROOT).startsWith("url=")) {
              var v = p.substring(4).trim
              if (v.length >= 2 &&
                ((v.head == '"' && v.last == '"') ||
                  (v.head == '\'' && v.last == '\'')))
                v = v.substring(1, v.length - 1).trim
              v
            } else ""
          }
          found = Some((digits.toLong, url))
        }
      case _ => ()
    }
    found
  }

  /** One row per document WITH a valid refresh: (idCol, delay_sec,
    * target_url) — one typed flatMap, map-only. */
  def refreshRows(df: DataFrame, idCol: String,
                  htmlCol: String): DataFrame =
    pageRows(df, idCol, htmlCol) { (id, h) =>
      metaRefresh(h).map { case (d, u) => (id, d, u) }
    }.toDF(idCol, "delay_sec", "target_url")

  /** `<link rel="alternate" hreflang=… href=…>` pairs in document
    * order — the multilingual cluster map (one page's translations),
    * the signal per-language curation joins against so language
    * variants of one page share fate. rel matching is token- and
    * case-insensitive (`"Alternate stylesheet"` contains the token);
    * entries missing href OR hreflang are skipped; `x-default` is a
    * legitimate hreflang value and passes through. */
  def alternates(html: String): Vector[(String, String)] = {
    val out = Vector.newBuilder[(String, String)]
    HtmlTokenizer.tokenize(Option(html).getOrElse("")).foreach {
      case HtmlTokenizer.StartTag("link", attrs, _) =>
        val rel = relTokens(attr(attrs, "rel"))
        val lang = attr(attrs, "hreflang")
        val href = attr(attrs, "href")
        if (rel.contains("alternate") && lang.nonEmpty && href.nonEmpty)
          out += ((lang, href))
      case _ => ()
    }
    out.result()
  }

  /** First `<link rel="next">` href — the pagination forward pointer
    * (multi-page articles); "" when absent. rel matching is token-
    * and case-insensitive like all rel handling here. Feed the
    * resulting (url, next_url) edges to `ops.Redirects.resolve` to
    * assemble whole pagination chains in log-depth joins. */
  def nextLink(html: String): String = {
    var found: String = null
    HtmlTokenizer.tokenize(Option(html).getOrElse("")).foreach {
      case HtmlTokenizer.StartTag("link", attrs, _) if found == null =>
        val href = attr(attrs, "href")
        if (relTokens(attr(attrs, "rel")).contains("next") &&
          href.nonEmpty) found = href
      case _ => ()
    }
    if (found == null) "" else found
  }

  /** One row per alternate: (idCol, alt_idx, hreflang, href) — one
    * typed flatMap, map-only. */
  def alternateRows(df: DataFrame, idCol: String,
                    htmlCol: String): DataFrame =
    pageRows(df, idCol, htmlCol) { (id, h) =>
      alternates(h).zipWithIndex.map { case ((l, u), i) => (id, i.toLong, l, u) }
    }.toDF(idCol, "alt_idx", "hreflang", "href")

  /** One row per document: the PageMeta fields as columns — one typed
    * stage, map-only. */
  def metaRows(df: DataFrame, idCol: String, htmlCol: String): DataFrame =
    pageRows(df, idCol, htmlCol) { (id, h) =>
      val m = extract(Option(h).getOrElse(""))
      Some((id, m.title, m.description, m.canonical, m.baseHref, m.charset,
        m.ogTitle, m.noindex, m.nofollow, m.nAlternates))
    }.toDF(idCol, "title", "description", "canonical", "base_href",
      "charset", "og_title", "noindex", "nofollow", "n_alternates")
}
