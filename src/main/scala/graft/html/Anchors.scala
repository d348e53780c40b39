package graft.html

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Anchor (link) extraction from real HTML via the streaming tokenizer
  * — the bridge between content extraction and the link graph: hrefs
  * feed `ops.LinkGraph` edges and `ops.UrlFilter` frontier rules;
  * anchor TEXT is the classic relevance signal search and
  * quality-ranking pipelines aggregate per target.
  *
  * Semantics (WHATWG-aligned): a `<a>` start tag with a non-empty
  * `href` opens a capture; a new `<a>` implicitly closes any open one
  * (anchors never nest); `</a>` or end-of-document closes. Text from
  * ANY nested inline markup accumulates into the anchor text, which is
  * whitespace-collapsed and trimmed. Hrefs and text arrive
  * entity-decoded from the tokenizer.
  *
  * Scale shape: `anchorRows` is one typed flatMap stage — map-only,
  * rides the scan, no state across rows; downstream host roll-ups are
  * the usual (host, count) shuffles.
  */
object Anchors {

  /** All (href, anchor_text) pairs in document order. */
  def extract(html: String): List[(String, String)] = {
    val out = List.newBuilder[(String, String)]
    var href: String = null
    val sb = new StringBuilder
    def close(): Unit =
      if (href != null) {
        out += ((href, collapseWs(sb.toString)))
        href = null
        sb.setLength(0)
      }
    HtmlTokenizer.tokenize(html).foreach {
      case HtmlTokenizer.StartTag("a", attrs, selfClosing) =>
        close()
        attrs.collectFirst { case ("href", v) if v.nonEmpty => v }
          .foreach { h =>
            if (selfClosing) out += ((h, "")) else href = h
          }
      case HtmlTokenizer.EndTag("a") => close()
      case HtmlTokenizer.Text(t) if href != null => sb.append(t)
      case _ => ()
    }
    close()
    out.result()
  }

  /** Explodes each row into (id, href, anchor_text) rows — one typed
    * flatMap, map-only. */
  def anchorRows(df: DataFrame, idCol: String, htmlCol: String): DataFrame =
    pageRows(df, idCol, htmlCol) { (id, html) =>
      extract(Option(html).getOrElse("")).map { case (h, t) => (id, h, t) }
    }.toDF(idCol, "href", "anchor_text")

  private def hostOf(url: String): String = {
    val at = url.indexOf("://")
    if (at < 0) return ""
    var s = url.substring(at + 3)
    val slash = s.indexOf('/')
    if (slash >= 0) s = s.substring(0, slash)
    val colon = s.indexOf(':')
    if (colon >= 0) s = s.substring(0, colon)
    s.toLowerCase(java.util.Locale.ROOT)
  }

  /** Page-level outlink profile — the page-granular complement to the
    * block-level link-density signal: (n_links, n_internal,
    * n_external, n_nofollow). Pinned classification: non-page schemes
    * (`mailto:`/`javascript:`/`tel:`/`data:`) are SKIPPED entirely;
    * scheme-relative and path-relative hrefs are INTERNAL; absolute
    * http(s) links compare lowercased host (port stripped) against
    * `pageHost`; `rel` nofollow matching is token- and
    * case-insensitive. A farm page shows high external share; a
    * comment-spammed page shows high nofollow share. */
  def outlinkProfile(html: String,
                     pageHost: String): (Long, Long, Long, Long) = {
    var n = 0L; var internal = 0L; var external = 0L; var nofollow = 0L
    val ph = pageHost.toLowerCase(java.util.Locale.ROOT)
    HtmlTokenizer.tokenize(Option(html).getOrElse("")).foreach {
      case HtmlTokenizer.StartTag("a", attrs, _) =>
        val href = attrs.collectFirst { case ("href", v) => v }
          .getOrElse("")
        val lower = href.toLowerCase(java.util.Locale.ROOT)
        val skip = href.isEmpty || lower.startsWith("mailto:") ||
          lower.startsWith("javascript:") || lower.startsWith("tel:") ||
          lower.startsWith("data:")
        if (!skip) {
          n += 1
          val h =
            if (lower.startsWith("http://") ||
              lower.startsWith("https://")) hostOf(href)
            else ""
          if (h.isEmpty || h == ph) internal += 1 else external += 1
          val rel = attrs.collectFirst { case ("rel", v) => v }
            .getOrElse("")
          if (rel.toLowerCase(java.util.Locale.ROOT).split("\\s+")
            .contains("nofollow")) nofollow += 1
        }
      case _ => ()
    }
    (n, internal, external, nofollow)
  }

  /** One row per document: (idCol, n_links, n_internal, n_external,
    * n_nofollow) — one typed map, map-only. */
  def outlinkProfileRows(df: DataFrame, idCol: String, htmlCol: String,
                         hostCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(htmlCol).cast("string"),
        col(hostCol).cast("string"))
      .as[(Long, String, String)]
      .map { case (id, h, host) =>
        val (a, b, c, d) = outlinkProfile(h, Option(host).getOrElse(""))
        (id, a, b, c, d)
      }
      .toDF(idCol, "n_links", "n_internal", "n_external", "n_nofollow")
  }
}
