package graft.html

import org.apache.spark.sql.DataFrame

/** Sitemap parsing (sitemaps.org XML protocol) via the streaming
  * tokenizer — crawl discovery: the per-host list of fetchable URLs
  * with freshness hints that seeds and refreshes the frontier.
  *
  * Handles both document kinds: `<urlset><url>…` (leaf sitemaps,
  * kind = "url") and `<sitemapindex><sitemap>…` (index files pointing
  * at child sitemaps, kind = "sitemap"). Inside each entry the
  * children `<loc>`, `<lastmod>`, `<changefreq>`, `<priority>` are
  * captured as trimmed text (entity-decoded by the tokenizer — sitemap
  * locs are XML-escaped per the spec); unknown elements are skipped;
  * an entry without a `<loc>` is dropped, per protocol. Element names
  * match case-insensitively (the tokenizer lower-cases them) and the
  * XML declaration tokenizes as a bogus comment, which the state
  * machine ignores.
  *
  * Scale shape: one typed flatMap per sitemap blob — map-only; a
  * 1000-executor refresh parses every host's sitemap independently.
  */
object Sitemap {

  final case class Entry(kind: String, loc: String, lastmod: String,
                         changefreq: String, priority: String)

  def parse(xml: String): List[Entry] = {
    val out = List.newBuilder[Entry]
    var kind: String = null      // "url" | "sitemap" when inside an entry
    var field: String = null     // child element currently open
    var loc, lastmod, changefreq, priority = ""
    val sb = new StringBuilder
    def closeField(): Unit = {
      if (field != null) {
        val v = sb.toString.trim
        field match {
          case "loc" => loc = v
          case "lastmod" => lastmod = v
          case "changefreq" => changefreq = v
          case "priority" => priority = v
          case _ => ()
        }
      }
      field = null
      sb.setLength(0)
    }
    def closeEntry(): Unit = {
      closeField()
      if (kind != null && loc.nonEmpty)
        out += Entry(kind, loc, lastmod, changefreq, priority)
      kind = null
      loc = ""; lastmod = ""; changefreq = ""; priority = ""
    }
    HtmlTokenizer.tokenize(xml).foreach {
      case HtmlTokenizer.StartTag(name, _, selfClosing) => name match {
        case "url" | "sitemap" =>
          closeEntry()
          if (!selfClosing) kind = name
        case "loc" | "lastmod" | "changefreq" | "priority" if kind != null =>
          closeField()
          if (!selfClosing) field = name
        case _ => closeField()
      }
      case HtmlTokenizer.EndTag(name) => name match {
        case "url" | "sitemap" => closeEntry()
        case _ => closeField()
      }
      case HtmlTokenizer.Text(t) if field != null => sb.append(t)
      case _ => ()
    }
    closeEntry()
    out.result()
  }

  /** Explodes each row into (id, kind, loc, lastmod, changefreq,
    * priority) — one typed flatMap, map-only. */
  def entryRows(df: DataFrame, idCol: String, xmlCol: String): DataFrame =
    pageRows(df, idCol, xmlCol) { (id, xml) =>
      parse(Option(xml).getOrElse("")).map(e =>
        (id, e.kind, e.loc, e.lastmod, e.changefreq, e.priority))
    }.toDF(idCol, "kind", "loc", "lastmod", "changefreq", "priority")
}
