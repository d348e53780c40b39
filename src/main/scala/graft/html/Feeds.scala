package graft.html

import org.apache.spark.sql.DataFrame

/** RSS 2.0 / Atom feed parsing for crawl discovery — the other half of
  * the discovery pair with `html.Sitemap`: feeds carry the NEW urls of
  * a site (freshness) where sitemaps carry the full inventory.
  *
  * Both formats ride the existing streaming tokenizer (tag names
  * arrive case-folded, entities and CDATA decoded — RSS titles are
  * routinely CDATA-wrapped):
  *   - kind: `<rss>` → rss, `<feed>` → atom; anything else → no rows;
  *   - items: `<item>` (rss) / `<entry>` (atom), document order;
  *   - title: text of the item's `<title>`;
  *   - link: rss = TEXT of `<link>`; atom = `href` ATTRIBUTE of the
  *     item's `<link>` whose `rel` is absent or `alternate` (a
  *     rel="self"/"edit" link never wins), first match wins;
  *   - date: rss = `<pubDate>` text, atom = `<updated>` text (raw,
  *     untrimmed-of-format — date PARSING is `html.PubDate`'s job);
  *   - channel-level title/link (outside any item) never leak in.
  *
  * Scale shape: one typed flatMap per document (0..n items out),
  * map-only, rides the scan.
  */
object Feeds {

  final case class FeedItem(kind: String, itemIdx: Int, title: String,
                            link: String, date: String)

  def items(xml: String): Vector[FeedItem] = {
    import HtmlTokenizer._
    val out = Vector.newBuilder[FeedItem]
    var kind: String = null
    var inItem = false
    var idx = 0
    var title: String = null
    var link: String = null
    var date: String = null
    var field: String = null // which text field we're collecting
    val sb = new StringBuilder

    def endField(): Unit = {
      if (field != null) {
        var v = sb.toString.trim
        // title is RCDATA to the HTML tokenizer, so an RSS CDATA
        // section arrives literally — unwrap the conventional single
        // outer wrapper
        if (v.startsWith("<![CDATA[") && v.endsWith("]]>") &&
          v.length >= 12)
          v = v.substring(9, v.length - 3).trim
        field match {
          case "title" => if (title == null) title = v
          case "link" => if (link == null) link = v
          case "date" => if (date == null) date = v
        }
        field = null; sb.setLength(0)
      }
    }

    tokenize(Option(xml).getOrElse("")).foreach {
      case StartTag("rss", _, _) if kind == null => kind = "rss"
      case StartTag("feed", _, _) if kind == null => kind = "atom"
      case StartTag(t, _, _) if (t == "item" && kind == "rss") ||
        (t == "entry" && kind == "atom") =>
        inItem = true; title = null; link = null; date = null
        field = null; sb.setLength(0)
      case EndTag(t) if (t == "item" && kind == "rss") ||
        (t == "entry" && kind == "atom") =>
        if (inItem) {
          endField()
          def nz(s: String) = if (s == null) "" else s
          out += FeedItem(kind, idx, nz(title), nz(link), nz(date))
          idx += 1; inItem = false
        }
      case StartTag("title", _, _) if inItem =>
        endField(); field = "title"
      case StartTag("link", attrs, _) if inItem =>
        if (kind == "atom") {
          val rel = attr(attrs, "rel")
          if (link == null && (rel.isEmpty ||
            rel.equalsIgnoreCase("alternate")))
            link = attr(attrs, "href")
        } else { endField(); field = "link" }
      case StartTag("pubdate", _, _) if inItem && kind == "rss" =>
        endField(); field = "date"
      case StartTag("updated", _, _) if inItem && kind == "atom" =>
        endField(); field = "date"
      case EndTag("title") | EndTag("link") | EndTag("pubdate") |
        EndTag("updated") => endField()
      case Text(t) if field != null => sb.append(t)
      case _ => ()
    }
    out.result()
  }

  /** One row per feed item: (idCol, kind, item_idx, title, link,
    * item_date) — one typed flatMap, map-only; non-feed documents
    * emit no row. */
  def itemRows(df: DataFrame, idCol: String, xmlCol: String): DataFrame =
    pageRows(df, idCol, xmlCol) { (id, x) =>
      items(x).map(it =>
        (id, it.kind, it.itemIdx.toLong, it.title, it.link, it.date))
    }.toDF(idCol, "kind", "item_idx", "title", "link", "item_date")
}
