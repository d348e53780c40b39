package graft.html

import org.apache.spark.sql.DataFrame

/** HTML → Markdown rendering over the error-tolerant DOM — the text
  * format modern LLM-corpus pipelines emit for web pages (structure
  * survives as lightweight markup instead of being flattened away).
  *
  * The dialect is PINNED (our own deterministic GFM subset, asserted
  * byte-exact by the oracle), not a CommonMark round-tripper:
  *   - h1-h6 → `#`·n; p → paragraph; hr → `---`; blocks join on one
  *     blank line; non-content subtrees (script/style/head/template/
  *     noscript/iframe/svg/form controls) are DROPPED.
  *   - inline: `**strong/b**`, `*em/i*`, `` `code/kbd/samp` ``,
  *     `~~del/s~~`, `[text](href)` (href-less anchors keep bare text),
  *     `![alt](src)`, `<br>` → newline; unknown inline tags are
  *     transparent; text whitespace collapses to single spaces; no
  *     markdown-special escaping (pinned contract).
  *   - ul/ol → `- ` / `1. ` markers, item-internal blocks joined tight
  *     (single newline), nested blocks indented 2 spaces.
  *   - blockquote → every inner line prefixed `> ` (empty lines `>`).
  *   - pre → fenced ``` block, RAW text (no collapse; entities already
  *     decoded by the tokenizer; leading newlines stripped).
  *   - table → GFM pipe table: first row is the header row, `---`
  *     separator, rows padded to the widest row.
  *
  * Scale shape: one typed map per document — map-only, rides the scan;
  * recursion depth is bounded by DomBuilder.MaxDepth (256).
  */
object Markdown {

  private val drop = Set("script", "style", "head", "template",
    "noscript", "iframe", "svg", "canvas", "object", "embed", "select",
    "button", "input", "textarea", "option")

  private val headingLevel = Map("h1" -> 1, "h2" -> 2, "h3" -> 3,
    "h4" -> 4, "h5" -> 5, "h6" -> 6)

  private val blockTags = Set("html", "body", "p", "div", "section",
    "article", "header", "footer", "main", "aside", "nav", "figure",
    "figcaption", "blockquote", "pre", "ul", "ol", "li", "table", "hr",
    "dl", "dt", "dd", "form", "fieldset", "address", "details",
    "summary", "caption", "thead", "tbody", "tfoot", "tr", "td",
    "th") ++ headingLevel.keySet

  private def appendCollapsed(sb: StringBuilder, s: String): Unit = {
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (Character.isWhitespace(c)) {
        if (sb.nonEmpty && {
          val l = sb.charAt(sb.length - 1); l != ' ' && l != '\n'
        }) sb.append(' ')
      } else sb.append(c)
      i += 1
    }
  }

  private def inlineOf(children: Vector[Node]): String = {
    val sb = new StringBuilder
    children.foreach(inline(_, sb))
    sb.toString.trim
  }

  private def wrap(sb: StringBuilder, e: Element, delim: String): Unit = {
    val inner = inlineOf(e.children)
    if (inner.nonEmpty) sb.append(delim).append(inner).append(delim)
  }

  private def inline(n: Node, sb: StringBuilder): Unit = n match {
    case TextNode(t) => appendCollapsed(sb, t)
    case e: Element => e.tag match {
      case t if drop(t) => ()
      case "br" =>
        while (sb.nonEmpty && sb.charAt(sb.length - 1) == ' ')
          sb.setLength(sb.length - 1)
        if (sb.nonEmpty) sb.append('\n')
      case "img" =>
        sb.append("![").append(e.attr("alt")).append("](")
          .append(e.attr("src")).append(')')
      case "a" =>
        val inner = inlineOf(e.children)
        if (inner.nonEmpty) {
          val href = e.attr("href")
          if (href.nonEmpty)
            sb.append('[').append(inner).append("](").append(href)
              .append(')')
          else sb.append(inner)
        }
      case "strong" | "b" => wrap(sb, e, "**")
      case "em" | "i" => wrap(sb, e, "*")
      case "del" | "s" | "strike" => wrap(sb, e, "~~")
      case "code" | "kbd" | "samp" => wrap(sb, e, "`")
      case _ => e.children.foreach(inline(_, sb))
    }
  }

  private def rawText(n: Node, sb: StringBuilder): Unit = n match {
    case TextNode(t) => sb.append(t)
    case e: Element => e.children.foreach(rawText(_, sb))
  }

  private def renderChildren(children: Vector[Node]): Vector[String] = {
    val out = Vector.newBuilder[String]
    val sb = new StringBuilder
    def flush(): Unit = {
      val s = sb.toString.trim
      if (s.nonEmpty) out += s
      sb.setLength(0)
    }
    children.foreach {
      case e: Element if drop(e.tag) => ()
      case e: Element if blockTags(e.tag) => flush(); out ++= blockOf(e)
      case n => inline(n, sb)
    }
    flush()
    out.result()
  }

  private def listBlock(e: Element, ordered: Boolean): Vector[String] = {
    val items = e.children.collect {
      case li: Element if li.tag == "li" => li
    }
    if (items.isEmpty) return Vector.empty
    val lines = Vector.newBuilder[String]
    items.zipWithIndex.foreach { case (li, i) =>
      val marker = if (ordered) s"${i + 1}. " else "- "
      val bs = renderChildren(li.children)
      if (bs.isEmpty) lines += marker.trim
      else {
        val blockLines = bs.mkString("\n").split("\n", -1)
        lines += marker + blockLines.head
        blockLines.iterator.drop(1).foreach(l => lines += "  " + l)
      }
    }
    Vector(lines.result().mkString("\n"))
  }

  private def tableBlock(e: Element): Vector[String] = {
    def rowsOf(n: Element): Vector[Element] = n.children.flatMap {
      case tr: Element if tr.tag == "tr" => Vector(tr)
      case g: Element if g.tag == "thead" || g.tag == "tbody" ||
        g.tag == "tfoot" => rowsOf(g)
      case _ => Vector.empty
    }
    val rows = rowsOf(e)
    if (rows.isEmpty) return Vector.empty
    val cells: Vector[Vector[String]] = rows.map(_.children.collect {
      case c: Element if c.tag == "td" || c.tag == "th" =>
        inlineOf(c.children)
    })
    val ncols = cells.iterator.map(_.length).max
    if (ncols == 0) return Vector.empty
    def fmtRow(r: Vector[String]) =
      "| " + r.padTo(ncols, "").mkString(" | ") + " |"
    val sep = "| " + Vector.fill(ncols)("---").mkString(" | ") + " |"
    Vector((fmtRow(cells.head) +: sep +: cells.tail.map(fmtRow))
      .mkString("\n"))
  }

  private def blockOf(e: Element): Vector[String] = e.tag match {
    case t if headingLevel.contains(t) =>
      val txt = inlineOf(e.children)
      if (txt.isEmpty) Vector.empty
      else Vector("#" * headingLevel(t) + " " + txt)
    case "p" | "figcaption" | "caption" | "summary" | "address" =>
      val txt = inlineOf(e.children)
      if (txt.isEmpty) Vector.empty else Vector(txt)
    case "hr" => Vector("---")
    case "pre" =>
      val sb = new StringBuilder
      e.children.foreach(rawText(_, sb))
      var s = sb.toString
      var start = 0
      while (start < s.length && s.charAt(start) == '\n') start += 1
      var end = s.length
      while (end > start && Character.isWhitespace(s.charAt(end - 1)))
        end -= 1
      s = s.substring(start, end)
      if (s.isEmpty) Vector.empty else Vector("```\n" + s + "\n```")
    case "blockquote" =>
      val inner = renderChildren(e.children)
      if (inner.isEmpty) Vector.empty
      else Vector(inner.mkString("\n\n").split("\n", -1).iterator
        .map(l => if (l.isEmpty) ">" else "> " + l).mkString("\n"))
    case "ul" => listBlock(e, ordered = false)
    case "ol" => listBlock(e, ordered = true)
    case "table" => tableBlock(e)
    case _ => renderChildren(e.children) // transparent container
  }

  /** Render an HTML page to the pinned markdown dialect. */
  def render(html: String): String =
    renderChildren(DomBuilder.parse(Option(html).getOrElse("")).children)
      .mkString("\n\n")

  /** One row per document: (idCol, markdown) — one typed stage,
    * map-only. */
  def markdownRows(df: DataFrame, idCol: String,
                   htmlCol: String): DataFrame =
    pageRows(df, idCol, htmlCol)((id, h) => Some((id, render(h))))
      .toDF(idCol, "markdown")
}
