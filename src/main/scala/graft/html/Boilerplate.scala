package graft.html

import scala.collection.mutable.ArrayBuffer

/** One text block segmented out of the DOM, with the shallow features the
  * classifier needs (words, link density, enclosing-tag context). */
final case class HtmlBlock(
    text: String,
    tag: String,            // nearest enclosing block-level tag
    words: Int,
    anchorWords: Int,
    isHeading: Boolean,
    inBoilerContext: Boolean, // inside nav/header/footer/aside/form
    isContent: Boolean) {
  def linkDensity: Double = if (words == 0) 0.0 else anchorWords.toDouble / words
}

/** Boilerpipe/Trafilatura-style main-content block classification
  * (SURVEY.md §2.3 E11; north rule). Deterministic, frozen rules — this
  * IS the fixture contract:
  *
  *  1. Segment the DOM into text blocks at block-level element
  *     boundaries; drop script/style/noscript/template/head subtrees.
  *  2. Per block compute word count, anchor-word count (link density),
  *     heading flag, and whether it sits inside a structural boilerplate
  *     container (nav / header / footer / aside / form).
  *  3. Classify with the published NumWordsRulesClassifier decision rules
  *     (Kohlschuetter, Fankhauser, Nejdl: "Boilerplate Detection using
  *     Shallow Text Features", WSDM 2010):
  *       linkDensity(curr) > 1/3                      -> boilerplate
  *       else if linkDensity(prev) > 5/9:
  *         content iff words(curr) > 40 || words(next) > 17
  *       else:
  *         content iff words(curr) > 16 || words(next) > 15
  *                   || words(prev) > 4
  *  4. Post-rules: structural-container blocks are always boilerplate;
  *     a zero-link heading directly preceding a content block is content.
  */
object Boilerplate {

  /** Block-level boundary tags: entering or leaving one flushes the
    * current text run into a block. */
  private[html] val blockTags = Set(
    "address", "article", "aside", "blockquote", "body", "caption", "dd",
    "div", "dl", "dt", "fieldset", "figcaption", "figure", "footer",
    "form", "h1", "h2", "h3", "h4", "h5", "h6", "header", "hr", "html",
    "li", "main", "menu", "nav", "ol", "p", "pre", "section", "table",
    "tbody", "td", "tfoot", "th", "thead", "tr", "ul")

  /** Subtrees that contribute no body text at all. */
  private[html] val skipTags = Set(
    "script", "style", "noscript", "template", "head", "iframe", "svg",
    "object", "select", "option", "datalist", "button")

  private[html] val structuralBoiler = Set("nav", "header", "footer", "aside", "form")
  private[html] val headingTags = Set("h1", "h2", "h3", "h4", "h5", "h6")

  /** The text run between two block boundaries, kept whitespace-normalized
    * as it grows: words joined by single spaces, as `normalizeWs` of the
    * space-joined text nodes would give. */
  private final class Run {
    val sb = new java.lang.StringBuilder(64)
    var words = 0
    var anchorWords = 0
    var tag = "body"
    var heading = false
    var boilerCtx = false
    def reset(): Unit = { sb.setLength(0); words = 0; anchorWords = 0 }

    /** Appends the words of text node `t` in one pass; returns their count. */
    def append(t: String): Int = {
      val n = t.length
      var w = 0
      var i = 0
      while (i < n) {
        if (isWordPart(t.charAt(i))) {
          val start = i
          i += 1
          while (i < n && isWordPart(t.charAt(i))) i += 1
          if (sb.length > 0) sb.append(' ')
          sb.append(t, start, i)
          w += 1
        } else i += 1
      }
      w
    }
  }

  /** Not whitespace in the sense of `normalizeWs`. */
  private def isWordPart(c: Char): Boolean =
    (c > ' ' && c < '\u007F') || !(Character.isWhitespace(c) || c == '\u00A0')

  /** Segment the DOM into classified blocks. */
  def segment(root: Element): Vector[HtmlBlock] = {
    val raw = new ArrayBuffer[HtmlBlock](32)
    val run = new Run

    def flush(): Unit = {
      if (run.sb.length > 0) raw += HtmlBlock(
        run.sb.toString, run.tag, run.words, run.anchorWords, run.heading,
        run.boilerCtx, isContent = false)
      run.reset()
    }

    def walk(node: Node, inAnchor: Boolean, boilerDepth: Int, curTag: String, inHeading: Boolean): Unit = node match {
      case TextNode(t) =>
        // tag, heading and context are the same for every node of a run:
        // each changes only at a block tag, and block tags flush the run
        val w = run.append(t)
        run.words += w
        if (inAnchor) run.anchorWords += w
        run.tag = curTag
        run.heading = inHeading
        run.boilerCtx = boilerDepth > 0
      case el: Element =>
        if (!skipTags(el.tag)) {
          val isBlock = blockTags(el.tag)
          val bd = boilerDepth + (if (structuralBoiler(el.tag)) 1 else 0)
          val tag = if (isBlock) el.tag else curTag
          val heading = inHeading || headingTags(el.tag)
          if (isBlock) flush()
          val anchor = inAnchor || el.tag == "a"
          el.children.foreach(walk(_, anchor, bd, tag, heading))
          if (isBlock) flush()
        }
    }

    walk(root, inAnchor = false, boilerDepth = 0, curTag = "body", inHeading = false)
    flush()
    classify(raw.toVector)
  }

  /** Apply the frozen decision rules (see object doc). */
  def classify(blocks: Vector[HtmlBlock]): Vector[HtmlBlock] = {
    val n = blocks.length
    val decided = new Array[Boolean](n)
    var i = 0
    while (i < n) {
      val curr = blocks(i)
      val prev = if (i > 0) blocks(i - 1) else null
      val next = if (i + 1 < n) blocks(i + 1) else null
      val prevLd = if (prev == null) 0.0 else prev.linkDensity
      val prevW  = if (prev == null) 0 else prev.words
      val nextW  = if (next == null) 0 else next.words
      val content =
        if (curr.linkDensity > 0.333333) false
        else if (prevLd > 0.555556) curr.words > 40 || nextW > 17
        else curr.words > 16 || nextW > 15 || prevW > 4
      decided(i) = content
      i += 1
    }
    // post-rule 1: structural containers are always boilerplate
    i = 0
    while (i < n) { if (blocks(i).inBoilerContext) decided(i) = false; i += 1 }
    // post-rule 2: zero-link heading right before a content block is content
    i = 0
    while (i < n) {
      if (!decided(i) && blocks(i).isHeading && !blocks(i).inBoilerContext &&
          blocks(i).anchorWords == 0 && i + 1 < n && decided(i + 1)) decided(i) = true
      i += 1
    }
    blocks.zipWithIndex.map { case (b, j) => b.copy(isContent = decided(j)) }
  }

  /** The page <title>, if any (metadata, not body text). */
  def title(root: Element): String = {
    def find(node: Node): Option[String] = node match {
      case Element("title", _, children) =>
        Some(normalizeWs(children.collect { case TextNode(t) => t }.mkString))
      case Element(_, _, children) => children.iterator.flatMap(find).nextOption()
      case _ => None
    }
    find(root).getOrElse("")
  }

  /** Collapse all whitespace runs to single spaces and trim. */
  def normalizeWs(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    var pendingSpace = false
    while (i < s.length) {
      val c = s.charAt(i)
      if (Character.isWhitespace(c) || c == '\u00A0') pendingSpace = sb.length > 0
      else { if (pendingSpace) { sb.append(' '); pendingSpace = false }; sb.append(c) }
      i += 1
    }
    sb.toString
  }
}
