package graft.html

import scala.collection.mutable.ArrayBuffer

/** `Boilerplate.segment` as it was before its per-node scans were fused:
  * each text node is tested for non-whitespace, word-counted and copied
  * raw into the run; a flushed run is tested again and normalized. The
  * reference for the fused segment's property in GraftProps. */
object BoilerplateReference {
  import Boilerplate.{blockTags, headingTags, skipTags, structuralBoiler}

  private final class Run {
    val sb = new java.lang.StringBuilder(64)
    var words = 0
    var anchorWords = 0
    var tag = "body"
    var heading = false
    var boilerCtx = false
    def nonEmpty: Boolean = { var i = 0; var any = false
      while (i < sb.length && !any) { if (!Character.isWhitespace(sb.charAt(i))) any = true; i += 1 }; any }
  }

  def countWords(s: String): Int = {
    var i = 0; var count = 0; var inWord = false
    while (i < s.length) {
      val ws = Character.isWhitespace(s.charAt(i)) || s.charAt(i) == '\u00A0'
      if (!ws && !inWord) { count += 1; inWord = true }
      else if (ws) inWord = false
      i += 1
    }
    count
  }

  def segment(root: Element): Vector[HtmlBlock] = {
    val raw = new ArrayBuffer[HtmlBlock](32)
    var run = new Run

    def flush(): Unit = {
      if (run.nonEmpty) {
        val text = Boilerplate.normalizeWs(run.sb.toString)
        if (text.nonEmpty) raw += HtmlBlock(
          text, run.tag, run.words, run.anchorWords, run.heading,
          run.boilerCtx, isContent = false)
      }
      run = new Run
    }

    def walk(node: Node, inAnchor: Boolean, boilerDepth: Int, curTag: String, inHeading: Boolean): Unit = node match {
      case TextNode(t) =>
        if (t.exists(!Character.isWhitespace(_))) {
          val w = countWords(t)
          run.words += w
          if (inAnchor) run.anchorWords += w
          run.tag = curTag
          run.heading = inHeading
          run.boilerCtx = boilerDepth > 0
          if (run.sb.length > 0) run.sb.append(' ')
          run.sb.append(t)
        }
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
    Boilerplate.classify(raw.toVector)
  }
}
