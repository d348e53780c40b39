package graft.html

import org.apache.spark.sql.DataFrame

/** Document outline extraction — the h1-h6 heading hierarchy with
  * computed section numbers, the structure signal layout-aware
  * chunkers and TOC builders key on (a chunk that spans a section
  * boundary mixes topics; numbering pins each heading's place).
  *
  * Pinned numbering (deterministic, tolerant of skipped levels): six
  * counters, heading of level L increments counter L and zeroes all
  * deeper counters; its number is counters 1..L dot-joined — a page
  * starting at h2 yields "0.1", making the skip visible instead of
  * guessing an implicit parent.
  *
  * Heading text: all text inside the heading element (inline markup
  * flattened), whitespace-collapsed; a heading with no text still
  * emits (its number still advances the outline).
  *
  * Unclosed headings close as an HTML parser closes them: at any h1-h6
  * end tag, at the next h1-h6 start tag, or at the end of the input.
  *
  * Scale shape: one typed flatMap per document, map-only.
  */
object Outline {

  private val levelOf = Map("h1" -> 1, "h2" -> 2, "h3" -> 3,
    "h4" -> 4, "h5" -> 5, "h6" -> 6)

  /** (level, sectionNumber, text) per heading, document order. */
  def headings(html: String): Vector[(Int, String, String)] = {
    import HtmlTokenizer._
    val out = Vector.newBuilder[(Int, String, String)]
    val counters = new Array[Int](7)
    var curLevel = 0 // 0 = not inside a heading
    val sb = new StringBuilder
    def close(): Unit = {
      val l = curLevel
      counters(l) += 1
      var i = l + 1
      while (i <= 6) { counters(i) = 0; i += 1 }
      out += ((l, (1 to l).map(counters).mkString("."),
        collapseWs(sb.toString)))
      curLevel = 0
    }
    tokenize(Option(html).getOrElse("")).foreach {
      case StartTag(t, _, selfClosing) if levelOf.contains(t) && !selfClosing =>
        if (curLevel != 0) close()
        curLevel = levelOf(t); sb.setLength(0)
      case EndTag(t) if curLevel != 0 && levelOf.contains(t) => close()
      case Text(t) if curLevel != 0 => sb.append(t)
      case _ => ()
    }
    if (curLevel != 0) close()
    out.result()
  }

  /** One row per heading: (idCol, heading_idx, level, section, text)
    * — one typed flatMap, map-only. */
  def headingRows(df: DataFrame, idCol: String,
                  htmlCol: String): DataFrame =
    pageRows(df, idCol, htmlCol) { (id, h) =>
      headings(h).zipWithIndex.map { case ((l, num, txt), i) =>
        (id, i.toLong, l.toLong, num, txt)
      }
    }.toDF(idCol, "heading_idx", "level", "section", "heading_text")
}
