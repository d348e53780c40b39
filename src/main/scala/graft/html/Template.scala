package graft.html

import org.apache.spark.sql.DataFrame

/** DOM template fingerprinting — pages generated by the same CMS
  * template share their tag STRUCTURE while differing in text and
  * attribute values. Hashing the start/end-tag sequence groups a
  * host's pages into template clusters: the unit at which boilerplate
  * repeats, navigation chrome is shared, and per-template extraction
  * rules (or block-frequency boilerplate votes) apply.
  *
  * The fingerprint is a rolling polynomial hash over the structure
  * string — lower-cased tag names, end tags prefixed `/`, joined by
  * `>` — with h ← (h·131 + byte) mod (2³¹−1): pure integer arithmetic
  * the DuckDB twin reproduces with `list_reduce` over the same
  * literal. Text, comments, attributes, and attribute order do NOT
  * contribute (the invariance that makes it a template id, not a page
  * id).
  *
  * Scale shape: one typed map per document — map-only; the cluster
  * roll-up shuffles only (hash, count) pairs.
  */
object Template {

  private val M = 2147483647L // 2^31 - 1
  private val B = 131L

  /** Structure string: tag names in document order, end tags
    * `/`-prefixed, `>`-joined. */
  def structure(htmlText: String): String = {
    val sb = new StringBuilder
    HtmlTokenizer.tokenize(htmlText).foreach {
      case HtmlTokenizer.StartTag(name, _, _) =>
        if (sb.nonEmpty) sb.append('>')
        sb.append(name)
      case HtmlTokenizer.EndTag(name) =>
        if (sb.nonEmpty) sb.append('>')
        sb.append('/').append(name)
      case _ => ()
    }
    sb.toString
  }

  /** Rolling hash of the structure string (0 for tag-less input). */
  def fingerprint(htmlText: String): Long = {
    val s = structure(htmlText)
    var h = 0L
    var i = 0
    while (i < s.length) { h = (h * B + s.charAt(i).toLong) % M; i += 1 }
    h
  }

  /** (id, template_hash, n_tags) — one typed stage, map-only. */
  def templateRows(df: DataFrame, idCol: String,
                   htmlCol: String): DataFrame =
    pageRows(df, idCol, htmlCol) { (id, h) =>
      val s = Option(h).getOrElse("")
      val nTags = HtmlTokenizer.tokenize(s).count {
        case HtmlTokenizer.StartTag(_, _, _) => true
        case _ => false
      }
      Some((id, fingerprint(s), nTags.toLong))
    }.toDF(idCol, "template_hash", "n_tags")
}
