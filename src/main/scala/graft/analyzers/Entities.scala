package graft.analyzers

import scala.collection.mutable.Growable

/** The three entity patterns of `_extract_entities` (doc_analyzer.py:
  * 480-507) as linear scans, each appending its matches' groups in the
  * order `Matcher.find` returns them, with the semantics of the Java regex
  * it replaces (JDK 17, no flags; `\s` is `[ \t\n\x0B\f\r]`):
  *
  *  - names: `\b([A-Z][a-zéèêëàâùûîïôö]+(?:\s+[A-Z][a-zéèêëàâùûîïôö]+)+)\b`
  *  - companies: `\b([A-Z][A-Za-z\s&\-\.]+(?:SA|SAS|SARL|Ltd|Inc|LLC|GmbH|AG))\b`
  *  - emails: `@([a-zA-Z0-9\-]+)\.`
  *
  * The company regex scans the rest of a `[A-Za-z\s&\-.]` run back from
  * its end for every capital in it, so a long all-caps or Title-Case
  * paragraph cost time quadratic in its length. Here the rightmost valid
  * suffix of a run is found once: every start in one run reaches the same
  * run end, so once one start fails (or matches) no later start in that
  * run can match. */
private[analyzers] object Entities {

  private val suffixes = Array("SA", "SAS", "SARL", "Ltd", "Inc", "LLC", "GmbH", "AG")

  /** `[a-zéèêëàâùûîïôö]`: a name word after its capital. */
  @inline private def isNameLower(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || c == 'é' || c == 'è' || c == 'ê' || c == 'ë' ||
      c == 'à' || c == 'â' || c == 'ù' || c == 'û' || c == 'î' || c == 'ï' || c == 'ô' || c == 'ö'

  @inline private def isRegexWs(c: Char): Boolean =
    c <= ' ' && (c == ' ' || (c >= '\t' && c <= '\r'))

  @inline private def isCapital(c: Char): Boolean = c >= 'A' && c <= 'Z'

  /** Appends every name match to `out`. */
  def names(text: String, out: Growable[String]): Unit = {
    val n = text.length
    var p = 0
    while (p < n) {
      if (isCapital(text.charAt(p)) && boundary(text, p)) {
        val end = nameEnd(text, p)
        if (end > 0) { out += text.substring(p, end); p = end } else p += 1
      } else p += 1
    }
  }

  private def lowerRunEnd(text: String, from: Int): Int = {
    var i = from
    while (i < text.length && isNameLower(text.charAt(i))) i += 1
    i
  }

  /** The end of the name match at `p`, or -1. Words are a capital and a
    * maximal run of name lowercase; a shorter run leaves a letter next,
    * where neither `\s` nor `\b` can match. So the regex ends after the
    * last word of the longest chain when a boundary follows it, else after
    * the word before (a `\s` follows that one), if the chain still has two
    * words there. */
  private def nameEnd(text: String, p: Int): Int = {
    val n = text.length
    var e = lowerRunEnd(text, p + 1)
    if (e == p + 1) return -1
    var words = 1
    var beforeLast = -1
    var more = true
    while (more) {
      var w = e
      while (w < n && isRegexWs(text.charAt(w))) w += 1
      val e2 = if (w > e && w < n && isCapital(text.charAt(w))) lowerRunEnd(text, w + 1) else -1
      if (e2 > w + 1) {
        if (words >= 2) beforeLast = e
        words += 1
        e = e2
      } else more = false
    }
    if (words < 2) -1
    else if (!wordAt(text, e)) e
    else beforeLast
  }

  /** `[A-Za-z\s&\-\.]`: the chars between a company's capital and its
    * suffix. */
  @inline private def inRun(c: Char): Boolean =
    (c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z') || isRegexWs(c) ||
      c == '&' || c == '-' || c == '.'

  /** Appends every company match to `out`. */
  def companies(text: String, out: Growable[String]): Unit = {
    val n = text.length
    var p = 0
    while (p < n) {
      if (!inRun(text.charAt(p))) p += 1
      else {
        var r = p + 1
        while (r < n && inRun(text.charAt(r))) r += 1
        var s = p
        var done = false
        while (!done && s < r) {
          val c = text.charAt(s)
          if (isCapital(c) && boundary(text, s)) {
            // `[...]+` takes at least one char, so a suffix starts at s + 2 or later
            val end = rightmostSuffixEnd(text, s + 2, r)
            if (end >= 0) out += text.substring(s, end)
            done = true
          } else s += 1
        }
        p = r
      }
    }
  }

  /** The end of the rightmost suffix starting in `[lo, r)` with a word
    * boundary after it, or -1. A suffix's chars are letters, so it lies
    * within the run. */
  private def rightmostSuffixEnd(text: String, lo: Int, r: Int): Int = {
    var e = r - 1
    while (e >= lo) {
      val c = text.charAt(e)
      if (c == 'S' || c == 'L' || c == 'I' || c == 'G' || c == 'A') {
        var k = 0
        while (k < suffixes.length) {
          val sfx = suffixes(k)
          val end = e + sfx.length
          // the suffix ends in a letter, so the boundary needs a non-word after it
          if (text.startsWith(sfx, e) && !wordAt(text, end)) return end
          k += 1
        }
      }
      e -= 1
    }
    -1
  }

  @inline private def isEmailChar(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') || (c >= '0' && c <= '9') || c == '-'

  /** Appends the domain label of every email match to `out`. */
  def emails(text: String, out: Growable[String]): Unit = {
    val n = text.length
    var p = text.indexOf('@')
    while (p >= 0) {
      var r = p + 1
      while (r < n && isEmailChar(text.charAt(r))) r += 1
      if (r > p + 1 && r < n && text.charAt(r) == '.') {
        out += text.substring(p + 1, r)
        p = text.indexOf('@', r + 1)
      } else p = text.indexOf('@', p + 1)
    }
  }

  /** Java regex `\b` at `i` (JDK 17, without UNICODE_CHARACTER_CLASS):
    * a word char is `_` or a letter or digit code point; a non-spacing
    * mark counts as one when a letter or digit precedes its run of marks. */
  private def boundary(text: String, i: Int): Boolean = {
    val left = i > 0 && {
      val ch = text.codePointBefore(i)
      isWord(ch) || (isMark(ch) && hasBase(text, i - 1))
    }
    left != wordAt(text, i)
  }

  private def wordAt(text: String, i: Int): Boolean = i < text.length && {
    val ch = text.codePointAt(i)
    isWord(ch) || (isMark(ch) && hasBase(text, i))
  }

  @inline private def isWord(ch: Int): Boolean = ch == '_' || Character.isLetterOrDigit(ch)

  @inline private def isMark(ch: Int): Boolean =
    Character.getType(ch) == Character.NON_SPACING_MARK

  private def hasBase(text: String, i: Int): Boolean = {
    var x = i
    while (x >= 0) {
      val ch = text.codePointAt(x)
      if (Character.isLetterOrDigit(ch)) return true
      if (!isMark(ch)) return false
      x -= 1
    }
    false
  }
}
