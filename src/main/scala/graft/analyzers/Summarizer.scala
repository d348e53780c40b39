package graft.analyzers

import scala.collection.mutable.ArrayBuffer

import TextAnalyzer.Summary

/** T9–T12 in linear scans: `_split_sentences` (doc_analyzer.py:287-303),
  * `_score_sentence` (:305-342), `generate_summary` (:235-285) and
  * `_extract_key_points` (:344-369), with the semantics of the Java
  * regexes they were first written with:
  *
  *  - the split is `\s+` → " ", then "--- PAGE BREAK ---" → " ", then a
  *    split at `(?<=[.!?])\s+`; `\s` is the ASCII set `[ \t\n\x0B\f\r]`;
  *  - a list item is `[•\-\*]\s*(.+?)(?=\n|$)` or
  *    `\d+[.)\]]\s*(.+?)(?=\n|$)`, where `.` stops at `\n`, `\r`, U+0085,
  *    U+2028 and U+2029, and `$` also matches before a final line
  *    terminator (or a final `\r\n`).
  *
  * A backtracking regex retries each start against the same line, so a
  * long line of markers with no item end (a U+0085 before the end, say)
  * cost time quadratic in its length; here every char is visited a bounded
  * number of times. Sentences are scored without re-tokenizing them: a
  * sentence's tokens are those of its span of the text, which the
  * document's `TokenTable` already holds in order. */
private[analyzers] object Summarizer {

  private val PageBreakMark = "--- PAGE BREAK ---"

  private val keyIndicators = Seq("important", "essentiel", "objectif", "but",
    "conclusion", "résultat", "result", "key", "main", "principal")
  // one fold-case Aho-Corasick pass per sentence replaces a lowercase copy
  // and 10 substring scans (present ⇔ lower.contains(indicator))
  private lazy val keyIndicatorMatcher = new MultiPattern(keyIndicators)

  /** Java regex `\s` without UNICODE_CHARACTER_CLASS. */
  @inline private def isRegexWs(c: Char): Boolean =
    c <= ' ' && (c == ' ' || (c >= '\t' && c <= '\r'))

  /** A line terminator, where Java regex `.` stops. */
  @inline private def isLineTerm(c: Char): Boolean =
    if (c <= '\r') c == '\n' || c == '\r'
    else c >= '\u0085' && (c == '\u0085' || c == '\u2028' || c == '\u2029')

  /** The kept sentences of a text: `[starts(k), ends(k))` of `collapsed`,
    * which is `[origStarts(k), origEnds(k))` of the text itself. The two
    * hold the same tokens (whitespace runs are no token chars) unless a
    * page-break mark was replaced inside the sentence or next to it
    * (`broken(k)`). */
  final class Sentences(val collapsed: String, val size: Int, val starts: Array[Int],
      val ends: Array[Int], val origStarts: Array[Int], val origEnds: Array[Int],
      val broken: Array[Boolean]) {
    def apply(k: Int): String = collapsed.substring(starts(k), ends(k))
  }

  /** `_split_sentences`: the stripped parts longer than 20 chars that do
    * not start with `[` and are not all upper case. */
  def split(text: String): Sentences = {
    val n = text.length
    val buf = new Array[Char](n)
    val orig = new Array[Int](n) // where each char of buf comes from in text
    val breaks = new Array[Int](n / PageBreakMark.length + 1) // replacement spaces in buf
    var nBreaks = 0
    var len = 0
    var afterBreak = 0 // chars before this index were replaced; no mark starts there
    val mark = PageBreakMark.length
    var i = 0
    while (i < n) {
      val c = text.charAt(i)
      orig(len) = i
      i += 1
      if (isRegexWs(c)) {
        buf(len) = ' '
        while (i < n && isRegexWs(text.charAt(i))) i += 1
      } else buf(len) = c
      len += 1
      // String.replace is leftmost and non-overlapping and does not rescan
      // its output: a mark counts only when it ends here and starts after
      // the last replacement
      if (c == '-' && len - mark >= afterBreak && endsWithMark(buf, len)) {
        len -= mark
        buf(len) = ' '
        breaks(nBreaks) = len
        nBreaks += 1
        len += 1
        afterBreak = len
      }
    }
    val collapsed = new String(buf, 0, len)
    var starts, ends, origStarts, origEnds = new Array[Int](16)
    var broken = new Array[Boolean](16)
    var size = 0
    var nextBreak = 0
    def keep(from: Int, until: Int): Unit = {
      var a = from
      var b = until
      while (a < b && PyText.isPyWs(buf(a))) a += 1
      while (b > a && PyText.isPyWs(buf(b - 1))) b -= 1
      while (nextBreak < nBreaks && breaks(nextBreak) < a - 1) nextBreak += 1
      if (b - a > 20 && buf(a) != '[' && !isUpper(buf, a, b)) {
        if (size == starts.length) {
          starts = java.util.Arrays.copyOf(starts, size * 2)
          ends = java.util.Arrays.copyOf(ends, size * 2)
          origStarts = java.util.Arrays.copyOf(origStarts, size * 2)
          origEnds = java.util.Arrays.copyOf(origEnds, size * 2)
          broken = java.util.Arrays.copyOf(broken, size * 2)
        }
        starts(size) = a
        ends(size) = b
        // a stripped sentence starts and ends with chars of the text
        origStarts(size) = orig(a)
        origEnds(size) = orig(b - 1) + 1
        // a mark replaced inside the sentence or right next to it (its
        // hyphens would join the sentence's first or last token)
        broken(size) = nextBreak < nBreaks && breaks(nextBreak) <= b
        size += 1
      }
    }
    var pieceStart = 0
    var k = 0
    while (k < len) {
      // after the collapse the only `\s` left is ' '
      if (buf(k) == ' ' && k > 0 && { val p = buf(k - 1); p == '.' || p == '!' || p == '?' }) {
        keep(pieceStart, k)
        while (k < len && buf(k) == ' ') k += 1
        pieceStart = k
      } else k += 1
    }
    keep(pieceStart, len)
    new Sentences(collapsed, size, starts, ends, origStarts, origEnds, broken)
  }

  private def endsWithMark(buf: Array[Char], len: Int): Boolean = {
    val from = len - PageBreakMark.length
    var k = 0
    while (k < PageBreakMark.length && buf(from + k) == PageBreakMark.charAt(k)) k += 1
    k == PageBreakMark.length
  }

  /** Python `str.isupper()` on `buf[from, until)`. */
  private def isUpper(buf: Array[Char], from: Int, until: Int): Boolean = {
    var hasCased = false
    var i = from
    while (i < until) {
      val c = buf(i)
      if (Character.isLowerCase(c)) return false
      if (Character.isUpperCase(c)) hasCased = true
      i += 1
    }
    hasCased
  }

  /** `_score_sentence` of sentence `k` (doc_analyzer.py:305-342), or NaN
    * when the sentence has fewer than 5 whitespace-separated words and is
    * not scored. Tokens weigh their document count in `table` (stopwords
    * weigh nothing). A sentence holds the same tokens as its span of the
    * text, so with a `walk` its entries are read off the table's
    * occurrences; one pass over its chars counts its words, looks for a
    * digit and runs the indicator automaton. */
  private def scoreSentence(ss: Sentences, k: Int, table: TokenTable,
      walk: TokenWalk): Double = {
    if (walk == null || ss.broken(k)) return scoreLoweredSentence(ss, k, table)
    val s = ss.collapsed
    var wsWords = 0
    var inWsWord = false
    var digit = false
    var state = 0
    var indicators = 0
    var i = ss.starts(k)
    while (i < ss.ends(k)) {
      val c = s.charAt(i)
      val cls =
        if (c < 128) TokenTable.asciiClass(c)
        else (if (PyText.isPyWs(c)) TokenTable.PyWs else 0) |
          (if (Character.isDigit(c)) TokenTable.Digit else 0)
      if ((cls & TokenTable.PyWs) != 0) inWsWord = false
      else if (!inWsWord) { inWsWord = true; wsWords += 1 }
      if ((cls & TokenTable.Digit) != 0) digit = true
      state = keyIndicatorMatcher.stepFolded(state, TokenTable.lower(c))
      indicators |= keyIndicatorMatcher.endMask(state)
      i += 1
    }
    if (wsWords < 5) return Double.NaN
    var score = positionScore(k, ss.size)
    var tokens = 0
    var o = walk.seek(ss.origStarts(k))
    while (o < table.occurrences && table.occStarts(o) < ss.origEnds(k)) {
      val e = table.occEntries(o)
      tokens += 1
      if ((table.flags(e) & TokenTable.Stop) == 0) score += table.counts(e) * 0.1
      o += 1
    }
    finish(score, tokens, digit, Integer.bitCount(indicators))
  }

  /** A cursor over the occurrences of a table scanned from the text
    * itself; sentences are visited in text order, so it only moves
    * forward. */
  private final class TokenWalk(table: TokenTable) {
    private var o = 0
    /** The first occurrence starting at or after `from`. */
    def seek(from: Int): Int = {
      while (o < table.occurrences && table.occStarts(o) < from) o += 1
      o
    }
  }

  /** `scoreSentence` on the sentence string, lowered as a whole with
    * `String.toLowerCase` and its tokens looked up as strings: for a text
    * whose table was scanned from its lowered copy (it holds a char that
    * per-char folding lowers differently) and for a sentence in which a
    * page-break mark was replaced (its tokens are not its span's). */
  private def scoreLoweredSentence(ss: Sentences, k: Int, table: TokenTable): Double = {
    val sentence = ss(k)
    if (PyText.splitWs(sentence).length < 5) return Double.NaN
    val tokens = TextAnalyzer.tokenize(sentence)
    var score = positionScore(k, ss.size)
    tokens.foreach { w =>
      val e = table.find(w)
      if (e >= 0 && (table.flags(e) & TokenTable.Stop) == 0) score += table.counts(e) * 0.1
    }
    finish(score, tokens.length, sentence.exists(Character.isDigit),
      keyIndicatorMatcher.countAllFoldCase(sentence).count(_ > 0))
  }

  /** The score of sentence `k` of `total` before its tokens are weighed.
    * The reference adds each part to one running sum, in the order kept
    * here (floating-point sums depend on it): position, each token's
    * weight, length, digit, indicators. */
  private def positionScore(k: Int, total: Int): Double = {
    var score = 0.0
    if (k < 3) score += 2.0 - k * 0.5
    else if (k == total - 1) score += 0.5
    score
  }

  private def finish(scoreSoFar: Double, tokens: Int, digit: Boolean,
      indicators: Int): Double = {
    var score = scoreSoFar
    if (tokens >= 10 && tokens <= 30) score += 1.0
    else if (tokens < 10) score -= 0.5
    else if (tokens > 50) score -= 1.0
    if (digit) score += 0.5
    var n = indicators
    while (n > 0) { score += 0.5; n -= 1 }
    score
  }

  /** `generate_summary` + `_extract_key_points` over the document's token
    * table. Python's `list.sort` is stable, so sentences rank by score,
    * then by position; only the first 5 ranked are ever read. */
  def summarize(text: String, table: TokenTable): Summary = {
    val ss = split(text)
    if (ss.size == 0)
      return Summary("Document vide ou illisible.",
        "Le document ne contient pas de texte exploitable.", Nil, 0.0)
    val walk = if (table.scannedFrom(text)) new TokenWalk(table) else null
    val top = new TopK(5)
    var nScored = 0
    var k = 0
    while (k < ss.size) {
      val score = scoreSentence(ss, k, table, walk)
      if (!score.isNaN) {
        nScored += 1
        top.offer(k, score)
      }
      k += 1
    }
    val ranked = top.ids
    def inTextOrder(m: Int): String = ranked.take(m).sorted.map(ss(_)).mkString(" ")
    val brief = inTextOrder(2)
    val detailed = inTextOrder(5)
    Summary(
      if (brief.length > 500) brief.substring(0, 500) else brief,
      if (detailed.length > 1000) detailed.substring(0, 1000) else detailed,
      keyPoints(text, ranked.map(ss(_))).take(5),
      if (nScored >= 3) 0.75 else 0.5)
  }

  /** `_extract_key_points`: the first 5 list items (bullets, then numbered)
    * of 21 to 199 chars, topped up from the ranked sentences when fewer
    * than 3. */
  def keyPoints(text: String, ranked: Seq[String]): Seq[String] = {
    val keyPoints = ArrayBuffer.empty[String]
    val items = listItems(text, 5)
    var r = 0
    while (r < items.length) {
      val len = items(r + 1) - items(r)
      if (len > 20 && len < 200) keyPoints += PyText.strip(text.substring(items(r), items(r + 1)))
      r += 2
    }
    if (keyPoints.length < 3) {
      var i = 0
      var done = false
      while (i < math.min(5, ranked.length) && !done) {
        val s = ranked(i)
        if (!keyPoints.contains(s)) {
          keyPoints += (if (s.length > 150) s.substring(0, 150) + "..." else s)
          if (keyPoints.length >= 5) done = true
        }
        i += 1
      }
    }
    keyPoints.toSeq
  }

  /** The groups of the first `max` list-item matches, bullets first, as
    * `[start, end)` pairs flattened into one array. */
  def listItems(text: String, max: Int): Array[Int] = {
    val out = new ArrayBuffer[Int]
    val n = text.length
    // bullets: `[•\-\*]` then the item tail
    var tail = new ItemTail(text)
    var p = 0
    while (out.length < 2 * max && p < n) {
      val c = text.charAt(p)
      if ((c == '•' || c == '-' || c == '*') && tail.matchFrom(p + 1, out)) p = out.last
      else p += 1
    }
    // numbered: `\d+[.)\]]` then the item tail; every start inside one run
    // of digits reaches the same marker, so a failed run is skipped whole
    tail = new ItemTail(text)
    p = 0
    while (out.length < 2 * max && p < n) {
      if (isAsciiDigit(text.charAt(p))) {
        var d = p + 1
        while (d < n && isAsciiDigit(text.charAt(d))) d += 1
        val m = if (d < n) text.charAt(d) else ' '
        p = if ((m == '.' || m == ')' || m == ']') && tail.matchFrom(d + 1, out)) out.last else d
      } else p += 1
    }
    out.toArray
  }

  @inline private def isAsciiDigit(c: Char): Boolean = c >= '0' && c <= '9'

  /** `\s*(.+?)(?=\n|$)` over one text, tried at ascending positions. */
  private final class ItemTail(text: String) {
    private val n = text.length
    // the first line terminator at or after the last item start tried;
    // starts only move forward, so it is reused while it lies ahead
    private var term = -1

    /** Appends the group's `[start, end)` to `out` if the tail matches at
      * `from`. */
    def matchFrom(from: Int, out: ArrayBuffer[Int]): Boolean = {
      var jmax = from
      while (jmax < n && isRegexWs(text.charAt(jmax))) jmax += 1
      if (term < jmax) {
        term = jmax
        while (term < n && !isLineTerm(text.charAt(term))) term += 1
      }
      // `\s*` gives back one char at a time; a group may start at any
      // non-terminator and ends at the first terminator after its start
      var j = jmax
      var q = term
      while (j >= from) {
        if (q > j && itemEndsAt(text, q)) {
          out += j
          out += q
          return true
        }
        j -= 1
        if (j >= from && isLineTerm(text.charAt(j))) q = j
      }
      false
    }
  }

  /** `(?=\n|$)` at `q`, `$` without MULTILINE. */
  private def itemEndsAt(t: String, q: Int): Boolean = {
    val n = t.length
    q == n || t.charAt(q) == '\n' ||
      (q == n - 1 && isLineTerm(t.charAt(q))) ||
      (q == n - 2 && t.charAt(q) == '\r' && t.charAt(q + 1) == '\n')
  }
}
