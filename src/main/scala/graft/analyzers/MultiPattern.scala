package graft.analyzers

/** Aho–Corasick multi-pattern counter with Python `str.count` semantics
  * per pattern (non-overlapping, leftmost-greedy per word — independent
  * across words). One pass over the document replaces one `indexOf`
  * sweep per pattern (the T6/T7 indicator tables are ~150 words, i.e.
  * ~150 full-text scans per document without this).
  *
  * From scratch: goto/fail automaton over the pattern set, resolved into
  * a full transition table (one column per ASCII char and per other char
  * that occurs in a pattern; every other char leads back to the root), so
  * a scan does one array read per char. Matches are emitted via output
  * links at each end position; a match
  * of word w at [s, e) is counted only if s >= lastEnd(w), replicating
  * non-overlapping counting exactly. */
final class MultiPattern(patterns: Seq[String]) {

  val words: Array[String] = patterns.toArray
  private val nWords = words.length

  // --- trie build ---------------------------------------------------------
  private val asciiNext = scala.collection.mutable.ArrayBuffer[Array[Int]]()
  private val wideNext = scala.collection.mutable.ArrayBuffer[scala.collection.mutable.Map[Char, Int]]()
  private val nodeWord = scala.collection.mutable.ArrayBuffer[Int]() // word ending here, -1 none
  private val fail = scala.collection.mutable.ArrayBuffer[Int]()
  private val outLink = scala.collection.mutable.ArrayBuffer[Int]() // nearest suffix node with a word

  private def newNode(): Int = {
    asciiNext += Array.fill(128)(-1)
    wideNext += scala.collection.mutable.Map.empty[Char, Int]
    nodeWord += -1
    fail += 0
    outLink += -1
    asciiNext.length - 1
  }

  private def child(n: Int, c: Char): Int =
    if (c < 128) asciiNext(n)(c) else wideNext(n).getOrElse(c, -1)

  private def setChild(n: Int, c: Char, t: Int): Unit =
    if (c < 128) asciiNext(n)(c) = t else wideNext(n)(c) = t

  private val bfsOrder = scala.collection.mutable.ArrayBuffer[Int]()

  locally {
    newNode() // root = 0
    words.zipWithIndex.foreach { case (w, wi) =>
      var n = 0
      var i = 0
      while (i < w.length) {
        val c = w.charAt(i)
        var t = child(n, c)
        if (t < 0) { t = newNode(); setChild(n, c, t) }
        n = t
        i += 1
      }
      // duplicate pattern strings would alias counts; the caller's lists
      // are distinct by construction
      nodeWord(n) = wi
    }
    // BFS fail links
    val queue = scala.collection.mutable.Queue.empty[Int]
    bfsOrder += 0
    (0 until 128).foreach { c =>
      val t = asciiNext(0)(c)
      if (t >= 0) { fail(t) = 0; queue += t }
    }
    wideNext(0).values.foreach { t => fail(t) = 0; queue += t }
    while (queue.nonEmpty) {
      val n = queue.dequeue()
      bfsOrder += n
      outLink(n) = if (nodeWord(fail(n)) >= 0) fail(n) else outLink(fail(n))
      def visit(c: Char, t: Int): Unit = {
        var f = fail(n)
        while (f != 0 && child(f, c) < 0) f = fail(f)
        val ft = child(f, c)
        fail(t) = if (ft >= 0 && ft != t) ft else 0
        queue += t
      }
      var c = 0
      while (c < 128) {
        val t = asciiNext(n)(c)
        if (t >= 0) visit(c.toChar, t)
        c += 1
      }
      wideNext(n).foreach { case (ch, t) => visit(ch, t) }
    }
  }

  private val wordLen: Array[Int] = words.map(_.length)
  private val wordAt: Array[Int] = nodeWord.toArray
  private val outOf: Array[Int] = outLink.toArray

  // the non-ASCII chars of the patterns; column 128 + k is wideChars(k),
  // and wideCol(c) is k + 1 for c = wideChars(k), 0 for every other char
  private val wideChars: Array[Char] = words.flatMap(_.toCharArray).filter(_ >= 128).distinct
  require(wideChars.length < 128, "at most 127 distinct non-ASCII pattern chars")
  private val wideCol: Array[Byte] = {
    val col = new Array[Byte](65536)
    wideChars.zipWithIndex.foreach { case (c, k) => col(c) = (k + 1).toByte }
    col
  }
  private val width = 128 + wideChars.length

  // delta(n * width + col): the state after reading the column's char in
  // state n, fail links already followed (parents before children in BFS
  // order, so a fail target's row is complete when it is read)
  private val delta: Array[Int] = {
    val d = new Array[Int](asciiNext.length * width)
    bfsOrder.foreach { n =>
      var col = 0
      while (col < width) {
        val t = child(n, if (col < 128) col.toChar else wideChars(col - 128))
        d(n * width + col) =
          if (t >= 0) t else if (n == 0) 0 else d(fail(n) * width + col)
        col += 1
      }
    }
    d
  }

  // a char in no pattern leads back to the root from every state
  @inline private def step(n: Int, c: Char): Int =
    if (c < 128) delta(n * width + c)
    else {
      val k = wideCol(c)
      if (k == 0) 0 else delta(n * width + 127 + k)
    }

  @inline private def fold(c0: Char): Char = TokenTable.lower(c0)

  /** Per-pattern non-overlapping occurrence counts in `text` — exactly
    * `patterns.map(p => PyText.countSub(text, p))`, one pass. */
  def countAll(text: String): Array[Int] = countAllImpl(text, foldCase = false)

  /** countAll over the CASE-FOLDED view of `text` (per-char lowercase,
    * patterns must be lowercase) — equals
    * `countAll(text.toLowerCase(ROOT))` for 1:1-lowercasing input
    * without materializing the lowered copy (a full-document allocation
    * per doc on the analysis path).
    *
    * Non-1:1 guard: U+0130 (LATIN CAPITAL I WITH DOT ABOVE) is the one
    * code point whose ROOT lowercase EXPANDS (İ → "i̇", two chars)
    * — per-char folding would drop the combining dot and can flip
    * adjacency-sensitive counts (e.g. pattern "is" against "İs": the
    * expanded form has the dot between 'i' and 's', the per-char form
    * does not). A cheap pre-scan falls back to the lowered-copy path for
    * the rare documents containing it, so this method equals
    * `countAll(text.toLowerCase(ROOT))` on EVERY input, not just 1:1
    * ones. (Final-sigma Σ→ς is context-dependent but 1:1 in length and
    * never intersects the ASCII pattern tables, so it needs no guard.) */
  def countAllFoldCase(text: String): Array[Int] = {
    if (text.indexOf('İ') >= 0) countAllImpl(text.toLowerCase(java.util.Locale.ROOT), foldCase = false)
    else countAllImpl(text, foldCase = true)
  }

  /** The state after reading the already folded char `c` in state `n`
    * (the root is state 0): lets a caller fold its text once for several
    * scans. */
  def stepFolded(n: Int, c: Char): Int = step(n, c)

  // bit w set iff pattern w ends at the state; kept for at most 32 patterns
  private val endMasks: Array[Int] =
    if (nWords > 32) null
    else Array.tabulate(wordAt.length) { n =>
      var mask = 0
      var m = if (wordAt(n) >= 0) n else outOf(n)
      while (m >= 0) { mask |= 1 << wordAt(m); m = outOf(m) }
      mask
    }

  /** The patterns that end at state `n`, as a bit set (at most 32
    * patterns): OR-ing it over a scan gives the patterns that occur. */
  def endMask(n: Int): Int = endMasks(n)

  private def countAllImpl(text: String, foldCase: Boolean): Array[Int] = {
    val counts = new Array[Int](nWords)
    val lastEnd = new Array[Int](nWords) // exclusive end of last counted match
    java.util.Arrays.fill(lastEnd, -1)
    var n = 0
    var i = 0
    val len = text.length
    while (i < len) {
      val c0 = text.charAt(i)
      n = step(n, if (foldCase) fold(c0) else c0)
      // emit all words ending at i (node + output-link chain)
      var m = if (wordAt(n) >= 0) n else outOf(n)
      while (m >= 0) {
        val wi = wordAt(m)
        val start = i + 1 - wordLen(wi)
        if (start >= lastEnd(wi)) { // non-overlapping, leftmost-greedy
          counts(wi) += 1
          lastEnd(wi) = i + 1
        }
        m = outOf(m)
      }
      i += 1
    }
    counts
  }
}
