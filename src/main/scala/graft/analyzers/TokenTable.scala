package graft.analyzers

/** The analyzer tokens of one text (`TextAnalyzer.tokenize`: maximal runs
  * of `\w` chars and hyphens in the `Locale.ROOT`-lowered text) counted in
  * one open-addressed table that keeps first-occurrence order, like
  * Python's `Counter`. Word cloud, keywords and the summary's sentence
  * weights all read this one table.
  *
  * An entry is the place of a token's first occurrence in the scanned
  * text; a token is hashed (as `String.hashCode` of its lowered chars) and
  * compared from the chars of a text as they are scanned, folded one char
  * at a time, so a token becomes a `String` only when a caller reads its
  * key. Per-char folding equals `String.toLowerCase(Locale.ROOT)` on every
  * char but U+0130 (which lowers to two chars) and U+03A3 (whose lowercase
  * depends on its neighbours); surrogates are left to the string path
  * too, so a text holding any of them is lowered as a whole first
  * (`TokenTable.needsStringLower`). */
private[analyzers] final class TokenTable private (src: String, fold: Boolean) {
  import TokenTable._

  /** Distinct tokens, in first-occurrence order. */
  var size = 0
  var counts = new Array[Int](64)
  /** `Stop`, `Cloud` and `Keyword` bits of each token. */
  var flags = new Array[Byte](64)
  private var starts = new Array[Int](64)
  private var lengths = new Array[Int](64)
  private var hashes = new Array[Int](64)
  // open addressing, linear probing: entry index + 1, 0 = empty
  private var slots = new Array[Int](128)
  /** Every token of the scanned text in order: its start and its entry. */
  var occurrences = 0
  var occStarts = new Array[Int](256)
  var occEntries = new Array[Int](256)

  /** Whether `occStarts` are offsets into `text`: the table was scanned
    * from `text` itself, not from a lowered copy or a token array. */
  def scannedFrom(text: String): Boolean = fold && (src eq text)

  /** The token of entry `e`. */
  def key(e: Int): String = foldedString(src, starts(e), starts(e) + lengths(e), fold)

  /** The entry of the token `text[from, until)` (folded per char when
    * `textFold`), whose lowered chars hash to `h`, or -1. */
  private def find(text: String, from: Int, until: Int, textFold: Boolean, h: Int): Int = {
    val mask = slots.length - 1
    var s = mix(h) & mask
    while (slots(s) != 0) {
      val e = slots(s) - 1
      if (hashes(e) == h && lengths(e) == until - from &&
          sameChars(src, starts(e), fold, text, from, textFold, until - from)) return e
      s = (s + 1) & mask
    }
    -1
  }

  /** The entry of a lowered token, or -1. */
  def find(token: String): Int = find(token, 0, token.length, textFold = false, token.hashCode)

  /** Count the token `src[from, until)`. */
  private def add(from: Int, until: Int, h: Int): Unit = {
    var e = find(src, from, until, fold, h)
    if (e >= 0) counts(e) += 1
    else e = insert(from, until, h)
    if (occurrences == occStarts.length) {
      occStarts = java.util.Arrays.copyOf(occStarts, occurrences * 2)
      occEntries = java.util.Arrays.copyOf(occEntries, occurrences * 2)
    }
    occStarts(occurrences) = from
    occEntries(occurrences) = e
    occurrences += 1
  }

  private def insert(from: Int, until: Int, h: Int): Int = {
    if (size == counts.length) {
      counts = java.util.Arrays.copyOf(counts, size * 2)
      flags = java.util.Arrays.copyOf(flags, size * 2)
      starts = java.util.Arrays.copyOf(starts, size * 2)
      lengths = java.util.Arrays.copyOf(lengths, size * 2)
      hashes = java.util.Arrays.copyOf(hashes, size * 2)
    }
    counts(size) = 1
    flags(size) = flagsOf(src, from, until, fold, h)
    starts(size) = from
    lengths(size) = until - from
    hashes(size) = h
    size += 1
    if (size * 2 > slots.length) rehash() else place(size - 1)
    size - 1
  }

  private def place(e: Int): Unit = {
    val mask = slots.length - 1
    var s = mix(hashes(e)) & mask
    while (slots(s) != 0) s = (s + 1) & mask
    slots(s) = e + 1
  }

  private def rehash(): Unit = {
    slots = new Array[Int](slots.length * 2)
    var e = 0
    while (e < size) { place(e); e += 1 }
  }

  private def scan(): TokenTable = {
    val n = src.length
    var i = 0
    while (i < n) {
      while (i < n && !isTokenChar(src.charAt(i), fold)) i += 1
      val start = i
      var h = 0
      while (i < n && isTokenChar(src.charAt(i), fold)) {
        h = 31 * h + (if (fold) lower(src.charAt(i)) else src.charAt(i))
        i += 1
      }
      if (i > start) add(start, i, h)
    }
    this
  }
}

private[analyzers] object TokenTable {

  val Stop: Byte = 1    // a FR or EN stopword
  val Cloud: Byte = 2   // a word-cloud word (doc_analyzer.py:519-523)
  val Keyword: Byte = 4 // a keyword candidate (doc_analyzer.py:449-453)

  /** The table of `text`'s tokens. */
  def of(text: String): TokenTable =
    if (needsStringLower(text))
      new TokenTable(text.toLowerCase(java.util.Locale.ROOT), fold = false).scan()
    else new TokenTable(text, fold = true).scan()

  /** The table of an already tokenized text: its tokens are token-char
    * runs, so joined by spaces they scan back to the same sequence. */
  def ofTokens(tokens: Array[String]): TokenTable =
    new TokenTable(tokens.mkString(" "), fold = false).scan()

  /** Per-char ROOT lowercase (ASCII fast path). */
  @inline def lower(c: Char): Char =
    if (c < 128) { if (c >= 'A' && c <= 'Z') (c + 32).toChar else c }
    else Character.toLowerCase(c)

  /** ASCII char classes: `TokenChar`, `PyWs` and `Digit` bits. */
  val asciiClass: Array[Byte] = Array.tabulate(128) { i =>
    val c = i.toChar
    ((if (PyText.isWordChar(c) || c == '-') TokenChar else 0) |
      (if (PyText.isPyWs(c)) PyWs else 0) |
      (if (Character.isDigit(c)) Digit else 0)).toByte
  }
  final val TokenChar = 1
  final val PyWs = 2
  final val Digit = 4

  /** A token char of the lowered text: `\w` or a hyphen (an ASCII char
    * is one exactly when its lowercase is). */
  @inline def isTokenChar(c: Char, fold: Boolean): Boolean =
    if (c < 128) (asciiClass(c) & TokenChar) != 0
    else {
      val l = if (fold) Character.toLowerCase(c) else c
      PyText.isWordChar(l) || l == '-'
    }

  /** Whether `text` holds a char that per-char folding would lower
    * differently from `String.toLowerCase(Locale.ROOT)`. */
  private def needsStringLower(text: String): Boolean = {
    var i = 0
    while (i < text.length) {
      val c = text.charAt(i)
      if (c >= 'İ' && (c == 'İ' || c == 'Σ' || Character.isSurrogate(c)))
        return true
      i += 1
    }
    false
  }

  private def foldedString(text: String, from: Int, until: Int, fold: Boolean): String =
    if (!fold) text.substring(from, until)
    else {
      val chars = new Array[Char](until - from)
      var k = 0
      while (k < chars.length) { chars(k) = lower(text.charAt(from + k)); k += 1 }
      new String(chars)
    }

  private def sameChars(a: String, aFrom: Int, aFold: Boolean,
      b: String, bFrom: Int, bFold: Boolean, len: Int): Boolean = {
    var k = 0
    while (k < len) {
      val ca = a.charAt(aFrom + k)
      val cb = b.charAt(bFrom + k)
      if (ca != cb && (if (aFold) lower(ca) else ca) != (if (bFold) lower(cb) else cb))
        return false
      k += 1
    }
    true
  }

  // the stopwords in an open-addressed set, probed like the table
  private val stopKeys: Array[String] = {
    val words = TextAnalyzer.allStopwords.toArray
    val keys = new Array[String](Integer.highestOneBit(words.length * 4))
    words.foreach { w =>
      var s = mix(w.hashCode) & (keys.length - 1)
      while (keys(s) != null) s = (s + 1) & (keys.length - 1)
      keys(s) = w
    }
    keys
  }

  private def isStopword(text: String, from: Int, until: Int, fold: Boolean, h: Int): Boolean = {
    val mask = stopKeys.length - 1
    var s = mix(h) & mask
    while (stopKeys(s) != null) {
      val w = stopKeys(s)
      if (w.length == until - from && sameChars(w, 0, aFold = false, text, from, fold, w.length))
        return true
      s = (s + 1) & mask
    }
    false
  }

  /** The flags of a new token: `Stop`, else none when the token is
    * `str.isdigit()` or `^[\d\W]+$` (a token's chars are `\w` or '-', so
    * both mean digits and hyphens only), else `Cloud` past 2 chars and
    * `Keyword` past 3. */
  private def flagsOf(text: String, from: Int, until: Int, fold: Boolean, h: Int): Byte = {
    if (isStopword(text, from, until, fold, h)) return Stop
    var i = from
    while (i < until && { val c = text.charAt(i); c == '-' || Character.isDigit(c) }) i += 1
    if (i == until) 0
    else {
      val len = until - from
      ((if (len > 2) Cloud else 0) | (if (len > 3) Keyword else 0)).toByte
    }
  }

  /** Spreads `String.hashCode` bits over the low slot bits. */
  @inline private def mix(h: Int): Int = h ^ (h >>> 16)
}
