package graft.analyzers

/** Script detection, language identification, per-page statistics and
  * confidence bucketing (SURVEY.md T13–T18).
  *
  * Script detection is an exact port of the char-range counter in
  * `idp_pipeline/models/ocr_engine.py:829-873`. Language identification
  * replaces the reference's langdetect call (`ocr_engine.py:777-827`,
  * seed=0) with a from-scratch stopword-profile Naive-Bayes-ish scorer
  * over frozen profiles — the fixture contract pins OUR profiles
  * (SURVEY.md §7.3 item 5); the input table's `lang` column remains the
  * authoritative hint.
  */
object LangScript {

  // ------------------------------------------------------ T14 script detect

  /** `_detect_script` (ocr_engine.py:829-873): count chars by unicode
    * range; dominant <50% → "Mixed"; no alphabetic chars → "unknown". */
  def detectScript(text: String): String =
    if (text == null || text.isEmpty) "unknown" else scan(text).script

  // ---------------------------------------------------- T13 language detect

  /** Frozen per-language marker-word profiles (top function words). These
    * are OUR deterministic profiles, not langdetect's. */
  val profiles: Seq[(String, Set[String])] = Seq(
    "en" -> Set("the", "and", "of", "to", "in", "is", "that", "for", "with",
      "are", "was", "this", "have", "from", "not", "they", "his", "her"),
    "fr" -> Set("le", "la", "les", "de", "des", "et", "est", "un", "une",
      "pour", "dans", "que", "qui", "sur", "avec", "pas", "sont", "nous"),
    "de" -> Set("der", "die", "das", "und", "ist", "von", "mit", "den",
      "nicht", "ein", "eine", "auf", "für", "sich", "dem", "des", "auch"),
    "es" -> Set("el", "la", "los", "las", "de", "que", "en", "un", "una",
      "por", "con", "para", "es", "del", "se", "no", "más", "como"),
    "it" -> Set("il", "la", "di", "che", "e", "un", "una", "per", "con",
      "del", "della", "non", "sono", "da", "si", "nel", "alla"),
    "pt" -> Set("o", "a", "os", "as", "de", "que", "em", "um", "uma",
      "para", "com", "não", "do", "da", "dos", "das", "mais"),
    "nl" -> Set("de", "het", "een", "van", "en", "is", "dat", "op", "te",
      "met", "voor", "niet", "zijn", "aan", "ook", "naar"))

  final case class LangResult(detected: String, confidence: Double,
      alternates: Seq[(String, Double)], script: String)

  // Zero-allocation marker matching: profile words live in an
  // open-addressing long-hash table (FNV-1a of the lowercased word →
  // bitmask of profile indices); the scan walks [\w-] token runs in
  // the ORIGINAL string, lowercasing and hashing per char — no token
  // substrings, no boxed map keys. Membership semantics are identical
  // to `tokenize(text).count(words.contains)` for every marker word
  // (all are plain letters whose per-char lowercase equals the
  // string-level lowercase).
  private[analyzers] val HashTableSize = 512 // power of 2, >> 4x the ~120 marker words
  private[analyzers] val FnvBasis = 0xcbf29ce484222325L
  private[analyzers] val FnvPrime = 0x100000001b3L
  private[analyzers] val markerKeys = new Array[Long](HashTableSize)
  private[analyzers] val markerMasks = new Array[Int](HashTableSize)
  locally {
    profiles.zipWithIndex.foreach { case ((_, words), idx) =>
      words.foreach { w =>
        var h = FnvBasis
        var i = 0
        while (i < w.length) { h ^= w.charAt(i); h *= FnvPrime; i += 1 }
        require(h != 0L, s"FNV(0) sentinel collision for marker '$w'")
        var slot = (h & (HashTableSize - 1)).toInt
        while (markerKeys(slot) != 0L && markerKeys(slot) != h)
          slot = (slot + 1) & (HashTableSize - 1)
        markerKeys(slot) = h
        markerMasks(slot) |= 1 << idx
      }
    }
  }
  // tokens longer than the longest marker cannot be one: no table probe
  private val MaxMarkerLength = profiles.flatMap(_._2).map(_.length).max

  /** Deterministic language-ID: score = matched marker-word tokens per
    * language / total tokens; <20 chars stripped → unknown (mirrors
    * `ocr_engine.py:788-795`); non-Latin scripts short-circuit on script. */
  def detectLanguage(text: String): LangResult =
    if (text == null) Unknown else language(scan(text))

  private val Unknown = LangResult("unknown", 0.0, Nil, "unknown")

  /** [[detectLanguage]] of the text `s` was scanned from. */
  def language(s: TextScan): LangResult = {
    if (s.strippedLength < 20) return Unknown
    val script = s.script
    script match {
      case "Cyrillic" => return LangResult("ru", 0.9, Nil, script)
      case "Arabic" => return LangResult("ar", 0.9, Nil, script)
      case "CJK" => return LangResult("zh", 0.9, Nil, script)
      case _ =>
    }
    if (s.tokens == 0) return LangResult("unknown", 0.0, Nil, script)
    val hits = profiles.indices.map(i => (profiles(i)._1, s.markerHits(i).toDouble))
    val totalHits = hits.map(_._2).sum
    if (totalHits == 0) return LangResult("unknown", 0.0, Nil, script)
    val scored = hits.map { case (l, h) => (l, h / totalHits) }
      .sortBy { case (l, p) => (-p, l) }
    val primary = scored.head
    val alternates = scored.tail
      .filter(_._2 > 0.1)
      .map { case (l, p) => (l, PyText.pyRound(p, 3)) }
    LangResult(primary._1, PyText.pyRound(primary._2, 3), alternates, script)
  }

  // ------------------------------------------------------ T15 page stats

  final case class PageStats(charCount: Int, wordCount: Int, lineCount: Int,
      paragraphCount: Int)

  /** `ocr_engine.py:1624-1631`: char_count=len, word_count=len(split()),
    * line_count=len(split('\n')), paragraph_count=non-blank split('\n\n').
    * Semantics equivalence with the split-based forms is property-tested
    * (GraftProps). */
  def pageStats(text: String): PageStats = {
    val s = scan(text)
    PageStats(s.charCount, s.wordCount, s.lineCount, s.paragraphCount)
  }

  // ------------------------------------------------ E7 signature patterns

  /** Handwritten-signature text patterns (E7, `ocr_engine.py:669-735` —
    * text-pattern part only). Matched case-insensitively char by char;
    * none contains '\n', so no match can straddle a page break. */
  private[analyzers] val sigPatterns =
    Seq("signature", "signed by", "sign here", "per:", "by:", "signé", "firma")
  // patterns by their first char (all ASCII letters)
  private val sigByFirst: Array[Array[String]] =
    Array.tabulate(128)(c => sigPatterns.filter(_.charAt(0) == c).toArray)
  // bitset of the patterns' first two chars (ASCII letters both) as
  // (first << 7 | second): the kernel tries a match only where the two
  // lowercased chars of a token form one of these pairs
  private val sigPairs = new Array[Long](256)
  sigPatterns.foreach { p =>
    val k = (p.charAt(0) << 7) | p.charAt(1)
    sigPairs(k >>> 6) |= 1L << k
  }

  /** `text.toLowerCase(ROOT).startsWith(p, i)` for some pattern p whose
    * first char is `first`, lowering per char. */
  private def sigAt(text: String, i: Int, first: Char): Boolean = {
    val ps = sigByFirst(first)
    var p = 0
    while (p < ps.length) {
      val needle = ps(p)
      if (i + needle.length <= text.length) {
        var k = 1
        while (k < needle.length && lower(text.charAt(i + k)) == needle.charAt(k)) k += 1
        if (k == needle.length) return true
      }
      p += 1
    }
    false
  }

  // ------------------------------------------------------ the page kernel

  /** What one pass over a text yields: T15 counts, T14 script counts,
    * T13 marker hits and the E7 pattern flag. */
  final class TextScan private[analyzers] (
      val charCount: Int, val wordCount: Int, val lineCount: Int,
      val paragraphCount: Int,
      /** `PyText.strip(text).length` */
      val strippedLength: Int,
      /** code points per script: Latin, Cyrillic, Arabic, CJK, other letters */
      private[analyzers] val scripts: Array[Int],
      /** marker-word tokens per profile, in `profiles` order */
      private[analyzers] val markerHits: Array[Int],
      /** [\w-] token runs */
      val tokens: Int,
      /** some E7 signature pattern occurs */
      val sigPattern: Boolean) {
    def script: String = scriptOf(scripts)
  }

  private val ScriptNames = Array("Latin", "Cyrillic", "Arabic", "CJK", "Other")

  /** Python max(counts, key=counts.get) — first max in insertion order;
    * dominant <50% → "Mixed". */
  private def scriptOf(counts: Array[Int]): String = {
    var total = 0L
    var best = 0
    var k = 0
    while (k < counts.length) {
      total += counts(k)
      if (counts(k) > counts(best)) best = k
      k += 1
    }
    if (total == 0) "unknown"
    else if (counts(best).toDouble / total < 0.5) "Mixed"
    else ScriptNames(best)
  }

  /** detectScript of `pages` joined by the text `separator` was scanned
    * from. Script counts add up as long as no surrogate pair spans a page
    * edge, which holds when the separator neither starts nor ends with a
    * surrogate (`Extractor.PageBreak` starts and ends with '\n'). */
  def joinedScript(pages: Seq[TextScan], separator: TextScan): String = {
    val sum = new Array[Int](ScriptNames.length)
    pages.foreach { p =>
      var k = 0
      while (k < sum.length) { sum(k) += p.scripts(k); k += 1 }
    }
    var k = 0
    while (k < sum.length) {
      sum(k) += separator.scripts(k) * math.max(0, pages.length - 1)
      k += 1
    }
    scriptOf(sum)
  }

  // Class bits of the chars below TableSize (Latin-1 and Latin
  // Extended-A/B, the whole T14 Latin range); other chars are classified
  // per char in the kernel's slow path.
  private final val Ws = 1 // PyText.isPyWs
  private final val Tok = 2 // [\w-]: PyText.isWordChar or '-'
  private final val TableSize = 0x250
  private val charClass = new Array[Byte](TableSize)
  private val lowerOf = new Array[Char](TableSize)
  locally {
    var c = 0
    while (c < TableSize) {
      val ch = c.toChar
      lowerOf(c) = Character.toLowerCase(ch)
      charClass(c) = ((if (PyText.isPyWs(ch)) Ws else 0) |
        (if (PyText.isWordChar(ch) || ch == '-') Tok else 0)).toByte
      c += 1
    }
  }
  private def lower(c: Char): Char = if (c < TableSize) lowerOf(c) else Character.toLowerCase(c)

  /** The one pass over `text` behind [[pageStats]], [[detectScript]],
    * [[detectLanguage]] and the E7 pattern scan. Whitespace, word and
    * token predicates work per char; scripts count per code point. */
  def scan(text: String): TextScan = {
    val n = text.length
    // T15
    var words = 0
    var lines = 1 // len(s.split('\n')) == count('\n') + 1
    var paragraphs = 0
    var inWord = false
    var segHasContent = false // non-ws chars in the current '\n\n' segment
    var prevNl = false // the previous char is a '\n'
    var first = -1; var last = -1 // non-ws extent, for strippedLength
    // T14
    var latin, cyrillic, arabic, cjk, other = 0
    // T13
    val hits = new Array[Int](profiles.length)
    var tokens = 0
    var tokLen = 0
    var h = FnvBasis
    var prevLc = 0 // lowercase of the previous char when it is a token char
    // E7
    var sig = false
    var i = 0
    while (i < n) {
      val c = text.charAt(i)
      var cls = 0
      var lc = c
      if (c < TableSize) {
        cls = charClass(c)
        lc = lowerOf(c)
        latin += (0x40 - c) >>> 31 // c >= 0x41
      } else {
        if (c >= 0x0400 && c <= 0x04FF) cyrillic += 1
        else if (c >= 0x0600 && c <= 0x06FF) arabic += 1
        else if ((c >= 0x4E00 && c <= 0x9FFF) || (c >= 0x3040 && c <= 0x30FF)) cjk += 1
        else if (Character.isHighSurrogate(c)) {
          if (i + 1 < n && Character.isLowSurrogate(text.charAt(i + 1)) &&
              Character.isLetter(Character.toCodePoint(c, text.charAt(i + 1)))) other += 1
        } // a low surrogate is counted with its pair, or is no letter
        else if (Character.isLetter(c)) other += 1
        lc = Character.toLowerCase(c)
        cls = (if (PyText.isPyWs(c)) Ws else 0) |
          (if (Character.isLetterOrDigit(c)) Tok else 0)
      }
      if ((cls & Ws) != 0) {
        inWord = false
        if (c == '\n') {
          lines += 1
          // split('\n\n') puts content on both sides of a newline run
          // into different segments iff the run is 2+ long
          if (prevNl && segHasContent) { paragraphs += 1; segHasContent = false }
          prevNl = true
        } else prevNl = false
      } else {
        prevNl = false
        segHasContent = true
        if (!inWord) { inWord = true; words += 1 }
        if (first < 0) first = i
        last = i
      }
      if ((cls & Tok) != 0) {
        if (tokLen == 0) { tokens += 1; h = FnvBasis }
        h = (h ^ lc) * FnvPrime
        tokLen += 1
        // chars past 0x7F alias onto the ASCII pairs: sigAt decides exactly
        val k = ((prevLc & 0x7F) << 7) | (lc & 0x7F)
        if (((sigPairs(k >>> 6) >>> k) & 1L) != 0 && !sig && prevLc < 128)
          sig = sigAt(text, i - 1, prevLc.toChar)
        prevLc = lc
      } else {
        if (tokLen != 0) {
          if (tokLen <= MaxMarkerLength) countMarker(h, hits)
          tokLen = 0
        }
        prevLc = 0
      }
      i += 1
    }
    if (tokLen != 0 && tokLen <= MaxMarkerLength) countMarker(h, hits)
    if (segHasContent) paragraphs += 1
    new TextScan(n, words, lines, paragraphs,
      if (first < 0) 0 else last - first + 1,
      Array(latin, cyrillic, arabic, cjk, other), hits, tokens, sig)
  }

  private def countMarker(h: Long, hits: Array[Int]): Unit = {
    var slot = (h & (HashTableSize - 1)).toInt
    while (markerKeys(slot) != 0L && markerKeys(slot) != h)
      slot = (slot + 1) & (HashTableSize - 1)
    if (markerKeys(slot) == h) {
      val mask = markerMasks(slot)
      var b = 0
      while (b < hits.length) {
        if ((mask & (1 << b)) != 0) hits(b) += 1
        b += 1
      }
    }
  }

  // ------------------------------------------ T16/T17 confidence semantics

  /** `intermediate_format.py:44-55` thresholds. */
  def confidenceLevel(conf: Double): String =
    if (conf >= 0.95) "certain"
    else if (conf >= 0.80) "high"
    else if (conf >= 0.60) "medium"
    else if (conf >= 0.40) "low"
    else "uncertain"

  /** `ocr_engine.py:1641-1657`: clarity + source type from confidence. */
  def clarity(conf: Double): (String, String) =
    if (conf >= 0.95) ("excellent", "digital")
    else if (conf >= 0.85) ("good", "ocr")
    else if (conf >= 0.70) ("fair", "hybrid")
    else ("poor", "ocr")
}
