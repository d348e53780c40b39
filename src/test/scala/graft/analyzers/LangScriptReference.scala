package graft.analyzers

/** The separate per-text loops that `LangScript.scan` replaced, kept as
  * reference implementations for the properties in GraftProps: T15 page
  * stats, T14 script counting by code point, T13 marker hits over [\w-]
  * runs and the E7 pattern scan, each its own pass. */
object LangScriptReference {

  def pageStats(text: String): LangScript.PageStats = {
    val n = text.length
    var words = 0
    var lines = 1 // len(s.split('\n')) == count('\n') + 1
    var paragraphs = 0
    var inWord = false
    var segHasContent = false // non-ws chars in the current '\n\n' segment
    var i = 0
    while (i < n) {
      val c = text.charAt(i)
      if (c == '\n' && i + 1 < n && text.charAt(i + 1) == '\n') {
        // non-overlapping '\n\n' separator (Python split semantics)
        if (segHasContent) paragraphs += 1
        segHasContent = false
        lines += 2
        inWord = false
        i += 2
      } else {
        if (c == '\n') lines += 1
        if (PyText.isPyWs(c)) inWord = false
        else {
          segHasContent = true
          if (!inWord) { inWord = true; words += 1 }
        }
        i += 1
      }
    }
    if (segHasContent) paragraphs += 1
    LangScript.PageStats(n, words, lines, paragraphs)
  }

  def detectScript(text: String): String = {
    if (text == null || text.isEmpty) return "unknown"
    var latin = 0L; var cyrillic = 0L; var arabic = 0L; var cjk = 0L; var other = 0L
    var i = 0
    while (i < text.length) {
      val code = text.codePointAt(i)
      if (code >= 0x0041 && code <= 0x024F) latin += 1
      else if (code >= 0x0400 && code <= 0x04FF) cyrillic += 1
      else if (code >= 0x0600 && code <= 0x06FF) arabic += 1
      else if ((code >= 0x4E00 && code <= 0x9FFF) ||
               (code >= 0x3040 && code <= 0x309F) ||
               (code >= 0x30A0 && code <= 0x30FF)) cjk += 1
      else if (Character.isLetter(code)) other += 1
      i += Character.charCount(code)
    }
    val total = latin + cyrillic + arabic + cjk + other
    if (total == 0) return "unknown"
    val ordered = Seq("Latin" -> latin, "Cyrillic" -> cyrillic,
      "Arabic" -> arabic, "CJK" -> cjk, "Other" -> other)
    val (dominant, count) = ordered.maxBy { case (_, c) => c } // maxBy keeps first max
    if (count.toDouble / total < 0.5) "Mixed" else dominant
  }

  /** Per-profile marker-hit counts + total [\w-] token count. */
  def profileHits(text: String): (Array[Int], Int) = {
    import LangScript.{HashTableSize, markerKeys, markerMasks, profiles}
    val counts = new Array[Int](profiles.length)
    var nTokens = 0
    val n = text.length
    var i = 0
    while (i < n) {
      while (i < n && {
        val c = text.charAt(i); !(PyText.isWordChar(c) || c == '-')
      }) i += 1
      if (i < n) {
        nTokens += 1
        var h = 0xcbf29ce484222325L
        while (i < n && {
          val c = text.charAt(i); PyText.isWordChar(c) || c == '-'
        }) {
          h ^= Character.toLowerCase(text.charAt(i))
          h *= 0x100000001b3L
          i += 1
        }
        var slot = (h & (HashTableSize - 1)).toInt
        while (markerKeys(slot) != 0L && markerKeys(slot) != h)
          slot = (slot + 1) & (HashTableSize - 1)
        if (markerKeys(slot) == h) {
          val mask = markerMasks(slot)
          var b = 0
          while (b < counts.length) {
            if ((mask & (1 << b)) != 0) counts(b) += 1
            b += 1
          }
        }
      }
    }
    (counts, nTokens)
  }

  /** `sigPatterns.exists(haystack.toLowerCase.contains)`, lowering per char. */
  def containsAnySigPattern(haystack: String): Boolean = {
    val n = haystack.length
    var i = 0
    while (i < n) {
      val h = haystack.charAt(i)
      val lh = if (h >= 'A' && h <= 'Z') (h + 32).toChar else Character.toLowerCase(h)
      val ps = LangScript.sigPatterns
      var p = 0
      while (p < ps.length) {
        val needle = ps(p)
        if (needle.charAt(0) == lh && i + needle.length <= n) {
          var k = 1
          var ok = true
          while (ok && k < needle.length) {
            val c = haystack.charAt(i + k)
            val lc = if (c >= 'A' && c <= 'Z') (c + 32).toChar else Character.toLowerCase(c)
            if (lc != needle.charAt(k)) ok = false
            k += 1
          }
          if (ok) return true
        }
        p += 1
      }
      i += 1
    }
    false
  }

  /** Where `LangScript.scan(text)` disagrees with the reference loops,
    * or None. */
  def mismatch(text: String): Option[String] = {
    val s = LangScript.scan(text)
    val stats = LangScript.PageStats(s.charCount, s.wordCount, s.lineCount, s.paragraphCount)
    val (hits, tokens) = profileHits(text)
    Seq(
      ("pageStats", stats, pageStats(text)),
      ("strippedLength", s.strippedLength, PyText.strip(text).length),
      ("script", s.script, detectScript(text)),
      ("markerHits", s.markerHits.toSeq, hits.toSeq),
      ("tokens", s.tokens, tokens),
      ("sigPattern", s.sigPattern, containsAnySigPattern(text)))
      .collectFirst { case (what, got, exp) if got != exp => s"$what: got $got, expected $exp" }
  }
}
