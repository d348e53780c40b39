package graft.analyzers

/** Python string/number semantics helpers. The reference is Python 3.11;
  * byte-identity (north rule) requires replicating `str.split()`,
  * `round()` (banker's on the binary double), `str.isdigit`,
  * `str.capitalize`, and `str.count` exactly (SURVEY.md §7.3 item 2). */
object PyText {

  /** Python `s.split()` — split on runs of whitespace, no empties. */
  def splitWs(s: String): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    val n = s.length
    while (i < n) {
      while (i < n && isPyWs(s.charAt(i))) i += 1
      val start = i
      while (i < n && !isPyWs(s.charAt(i))) i += 1
      if (i > start) out += s.substring(start, i)
    }
    out.toArray
  }

  /** Python `str` whitespace (space, \t\n\v\f\r, \x1c-\x1f, U+0085 and
    * the unicode space chars). */
  def isPyWs(c: Char): Boolean =
    if (c < 128) c == ' ' || (c >= '\t' && c <= '\r') || (c >= '\u001C' && c <= '\u001F')
    else c == '\u0085' || Character.isSpaceChar(c)

  /** Python `s.split(sep)` — keeps empty strings ("a\n\nb".split("\n") has 3). */
  def splitKeepEmpty(s: String, sep: String): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    var idx = s.indexOf(sep, i)
    while (idx >= 0) {
      out += s.substring(i, idx)
      i = idx + sep.length
      idx = s.indexOf(sep, i)
    }
    out += s.substring(i)
    out.toArray
  }

  /** Python `s.strip()`. */
  def strip(s: String): String = {
    var a = 0
    var b = s.length
    while (a < b && isPyWs(s.charAt(a))) a += 1
    while (b > a && isPyWs(s.charAt(b - 1))) b -= 1
    s.substring(a, b)
  }

  private val Pow10 = Array.tabulate(23)(i => math.pow(10, i)) // each exact
  private val TwoP52 = 4503599627370496.0

  /** Python `round(x, n)` — round-half-even on the exact binary value.
    * Away from a tie, `rint(x·10ⁿ)` in doubles is the integer the exact
    * product rounds to (the product errs by at most half an ulp), and
    * dividing it by 10ⁿ rounds like `BigDecimal.doubleValue`. Within 2 ulp
    * of a .5 tie, at |x·10ⁿ| ≥ 2⁵², for n outside 0..22 and for non-finite
    * x, the exact `BigDecimal` formula decides. */
  def pyRound(x: Double, n: Int): Double = {
    if (n >= 0 && n < Pow10.length) {
      val y = x * Pow10(n)
      if (Math.abs(y) < TwoP52 && Math.abs(y - Math.floor(y) - 0.5) > 2 * Math.ulp(y)) {
        val r = Math.rint(y)
        return if (r == 0) 0.0 else r / Pow10(n) // BigDecimal has no -0
      }
    }
    if (x.isNaN || x.isInfinite) x
    else new java.math.BigDecimal(x).setScale(n, java.math.RoundingMode.HALF_EVEN).doubleValue()
  }

  /** Python `s.isdigit()` (ASCII + unicode decimal digits; false for ""). */
  def isDigit(s: String): Boolean =
    s.nonEmpty && s.forall(Character.isDigit)

  /** Python `s.isupper()` — at least one cased char and no lowercase. */
  def isUpper(s: String): Boolean = {
    var hasCased = false
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (Character.isLowerCase(c)) return false
      if (Character.isUpperCase(c)) hasCased = true
      i += 1
    }
    hasCased
  }

  /** Python `s.capitalize()` — first char title-cased, rest lowered. */
  def capitalize(s: String): String =
    if (s.isEmpty) s
    else s.substring(0, 1).toUpperCase(java.util.Locale.ROOT) +
         s.substring(1).toLowerCase(java.util.Locale.ROOT)

  /** Python `haystack.count(needle)` — non-overlapping occurrences. */
  def countSub(haystack: String, needle: String): Int = {
    if (needle.isEmpty) return haystack.length + 1
    var count = 0
    var i = haystack.indexOf(needle)
    while (i >= 0) { count += 1; i = haystack.indexOf(needle, i + needle.length) }
    count
  }

  /** Python `re` `\w` for a char (unicode word char: letter, digit, _). */
  def isWordChar(c: Char): Boolean =
    Character.isLetterOrDigit(c) || c == '_'
}
