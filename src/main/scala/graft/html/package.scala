package graft

package object html {

  /** Runs of Unicode whitespace collapse to one space; leading and
    * trailing whitespace is dropped. */
  private[html] def collapseWs(s: String): String = {
    val sb = new StringBuilder(s.length)
    var inWs = false
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (Character.isWhitespace(c)) inWs = true
      else {
        if (inWs && sb.nonEmpty) sb.append(' ')
        inWs = false
        sb.append(c)
      }
      i += 1
    }
    sb.toString
  }
}
