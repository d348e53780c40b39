package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Option gate: every default-valued parameter of a non-private `def`
  * under src/main is a value a caller may set, so the count only grows
  * when a new option earns its place. A parameter with one value in use
  * is a constant in its object, not an option. */
class OptionCountSpec extends AnyFunSuite {

  private val MaxOptions = 74

  /** `src` with comments and the contents of string and char literals
    * blanked to spaces (newlines kept), so brackets, commas and `=` inside
    * them are not read as code and offsets still map to lines. */
  private def codeOnly(src: String): String = {
    val out = src.toCharArray
    def blank(from: Int, to: Int): Unit =
      for (k <- from until math.min(to, out.length) if out(k) != '\n') out(k) = ' '
    var i = 0
    while (i < src.length) {
      if (src.startsWith("//", i)) {
        val end = src.indexOf('\n', i)
        val stop = if (end < 0) src.length else end
        blank(i, stop); i = stop
      } else if (src.startsWith("/*", i)) {
        val end = src.indexOf("*/", i + 2)
        val stop = if (end < 0) src.length else end + 2
        blank(i, stop); i = stop
      } else if (src.startsWith("\"\"\"", i)) {
        val end = src.indexOf("\"\"\"", i + 3)
        val stop = if (end < 0) src.length else end + 3
        blank(i + 3, stop - 3); i = stop
      } else if (src.charAt(i) == '"') {
        var j = i + 1
        while (j < src.length && src.charAt(j) != '"' && src.charAt(j) != '\n')
          j += (if (src.charAt(j) == '\\') 2 else 1)
        blank(i + 1, j); i = j + 1
      } else if (src.charAt(i) == '\'' && i + 2 < src.length &&
          (src.charAt(i + 2) == '\'' || src.charAt(i + 1) == '\\')) {
        val end = src.indexOf('\'', if (src.charAt(i + 1) == '\\') i + 3 else i + 2)
        blank(i + 1, end); i = end + 1
      } else i += 1
    }
    new String(out)
  }

  /** Index just past the bracket group opening at `from`. */
  private def closeOf(code: String, from: Int): Int = {
    var depth = 0
    var i = from
    while (i < code.length) {
      val c = code.charAt(i)
      if ("([{".indexOf(c) >= 0) depth += 1
      else if (")]}".indexOf(c) >= 0) { depth -= 1; if (depth == 0) return i + 1 }
      i += 1
    }
    code.length
  }

  /** The top-level comma-separated parts of `s`. */
  private def topLevel(s: String): Seq[String] = {
    val parts = Seq.newBuilder[String]
    var depth = 0
    var start = 0
    for (i <- s.indices) s.charAt(i) match {
      case '(' | '[' | '{' => depth += 1
      case ')' | ']' | '}' => depth -= 1
      case ',' if depth == 0 => parts += s.substring(start, i); start = i + 1
      case _ =>
    }
    parts += s.substring(start)
    parts.result()
  }

  private val defName = """\bdef\s+([^\s(\[:=]+)""".r
  private val default = """(?<![=<>!])=(?![>=])""".r

  /** "path:line: name(param)" for each default-valued parameter of a
    * non-private def in `p`. */
  private def options(p: Path): Seq[String] = {
    val code = codeOnly(Files.readString(p))
    defName.findAllMatchIn(code).toSeq.flatMap { m =>
      val lineStart = code.lastIndexOf('\n', m.start) + 1
      if (code.substring(lineStart, m.start).contains("private")) Nil
      else {
        val line = code.substring(0, m.start).count(_ == '\n') + 1
        var i = m.end
        def skipWs(): Unit = while (i < code.length && code.charAt(i).isWhitespace) i += 1
        skipWs()
        if (i < code.length && code.charAt(i) == '[') { i = closeOf(code, i); skipWs() }
        val found = Seq.newBuilder[String]
        while (i < code.length && code.charAt(i) == '(') {
          val end = closeOf(code, i)
          topLevel(code.substring(i + 1, end - 1)).foreach { param =>
            val colon = param.indexOf(':')
            if (colon >= 0 && default.findFirstIn(param.substring(colon)).nonEmpty)
              found += s"$p:$line: ${m.group(1)}(${param.substring(0, colon).trim})"
          }
          i = end
          skipWs()
        }
        found.result()
      }
    }
  }

  test(s"src/main holds at most $MaxOptions default-valued parameters on non-private defs") {
    val sources = Files.walk(Paths.get("src/main")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq.sortBy(_.toString)
    assert(sources.nonEmpty, "src/main not found from the test's working directory")
    val all = sources.flatMap(options)
    assert(all.size <= MaxOptions,
      s"${all.size} default-valued parameters (at most $MaxOptions):\n${all.mkString("\n")}")
  }
}
