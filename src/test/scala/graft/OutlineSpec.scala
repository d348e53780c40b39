package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.html.Outline

/** Outline-numbering semantics pinned for the `doc_outline` oracle. */
class OutlineSpec extends AnyFunSuite {

  test("hierarchical numbering with deeper-counter reset") {
    val html = "<h1>One</h1><h2>A</h2><h3>i</h3><h2>B</h2>" +
      "<h3>ii</h3><h1>Two</h1><h2>C</h2>"
    assert(Outline.headings(html).map(h => (h._2, h._3)) == Vector(
      ("1", "One"), ("1.1", "A"), ("1.1.1", "i"), ("1.2", "B"),
      ("1.2.1", "ii"), ("2", "Two"), ("2.1", "C")))
  }

  test("skipped level is visible as a zero component") {
    assert(Outline.headings("<h2>starts deep</h2>").head._2 == "0.1")
  }

  test("inline markup flattens; whitespace collapses") {
    val html = "<h1>  The <b>Big</b>\n <em>Title</em> </h1>"
    assert(Outline.headings(html) == Vector((1, "1", "The Big Title")))
  }

  test("empty heading still advances the outline") {
    val got = Outline.headings("<h1></h1><h1>real</h1>")
    assert(got == Vector((1, "1", ""), (1, "2", "real")))
  }

  test("unclosed heading closes at the next heading or at EOF; null safe") {
    assert(Outline.headings("<h1>dangling") == Vector((1, "1", "dangling")))
    assert(Outline.headings("<h1>One<h2>A</h2><h2>B") == Vector(
      (1, "1", "One"), (2, "1.1", "A"), (2, "1.2", "B")))
    // any h1-h6 end tag closes the open heading
    assert(Outline.headings("<h1>One</h2><p>body</p><h2>A</h2>") == Vector(
      (1, "1", "One"), (2, "1.1", "A")))
    assert(Outline.headings(null).isEmpty)
  }
}
