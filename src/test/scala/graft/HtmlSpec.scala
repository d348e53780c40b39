package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.html._

class HtmlSpec extends AnyFunSuite {

  test("tokenizer: basic tags, attrs, text") {
    val toks = HtmlTokenizer.tokenize("""<p class="x">hi &amp; bye</p>""")
    assert(toks == Vector(
      HtmlTokenizer.StartTag("p", List("class" -> "x"), selfClosing = false),
      HtmlTokenizer.Text("hi & bye"),
      HtmlTokenizer.EndTag("p")))
  }

  test("tokenizer: script raw-text mode swallows tags") {
    val toks = HtmlTokenizer.tokenize("""<script>var a = "<div>"; </script><p>x</p>""")
    assert(toks.collect { case HtmlTokenizer.Text(t) => t }.head == """var a = "<div>"; """)
    assert(toks.exists { case HtmlTokenizer.StartTag("p", _, _) => true; case _ => false })
  }

  test("tokenizer: unclosed script consumes to EOF without crashing") {
    val toks = HtmlTokenizer.tokenize("""<p>keep</p><script>var x = 1;""")
    assert(toks.contains(HtmlTokenizer.Text("keep")))
  }

  test("tokenizer: comments, doctype, numeric entities, lone '<'") {
    val toks = HtmlTokenizer.tokenize("<!DOCTYPE html><!-- c --><p>5 < 6 &#65;&#x42;</p>")
    assert(toks.collect { case HtmlTokenizer.Text(t) => t }.mkString == "5 < 6 AB")
  }

  test("tokenizer: unknown entity passes through") {
    val toks = HtmlTokenizer.tokenize("<p>x &notathing; y</p>")
    assert(toks.collect { case HtmlTokenizer.Text(t) => t }.mkString == "x &notathing; y")
  }

  test("dom: implied </p> and void elements") {
    val root = DomBuilder.parse("<body><p>one<p>two<br>three</body>")
    val body = root.children.collectFirst { case e: Element if e.tag == "body" => e }.get
    val ps = body.children.collect { case e: Element if e.tag == "p" => e }
    assert(ps.length == 2)
    assert(ps(1).children.exists { case Element("br", _, _) => true; case _ => false })
  }

  test("dom: unmatched end tag ignored, unclosed elements closed at EOF") {
    val root = DomBuilder.parse("<div><span>a</em></span></div><p>tail")
    assert(root.children.nonEmpty)
  }

  test("boilerplate: content kept, nav/footer/link-farm dropped") {
    val html =
      """<html><body>
        |<nav><a href="/a">Home page link</a> <a href="/b">About page link</a></nav>
        |<h1>Article Title Here</h1>
        |<p>This is the main content paragraph with more than sixteen words in it so that the classifier keeps it as content easily.</p>
        |<p>Second content paragraph also has quite a few words to stay above the threshold for the content rules applied here.</p>
        |<div><a href="/x">link one here</a> <a href="/y">link two here</a> <a href="/z">link three here</a></div>
        |<footer>Copyright 2026 Example Media All rights reserved</footer>
        |</body></html>""".stripMargin
    val blocks = Boilerplate.segment(DomBuilder.parse(html)).filter(_.isContent)
    val texts = blocks.map(_.text)
    assert(texts.exists(_.startsWith("This is the main content")))
    assert(texts.exists(_.startsWith("Second content paragraph")))
    assert(texts.exists(_ == "Article Title Here"), "heading before content kept")
    assert(!texts.exists(_.contains("Copyright")), "footer dropped")
    assert(!texts.exists(_.contains("Home page link")), "nav dropped")
    assert(!texts.exists(_.contains("link one here")), "link farm dropped")
  }

  test("boilerplate: whitespace normalization and nbsp") {
    assert(Boilerplate.normalizeWs("  a\n\t b  c  ") == "a b c")
    val block = Boilerplate.segment(DomBuilder.parse("<p>a b  c</p>")).head
    assert(block.words == 3 && block.text == "a b c")
  }

  test("entities: legacy unterminated named ref") {
    assert(Entities.decode("a&amp b") == "a& b")
    assert(Entities.decode("&#xD801;") == "�") // lone surrogate rejected
  }
}
