package graft

import java.nio.charset.StandardCharsets
import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite

import graft.extract.{Extractor, Pipeline}
import graft.pdf.PdfParser

/** Adversarial-input regressions: pathological crawled payloads must
  * fail the DOCUMENT (status=error/empty), never the task — no
  * StackOverflowError, no OOM, no hang. */
class RobustnessSpec extends AnyFunSuite {

  private val ts = new Timestamp(0)

  test("50k-deep nested tags flatten at the depth cap instead of overflowing the stack") {
    val html = "<html><body><main>" + ("<b>" * 50000) + "deep text here" +
      ("</b>" * 50000) + "</main></body></html>"
    val r = Extractor.extract("u", ts, html.getBytes(StandardCharsets.UTF_8), "en")
    assert(Seq("ok", "empty", "error").contains(r.status))
  }

  test("colspan bomb is clamped, not materialized") {
    val html = """<html><body><main><p>Some real paragraph content with enough
      |words to classify as content for the extraction gate here.</p>
      |<table><tr><td colspan="2000000000">x</td></tr>
      |<tr><td>1</td><td>2</td></tr></table></main></body></html>""".stripMargin
    val r = Extractor.extract("u", ts, html.getBytes(StandardCharsets.UTF_8), "en")
    assert(r.status == "ok")
    assert(r.tables.head.data.head.length <= 512)
  }

  test("rowspan bomb is clamped and carried values stay bounded") {
    val html = """<html><body><main><p>Some real paragraph content with enough
      |words to classify as content for the extraction gate here.</p>
      |<table><tr><td rowspan="2000000000">x</td><td>a</td></tr>
      |<tr><td>b</td></tr><tr><td>c</td></tr></table></main></body></html>""".stripMargin
    val r = Extractor.extract("u", ts, html.getBytes(StandardCharsets.UTF_8), "en")
    assert(r.status == "ok")
    val t = r.tables.head
    assert(t.rows <= 4)
    // the rowspan cell's value carries into the later rows' first column
    assert(t.data.forall(_.length <= 512))
  }

  test("rowspan carries cell values down into spanned rows") {
    val dom = graft.html.DomBuilder.parse(
      """<table><tr><td rowspan="2">A</td><td>B</td></tr><tr><td>C</td></tr></table>""")
    val m = graft.html.HtmlTables.extract(dom)
    assert(m.head == Vector(Vector("A", "B"), Vector("A", "C")))
  }

  test("cyclic indirect references resolve to null, not infinite recursion") {
    val pdf = ("%PDF-1.4\n" +
      "1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n" +
      "2 0 obj 3 0 R endobj\n" +
      "3 0 obj 2 0 R endobj\n" +
      "%%EOF").getBytes(StandardCharsets.US_ASCII)
    val doc = PdfParser.parse(pdf)
    assert(doc.status == "ok" || doc.status == "error") // must return, not crash
    assert(doc.pages.isEmpty)
  }

  test("cyclic /Kids page tree terminates") {
    val pdf = ("%PDF-1.4\n" +
      "1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n" +
      "2 0 obj << /Type /Pages /Kids [2 0 R] /Count 1 >> endobj\n" +
      "%%EOF").getBytes(StandardCharsets.US_ASCII)
    val doc = PdfParser.parse(pdf)
    assert(doc.pages.isEmpty)
  }

  test("content stream of 100k garbage bytes tokenizes in a loop, not recursion") {
    val junk = ")" * 100000
    val pdf = ("%PDF-1.4\n" +
      "1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n" +
      "2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n" +
      "3 0 obj << /Type /Page /Parent 2 0 R /Contents 4 0 R >> endobj\n" +
      s"4 0 obj << /Length ${junk.length} >>\nstream\n$junk\nendstream\nendobj\n" +
      "%%EOF").getBytes(StandardCharsets.ISO_8859_1)
    val doc = PdfParser.parse(pdf)
    assert(doc.status == "ok")
    assert(doc.pages.length == 1)
  }

  test("deeply nested array object is rejected per-object, not with a stack overflow") {
    val nested = "[" * 10000 + "]" * 10000
    val pdf = ("%PDF-1.4\n" +
      s"1 0 obj $nested endobj\n" +
      "%%EOF").getBytes(StandardCharsets.US_ASCII)
    val doc = PdfParser.parse(pdf) // malformed object skipped by scanObjects
    assert(doc.status == "ok" || doc.status == "error")
  }

  test("PDF syntax inside a stream body does not shadow real objects") {
    // object 5's stream body contains text that LOOKS like a redefinition
    // of object 1; honoring /Length + skipping stream bodies must keep
    // the real catalog
    val evil = "1 0 obj << /Type /Catalog /Pages 99 0 R >> endobj"
    val pdf = ("%PDF-1.4\n" +
      "1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n" +
      "2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n" +
      "3 0 obj << /Type /Page /Parent 2 0 R /Contents 4 0 R >> endobj\n" +
      "4 0 obj << /Length 33 >>\nstream\nBT /F1 12 Tf (real text) Tj ET\nendstream\nendobj\n" +
      s"5 0 obj << /Length ${evil.length} >>\nstream\n$evil\nendstream\nendobj\n" +
      "%%EOF").getBytes(StandardCharsets.ISO_8859_1)
    val doc = PdfParser.parse(pdf)
    assert(doc.status == "ok")
    assert(doc.pages.length == 1, "ghost catalog must not replace the real page tree")
    assert(doc.pages.head.text == "real text")
  }

  private def deflate(data: Array[Byte]): Array[Byte] = {
    val d = new java.util.zip.Deflater()
    d.setInput(data); d.finish()
    val out = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](65536)
    while (!d.finished()) { val k = d.deflate(buf); out.write(buf, 0, k) }
    d.end(); out.toByteArray
  }

  /** A one-page PDF whose /Contents are `streams`, each FlateDecoded:
    * "(real text) Tj" followed by `pad(i)` spaces. */
  private def flatePdf(pad: Long*): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def w(s: String): Unit = out.write(s.getBytes(StandardCharsets.ISO_8859_1))
    w("%PDF-1.4\n1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n")
    w("2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n")
    val refs = pad.indices.map(i => s"${i + 4} 0 R").mkString(" ")
    w(s"3 0 obj << /Type /Page /Parent 2 0 R /Contents [$refs] >> endobj\n")
    pad.zipWithIndex.foreach { case (n, i) =>
      val raw = "BT /F1 12 Tf (real text) Tj ET".getBytes(StandardCharsets.ISO_8859_1) ++
        Array.fill(n.toInt)(' '.toByte)
      val d = deflate(raw)
      w(s"${i + 4} 0 obj << /Filter /FlateDecode /Length ${d.length} >>\nstream\n")
      out.write(d)
      w("\nendstream\nendobj\n")
    }
    w("%%EOF")
    out.toByteArray
  }

  test("a Flate bomb fails its document; the inflate cap sums over all streams") {
    val cap = PdfParser.MaxInflatedBytes
    val bomb = flatePdf(cap)
    assert(bomb.length < 256 * 1024, s"bomb is ${bomb.length} bytes compressed")
    val doc = PdfParser.parse(bomb)
    assert(doc.status == "error")
    assert(doc.error.contains("inflated"))
    // two streams, each under the cap alone, together over it
    assert(PdfParser.parse(flatePdf(cap / 2, cap / 2)).status == "error")
    val under = PdfParser.parse(flatePdf(cap / 4, cap / 4))
    assert(under.status == "ok")
    assert(under.pages.head.text.contains("real text"))
  }

  test("a Flate bomb yields one error row and the Spark task survives") {
    val spark = SparkTestBase.spark
    import spark.implicits._
    val rows = Seq(
      ("https://bomb.example/", ts, flatePdf(PdfParser.MaxInflatedBytes), "en"),
      ("https://fine.example/", ts, flatePdf(0L), "en"))
    val got = Pipeline.run(rows.toDF("url", "warc_ts", "html", "lang"), analysis = false)
      .select("url", "status").as[(String, String)].collect().sortBy(_._1)
    assert(got.toSeq == Seq(("https://bomb.example/", "error"), ("https://fine.example/", "ok")))
  }

  test("table-only HTML page keeps its tables and title on the empty-status row") {
    val html = """<html><head><title>Only Tables</title></head><body>
      |<table><tr><td>Qty</td><td>Price</td></tr>
      |<tr><td>2</td><td>$5.00</td></tr></table></body></html>""".stripMargin
    val r = Extractor.extract("u", ts, html.getBytes(StandardCharsets.UTF_8), "en")
    assert(r.status == "empty") // no main-content prose
    assert(r.title == "Only Tables")
    assert(r.tables.nonEmpty)
    assert(r.tables.head.data == Seq(Seq("Qty", "Price"), Seq("2", "$5.00")))
  }

  // -- hostile text for the analyzers: long runs that backtracking regexes
  // rescanned once per start, quadratic in the run's length

  /** `body` on a worker thread, failing past `limitMs`; its wall time. A
    * runaway regex ignores interrupts, so the thread is left to the JVM's
    * exit (it is a daemon) rather than holding the suite. */
  private def withinMs[T](limitMs: Long)(body: => T): (T, Long) = {
    val pool = java.util.concurrent.Executors.newSingleThreadExecutor { (r: Runnable) =>
      val t = new Thread(r, "hostile-text")
      t.setDaemon(true)
      t
    }
    try {
      val t0 = System.nanoTime()
      val f = pool.submit(() => body)
      val v =
        try f.get(limitMs, java.util.concurrent.TimeUnit.MILLISECONDS)
        catch {
          case _: java.util.concurrent.TimeoutException => fail(s"not done within $limitMs ms")
        }
      (v, (System.nanoTime() - t0) / 1000000L)
    } finally pool.shutdownNow()
  }

  /** `kb` KB of `unit` repeated, with `head` before and `tail` after. */
  private def shape(head: String, unit: String, tail: String, kb: Int): String = {
    val sb = new StringBuilder(head)
    while (sb.length < kb * 1024) sb ++= unit
    sb ++= tail
    sb.toString
  }

  private def htmlPage(text: String): Array[Byte] =
    s"<html><body><main><p>$text</p></main></body></html>".getBytes(StandardCharsets.UTF_8)

  /** The 256 KB shape gives one `ok` row in under 1 s, and costs at most
    * 5× the 64 KB shape (the best of 3 runs each, after a 16 KB warm-up). */
  private def linearAnalysis(name: String, run: Int => String): Unit = {
    withinMs(20000)(run(16))
    def best(kb: Int, limitMs: Long): Long =
      (1 to 3).map { _ =>
        val (status, ms) = withinMs(limitMs)(run(kb))
        assert(status == "ok", s"$name at $kb KB")
        ms
      }.min
    val small = best(64, 5000)
    val large = best(256, 1000)
    assert(large <= 5 * math.max(small, 20), s"$name: 64 KB $small ms, 256 KB $large ms")
  }

  private def extracted(text: Int => String)(kb: Int): String =
    Extractor.extract("u", ts, htmlPage(text(kb)), "en").status

  test("an all-caps legal paragraph is analyzed in linear time") {
    // the company pattern: every word start scanned the run back to its
    // end looking for a suffix; "DAMAGES" holds "AG", "WARRANTIES" none
    linearAnalysis("all caps", extracted(kb => shape("", "THE SOFTWARE IS PROVIDED AS IS " +
      "WITHOUT WARRANTY OF ANY KIND AND IN NO EVENT SHALL THE AUTHORS BE LIABLE FOR " +
      "ANY DAMAGES OR OTHER LIABILITY ", "", kb)))
  }

  test("Title-Case words after one USA are analyzed in linear time") {
    // the company suffix "SA" sits before every later start, so no start
    // after it matched and each rescanned the whole run
    linearAnalysis("title case", extracted(kb => shape("USA ", "Annual Report Of The " +
      "Board On Results And Outlook ", "", kb)))
  }

  test("a line of dash bullets with U+0085 before its end is analyzed in linear time") {
    // every '-' started a list item that ran to the U+0085, which ends
    // neither the item nor the text; HTML normalization keeps U+0085
    linearAnalysis("dash bullets", extracted(kb => shape("", "word - ", "\u0085end", kb)))
  }

  test("key points of marker runs before a stray line terminator take linear time") {
    // `x-` and `1.` runs with a \r before the end: each marker's item ran to the \r
    Seq("x-", "1.").foreach { unit =>
      linearAnalysis(s"'$unit' run", kb => {
        graft.analyzers.TextAnalyzer.summarize(shape("", unit, "\rend", kb))
        "ok"
      })
    }
  }
}
