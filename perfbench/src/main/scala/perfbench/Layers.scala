package perfbench

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.functions.col

import graft.analyzers.{LangScript, TextAnalyzer}
import graft.extract.{DocResult, Extractor, Pipeline}
import graft.html.{Boilerplate, DomBuilder, HtmlTables, HtmlTokenizer}
import graft.pdf.{PdfParser, PdfTables}
import graft.tables.Tables

/** The traced extraction passes. The engine's layers are private to
  * `Extractor.extract`, so spans are taken from outside: each document is
  * extracted once for real (span `extract`), and then the public function
  * of every layer that call used is called again on the same input, each
  * in its own span whose parent is that `extract` span. The extract span's
  * self time, its duration minus the replayed children, is the work no
  * named layer accounts for (`extract.assemble_self`). */
object Layers {
  private val Extract = Tracer.id("extract")
  private val Sniff = Tracer.id("extract.sniff")
  private val Sha = Tracer.id("extract.sha256")
  private val Decode = Tracer.id("extract.decode")
  private val Tokenize = Tracer.id("html.tokenize")
  private val Dom = Tracer.id("html.dom_self")
  private val Boiler = Tracer.id("html.boilerplate")
  private val HTables = Tracer.id("html.tables")
  private val PdfParse = Tracer.id("pdf.parse")
  private val PTables = Tracer.id("pdf.tables")
  private val Enhance = Tracer.id("tables.enhance")
  private val Lang = Tracer.id("analyzers.langscript")
  private val Summary = Tracer.id("analyzers.summary")
  private val Other = Tracer.id("analyzers.other")
  private val EncIn = Tracer.id("encode.input_row")
  private val EncOut = Tracer.id("encode.docresult")

  private def contractInput(df: DataFrame): DataFrame =
    df.select(col("url"), col("warc_ts"), col("html"), col("lang"))

  /** The layer pass: decode each input row with the `InputRow` encoder,
    * extract it, encode the `DocResult`, then replay every layer call. */
  def replayPass(df: DataFrame, analysis: Boolean): Unit = {
    contractInput(df).queryExecution.toRdd.foreachPartition { rows =>
      val t = new TaskTrace
      val decodeRow = ExpressionEncoder[Pipeline.InputRow]().resolveAndBind().createDeserializer()
      val encodeDoc = ExpressionEncoder[DocResult]().createSerializer()
      var sink = 0L // uses every encoded row, so the JIT cannot drop the encoding
      var first = true
      rows.foreach { row =>
        if (first) {
          // both encoders build their projection on first use: not per-row cost
          encodeDoc(Extractor.extract("", null, Array.emptyByteArray, "", analysis))
          decodeRow(row)
          first = false
        }
        val docIdx = t.docs.length
        val t0 = System.nanoTime()
        val r = decodeRow(row)
        val t1 = System.nanoTime()
        val d = Extractor.extract(r.url, r.warc_ts, r.html, r.lang, analysis)
        val t2 = System.nanoTime()
        sink += encodeDoc(d).numFields
        val t3 = System.nanoTime()
        t.record(EncIn, t0, t1, -1, docIdx)
        val ex = t.record(Extract, t1, t2, -1, docIdx)
        t.record(EncOut, t2, t3, -1, docIdx)
        t.docs += replay(r, d, analysis, t, ex, docIdx)
      }
      if (sink == -1L) println(sink)
      Tracer.finish(t)
    }
  }

  /** Replays, span by span, the layer calls `Extractor.extract` made for
    * this row, in the order it makes them. */
  private def replay(r: Pipeline.InputRow, d: DocResult, analysis: Boolean,
      t: TaskTrace, ex: Int, di: Int): DocInfo = {
    val bytes = if (r.html == null) Array.emptyByteArray else r.html
    val format = t.span(Sniff, ex, di)(Extractor.sniffFormat(bytes))
    t.span(Sha, ex, di)(Extractor.sha256Hex(bytes))
    var pdfPages = 0
    var blocks = 0
    var content = 0
    var nTables = 0
    def enhance(matrices: Seq[Seq[Seq[String]]], page: Int => Int): Unit =
      matrices.zipWithIndex.foreach { case (m, k) =>
        nTables += 1
        t.span(Enhance, ex, di) {
          val e = Tables.enhance(m, page(k), k)
          e.toHtml.length + e.toMarkdown.length + e.toCsv.length
        }
      }
    format match {
      case "pdf" =>
        val doc = t.span(PdfParse, ex, di)(PdfParser.parse(bytes))
        if (doc.status != "error") {
          pdfPages = doc.pages.length
          val found = t.span(PTables, ex, di)(doc.pages.flatMap(PdfTables.detectAll(_)))
          enhance(found.map(_.matrix.map(_.toSeq)), k => found(k).page)
        }
      case "html" =>
        // Extractor's decoder differs from plain UTF-8 only for payloads
        // with a byte-order mark, which CorpusGen never writes
        val s = t.span(Decode, ex, di)(new String(bytes, StandardCharsets.UTF_8))
        val tokens = t.span(Tokenize, ex, di)(HtmlTokenizer.tokenize(s))
        val dom = t.span(Dom, ex, di)(DomBuilder.build(tokens))
        val segs = t.span(Boiler, ex, di) {
          val all = Boilerplate.segment(dom)
          Boilerplate.title(dom)
          all
        }
        blocks = segs.length
        content = segs.count(_.isContent)
        val found = t.span(HTables, ex, di)(HtmlTables.extract(dom).filter(_.nonEmpty))
        enhance(found.map(_.map(_.toSeq)), _ => 1)
      case _ => // empty and image payloads stop at the sniff
    }
    if (d.status == "ok") {
      val text = d.fullText
      t.span(Lang, ex, di) {
        d.pages.foreach { p =>
          val page = text.substring(p.start, p.end)
          LangScript.pageStats(page)
          LangScript.detectLanguage(page)
        }
        if (d.pages.length != 1) LangScript.detectScript(text)
      }
      if (analysis) {
        val tokens = t.span(Other, ex, di)(TextAnalyzer.tokenize(text))
        t.span(Other, ex, di) {
          TextAnalyzer.docTypeAndCategoriesFoldCase(text)
          TextAnalyzer.wordCloudFromTokens(tokens)
        }
        t.span(Summary, ex, di)(TextAnalyzer.summarize(text, tokens))
        t.span(Other, ex, di) {
          TextAnalyzer.keywordsFromTokens(tokens)
          TextAnalyzer.entities(text)
        }
      }
    }
    DocInfo(Inputs.indexOfUrl(r.url), bytes.length, format, d.status, pdfPages,
      blocks, content, nTables)
  }

  /** Per-layer figures from the traces of `passes` replay passes. Every
    * `*_us_per_doc` divides by all documents traced, so the layers of one
    * document class add up to `extract.total_us_per_doc`; status counts
    * are per pass. */
  def summarize(traces: Seq[TaskTrace], passes: Int): Map[String, Double] = {
    val nLayers = Tracer.Layers.length
    // nanoseconds by [class][layer]; class 0 = typical, 1 = mega
    val ns = Array.ofDim[Double](2, nLayers)
    val childNs = Array.ofDim[Double](2)
    val docsBy = Array.ofDim[Double](2)
    val kbBy = Array.ofDim[Double](2)
    var pdfDocs, pdfPages, tables, blocks, content = 0.0
    val status = scala.collection.mutable.Map[String, Double]().withDefaultValue(0.0)
    traces.foreach { t =>
      t.docs.foreach { d =>
        val c = if (d.mega) 1 else 0
        docsBy(c) += 1; kbBy(c) += d.sizeBytes / 1024.0
        if (d.format == "pdf") { pdfDocs += 1; pdfPages += d.pdfPages }
        tables += d.tables; blocks += d.blocks; content += d.contentBlocks
        status(d.status) += 1
      }
      var i = 0
      while (i < t.size) {
        val c = if (t.docs(t.docOf(i)).mega) 1 else 0
        ns(c)(t.layerOf(i)) += t.nanos(i)
        if (t.parentOf(i) >= 0) childNs(c) += t.nanos(i)
        i += 1
      }
    }
    val docs = docsBy.sum
    require(docs > 0, "the replay pass traced no documents")
    def us(layer: String, cls: Seq[Int] = Seq(0, 1)): Double = cls.map(ns(_)(Tracer.id(layer))).sum / 1e3
    def assembleUs(cls: Seq[Int]): Double = us("extract", cls) - cls.map(childNs(_)).sum / 1e3
    val total = us("extract")
    val m = Map.newBuilder[String, Double]
    Tracer.Layers.filter(l => l != "extract").foreach { l => m += s"${l}_us_per_doc" -> us(l) / docs }
    m += "extract.total_us_per_doc" -> total / docs
    m += "extract.assemble_self_us_per_doc" -> assembleUs(Seq(0, 1)) / docs
    m += "extract.named_share" -> (total - assembleUs(Seq(0, 1))) / total
    Seq(0 -> "typical", 1 -> "mega").foreach { case (c, name) =>
      m += s"extract.us_per_kb.$name" -> (if (kbBy(c) > 0) us("extract", Seq(c)) / kbBy(c) else 0.0)
      m += s"extract.share.$name" -> us("extract", Seq(c)) / total
      val perDoc = if (docsBy(c) > 0) 1.0 / docsBy(c) else 0.0
      Seq("extract", "html.tokenize", "html.dom_self", "html.boilerplate",
        "analyzers.langscript", "analyzers.summary", "analyzers.other").foreach { l =>
        val key = if (l == "extract") "extract.total" else l
        m += s"class.$name.${key}_us_per_doc" -> us(l, Seq(c)) * perDoc
      }
      m += s"class.$name.extract.assemble_self_us_per_doc" -> assembleUs(Seq(c)) * perDoc
    }
    m += "html.content_block_ratio" -> (if (blocks > 0) content / blocks else 0.0)
    m += "pdf.pages_per_doc" -> (if (pdfDocs > 0) pdfPages / pdfDocs else 0.0)
    m += "tables.enhance_us_per_table" -> (if (tables > 0) us("tables.enhance") / tables else 0.0)
    Seq("ok", "empty", "error", "unsupported", "oversize").foreach(s => m += s"extract.status.$s" -> status(s) / passes)
    m.result()
  }

  def writeSpans(traces: Seq[TaskTrace], path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val w = java.nio.file.Files.newBufferedWriter(path, StandardCharsets.UTF_8)
    try {
      w.write("task\tspan\tparent\tlayer\trow_index\tstart_ns\tend_ns\n")
      traces.zipWithIndex.foreach { case (t, k) => t.writeTsv(w, k) }
    } finally w.close()
  }
}
