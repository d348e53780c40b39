package graft.extract

import java.nio.charset.StandardCharsets
import java.sql.Timestamp

import graft.analyzers.{LangScript, PyText, TextAnalyzer}
import graft.html.Boilerplate
import graft.pdf.{PdfParser, PdfTables}

/** Per-document extraction: format sniff → route → parse → assemble the
  * DocResult tree. Pure function of the payload bytes — runs inside a
  * typed Dataset map stage (SURVEY.md §3.4); never throws.
  *
  * Routing mirrors the reference's route-before-compute design
  * (`ocr_engine.py:875-1025,1290-1343`): cheap magic-byte sniff replaces
  * per-page analysis since the heavy branches here are HTML vs PDF.
  * Assembly semantics: page-break join E4 (`ocr_engine.py:1086`), line /
  * block construction E5 (`:1064-1078`), direct-extraction confidence
  * 0.99 (`:1080-1090`), signatures E6-E8 (`:618-771`). */
object Extractor {

  val PageBreak = "\n\n--- PAGE BREAK ---\n\n"
  private val pageBreakScan = LangScript.scan(PageBreak)
  val DirectConfidence = 0.99

  /** Magic-byte format sniff (SURVEY.md S3, `smart_router.py:146-164`,
    * same format vocabulary as the reference's extension map). Image
    * formats are detected here so the S8 gate can quarantine them —
    * without this a JPEG payload decodes as mojibake "HTML" with
    * status ok (`ocr_engine.py:1432-1442` handles png/jpg/tiff/bmp/
    * webp/gif explicitly; our deterministic engine has no OCR branch,
    * so they become status `unsupported` and count as failures in the
    * lineage tally). */
  def sniffFormat(bytes: Array[Byte]): String = {
    if (bytes == null || bytes.isEmpty) return "empty"
    if (startsWith(bytes, "%PDF-")) return "pdf"
    if (bytes.length >= 4) {
      def at(i: Int, v: Int): Boolean = (bytes(i) & 0xFF) == v
      if (at(0, 0x89) && at(1, 'P') && at(2, 'N') && at(3, 'G')) return "png"
      if (at(0, 0xFF) && at(1, 0xD8) && at(2, 0xFF)) return "jpg"
      if (at(0, 'G') && at(1, 'I') && at(2, 'F') && at(3, '8')) return "gif"
      if (bytes.length >= 12 &&
          at(0, 'R') && at(1, 'I') && at(2, 'F') && at(3, 'F') &&
          at(8, 'W') && at(9, 'E') && at(10, 'B') && at(11, 'P')) return "webp"
      if ((at(0, 'I') && at(1, 'I') && at(2, 0x2A) && at(3, 0)) ||
          (at(0, 'M') && at(1, 'M') && at(2, 0) && at(3, 0x2A))) return "tiff"
      if (at(0, 'B') && at(1, 'M')) return "bmp"
    }
    // whitespace-only?
    var i = 0
    var allWs = true
    while (i < bytes.length && allWs) {
      val b = bytes(i)
      if (!(b == ' ' || b == '\n' || b == '\r' || b == '\t' || b == '\f')) allWs = false
      i += 1
    }
    if (allWs) return "empty"
    "html" // default: treat text-ish payloads as HTML (tokenizer degrades to text)
  }

  /** Image formats the reference routes to its OCR models — gated to
    * status `unsupported` here (S8; the deterministic engine has no OCR). */
  private val imageFormats = Set("png", "jpg", "gif", "webp", "tiff", "bmp")

  /** Decode a text-ish payload honoring its byte-order mark: UTF-16LE
    * (FF FE), UTF-16BE (FE FF) and UTF-8 (EF BB BF) BOMs are consumed
    * and the right JDK charset decodes the rest; BOM-less bytes decode
    * as UTF-8, the crawl-world default. Real Common-Crawl payloads
    * include UTF-16 pages (`FF FE 3C 00 ...`); before this they fell
    * through to the UTF-8 branch and extracted NUL-riddled mojibake
    * with status ok. */
  private[extract] def decodeText(bytes: Array[Byte]): String = {
    if (bytes.length >= 2) {
      val b0 = bytes(0) & 0xFF
      val b1 = bytes(1) & 0xFF
      if (b0 == 0xFE && b1 == 0xFF)
        return new String(bytes, 2, bytes.length - 2, StandardCharsets.UTF_16BE)
      if (b0 == 0xFF && b1 == 0xFE)
        return new String(bytes, 2, bytes.length - 2, StandardCharsets.UTF_16LE)
      if (bytes.length >= 3 && b0 == 0xEF && b1 == 0xBB && (bytes(2) & 0xFF) == 0xBF)
        return new String(bytes, 3, bytes.length - 3, StandardCharsets.UTF_8)
    }
    new String(bytes, StandardCharsets.UTF_8)
  }

  private def startsWith(bytes: Array[Byte], prefix: String): Boolean = {
    if (bytes.length < prefix.length) return false
    var i = 0
    while (i < prefix.length) {
      if (bytes(i) != prefix.charAt(i)) return false
      i += 1
    }
    true
  }

  private val hexChars = "0123456789abcdef".toCharArray
  private val mdLocal: ThreadLocal[java.security.MessageDigest] =
    ThreadLocal.withInitial(() => java.security.MessageDigest.getInstance("SHA-256"))

  def sha256Hex(bytes: Array[Byte]): String = {
    val md = mdLocal.get()
    md.reset()
    val d = md.digest(if (bytes == null) Array.emptyByteArray else bytes)
    val out = new Array[Char](64)
    var i = 0
    while (i < 32) {
      out(i * 2) = hexChars((d(i) >> 4) & 0xF)
      out(i * 2 + 1) = hexChars(d(i) & 0xF)
      i += 1
    }
    new String(out)
  }

  /** E7 drawings-intersection check for PDFs (`ocr_engine.py:700-735`):
    * a signature text pattern (`ocr_engine.py:669-735`; the patterns
    * live with the page kernel, `LangScript.scan`) counts as handwritten
    * only when vector drawings intersect the band below its text run —
    * x ∈ [x0 − 20, x1 + 150], 60 pt below the baseline (PDF y-up; the
    * reference expands rect.y1 down 60 pt). Drawings in our documented
    * subset are the content stream's `re` rects (the same primitives the
    * E9 table detector consumes); run width is approximated at 6 pt/char
    * since the parser does not track glyph metrics. This is the
    * difference between "mentions signature" and "has a signature
    * region": a label with nothing drawn under it no longer flags. */
  private[extract] def pdfHandwrittenSignature(doc: graft.pdf.PdfParser.PdfDoc): Boolean = {
    doc.pages.exists { p =>
      p.rects.nonEmpty && p.runs.exists { r =>
        LangScript.scan(r.text).sigPattern && {
          val x0 = r.x - 20
          val x1 = r.x + 6.0 * r.text.length + 150
          val yTop = r.y
          val yBot = r.y - 60
          p.rects.exists(rc =>
            rc.x <= x1 && rc.x + rc.w >= x0 &&
            rc.y <= yTop && rc.y + rc.h >= yBot)
        }
      }
    }
  }

  /** Extract one payload into its DocResult.
    *
    * @param analysis run the doc-level analyzer suite (T4-T12: word
    *   cloud, summary, doc type, keywords, entities). The extraction
    *   contract (text, spans, pages, language, structure) is unaffected;
    *   callers that only consume the contract columns pass false — the
    *   compute analog of column pruning (the reference also runs
    *   doc_analyzer only when building the enhanced output,
    *   `ocr_engine.py:1826-1833`).
    * @param unruledTables also run the heuristic whitespace-aligned
    *   table detector on PDF pages (`PdfTables.detectUnruled`) —
    *   off by default (the text strategy can false-positive on
    *   coincidentally aligned prose, so callers opt in). */
  def extract(url: String, warcTs: Timestamp, payload: Array[Byte],
      langHint: String, analysis: Boolean = true,
      unruledTables: Boolean = false): DocResult = {
    val bytes = if (payload == null) Array.emptyByteArray else payload
    val format = sniffFormat(bytes)
    val hash = sha256Hex(bytes)
    try {
      format match {
        case "empty" =>
          emptyResult(url, warcTs, langHint, format, hash, bytes.length)
        case f if imageFormats.contains(f) =>
          unsupportedResult(url, warcTs, langHint, format, hash, bytes.length)
        case "pdf" =>
          val doc = PdfParser.parse(bytes)
          if (doc.status == "error")
            errorResult(url, warcTs, langHint, format, hash, bytes.length, doc.error)
          else {
            // E9: ruled tables from content-stream grid geometry
            // (+ whitespace-aligned tables when the caller opted in)
            val tables = doc.pages
              .flatMap(PdfTables.detectAll(_, includeUnruled = unruledTables))
              .zipWithIndex.map {
                case (t, idx) => toTableOut(t.matrix.map(_.toSeq), t.page, idx)
              }
            assemble(url, warcTs, langHint, format, hash, bytes.length,
              title = "",
              pageBlocks = doc.pages.map(p => Vector(("paragraph", p.text))),
              signatures = doc.signatures.map(s => SignatureOut(s.fieldName, s.signed)),
              tables = tables,
              pageImages = doc.pages.map(_.imageCount),
              pageCoverage = doc.pages.map(_.imageCoverage),
              handwrittenOverride = Some(pdfHandwrittenSignature(doc)),
              analysis = analysis)
          }
        case _ =>
          val htmlStr = decodeText(bytes)
          val dom = graft.html.DomBuilder.parse(htmlStr)
          val blocks = Boilerplate.segment(dom).filter(_.isContent)
          val title = Boilerplate.title(dom)
          val typed = blocks.map { b =>
            val bt = if (b.isHeading) "heading"
                     else if (b.tag == "li" || b.tag == "dd" || b.tag == "dt") "list_item"
                     else if (b.tag == "td" || b.tag == "th") "table_cell"
                     else "paragraph"
            (bt, b.text)
          }
          val htmlTables = graft.html.HtmlTables.extract(dom)
            .filter(_.nonEmpty).zipWithIndex
            .map { case (m, idx) => toTableOut(m.map(_.toSeq), page = 1, idx) }
          if (blocks.isEmpty)
            // table-only pages: no main-content text, but detected tables
            // and the title still belong on the result row
            emptyResult(url, warcTs, langHint, format, hash, bytes.length)
              .copy(title = title, tables = htmlTables)
          else assemble(url, warcTs, langHint, format, hash, bytes.length,
            title = title,
            pageBlocks = Vector(typed),
            signatures = Vector.empty,
            tables = htmlTables,
            analysis = analysis)
      }
    } catch {
      // StackOverflowError is included deliberately: pathological nesting
      // in crawled markup must fail THIS document (per-row failure path,
      // `local_queue.py:359-403`), not the Spark task — by catch time the
      // stack is unwound and the thread is healthy. Genuinely fatal VM
      // errors (OOM etc.) still propagate.
      case e @ (_: Exception | _: StackOverflowError) =>
        errorResult(url, warcTs, langHint, format, hash, bytes.length,
          s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}")
    }
  }

  /** V1–V6 enhancement of a detected raw matrix → flat TableOut row. */
  private def toTableOut(matrix: Seq[Seq[String]], page: Int, idx: Int): TableOut = {
    val t = graft.tables.Tables.enhance(matrix, page, idx)
    TableOut(t.tableId, t.page, t.rows, t.cols, t.hasHeader, t.headers,
      t.data, t.isFinancial, t.hasTotalRow, t.toHtml, t.toMarkdown, t.toCsv)
  }

  /** R1 per-page classification — the FULL `ocr_engine.py:926-970`
    * decision chain (thresholds MIN_CHARS_PER_PAGE = 50 at `:571`,
    * <10 chars & 0 images empty at `:926`), including the coverage
    * branches: significant images at coverage > 0.3, scanned page at
    * coverage > 0.7 with no text layer, mixed_content when a text layer
    * coexists with significant images. Coverage comes from the PDF
    * parser's CTM tracking of /Image `Do` placements over the MediaBox
    * area (`ocr_engine.py:911-925`).
    * Returns (pageType, extractionMethod, isDigital, isOcr, isMixed);
    * mixed pages count as BOTH digital and mixed, as in the reference's
    * roll-up (`:993-1023`). */
  def classifyPage(strippedChars: Int, imageCount: Int,
      imageCoverage: Double = 0.0)
      : (String, String, Boolean, Boolean, Boolean) = {
    val hasTextLayer = strippedChars >= 50
    val hasSignificantImages = imageCoverage > 0.3
    if (strippedChars < 10 && imageCount == 0)
      ("empty", "skip", false, false, false)
    else if (hasTextLayer && !hasSignificantImages)
      ("digital_text", "direct", true, false, false)
    else if (!hasTextLayer && imageCoverage > 0.7)
      ("scanned_image", "ocr", false, true, false)
    else if (hasTextLayer && hasSignificantImages)
      ("mixed_content", "hybrid", true, true, true)
    else if (imageCount > 0)
      ("image_with_text", "ocr", false, true, false)
    else
      ("scanned_image", "ocr", false, true, false)
  }

  /** R4 additive complexity 0-100 (`smart_router.py:218-242`): base 50,
    * size bands (>10 MB +20, >1 MB +10), page bands (>50 +20, >10 +10),
    * pdf +10, non-Latin language hint +15, capped at 100. */
  def complexityScore(sizeBytes: Long, pageCount: Int, format: String,
      langHint: String): Int = {
    var score = 50
    if (sizeBytes > 10L * 1024 * 1024) score += 20
    else if (sizeBytes > 1L * 1024 * 1024) score += 10
    if (pageCount > 50) score += 20
    else if (pageCount > 10) score += 10
    if (format == "pdf") score += 10
    if (Set("zh", "ja", "ko", "ar").contains(langHint)) score += 15
    math.min(100, score)
  }

  /** Assemble the full DocResult from per-page typed blocks. A page's
    * text is its blocks joined by '\n'; lines within a block = non-empty
    * stripped '\n'-splits, 1-based per page (E1/E5); spans are char
    * offsets into fullText (each page's slice is [page.start, page.end),
    * pages joined by PageBreak). Each page's text is scanned once
    * (`LangScript.scan`); the document's script and E7 flag are rolled
    * up from the page scans. */
  private def assemble(url: String, warcTs: Timestamp, langHint: String,
      format: String, hash: String, size: Long, title: String,
      pageBlocks: Seq[Seq[(String, String)]],
      signatures: Seq[SignatureOut], tables: Seq[TableOut] = Nil,
      pageImages: Seq[Int] = Nil, pageCoverage: Seq[Double] = Nil,
      // Some(x) = the caller already ran a geometry-aware handwriting
      // check (E7 drawings test, PDF path); None = fall back to the
      // text-pattern scan (HTML — no vector geometry exists there)
      handwrittenOverride: Option[Boolean] = None,
      analysis: Boolean = true): DocResult = {

    // a page's text is its blocks joined by '\n', so block and line spans
    // follow from the block lengths; one-element joins are not copied
    val pageTexts = pageBlocks.map(bs =>
      if (bs.length == 1) bs.head._2 else bs.iterator.map(_._2).mkString("\n"))
    val fullText =
      if (pageTexts.length == 1) pageTexts.head else pageTexts.mkString(PageBreak)

    val scans = pageTexts.map(LangScript.scan)
    var pageOffset = 0 // running start of the current page's fullText slice
    val pages = pageTexts.zipWithIndex.map { case (rawText, pi) =>
      val pStart = pageOffset
      pageOffset += rawText.length + PageBreak.length
      var lineNo = 0
      var cursor = 0 // start of the current block in rawText
      val blocks = pageBlocks(pi).flatMap { case (blockType, blockText) =>
        val start = cursor
        val len = blockText.length
        cursor += len + 1 // past the '\n' separator
        if (len == 0) None
        else {
          // lines = the non-empty stripped '\n'-splits of the block
          val lines = new scala.collection.mutable.ArrayBuffer[LineOut](4)
          var ls = 0
          while (ls <= len) {
            var le = blockText.indexOf('\n', ls)
            if (le < 0) le = len
            var a = ls; var b = le
            while (a < b && PyText.isPyWs(blockText.charAt(a))) a += 1
            while (b > a && PyText.isPyWs(blockText.charAt(b - 1))) b -= 1
            if (b > a) {
              lineNo += 1
              lines += LineOut(lineNo, pStart + start + a, pStart + start + b)
            }
            ls = le + 1
          }
          Some(BlockOut(blockType, pStart + start, pStart + start + len,
            DirectConfidence, lines.toSeq))
        }
      }
      val scan = scans(pi)
      val lr = LangScript.language(scan)
      val imgCount = if (pi < pageImages.length) pageImages(pi) else 0
      val coverage = if (pi < pageCoverage.length) pageCoverage(pi) else 0.0
      val (pType, pMethod, _, _, _) =
        classifyPage(scan.strippedLength, imgCount, coverage)
      PageOut(pi + 1, pStart, pStart + rawText.length,
        scan.charCount, scan.wordCount,
        scan.lineCount, scan.paragraphCount, lr.script, lr.detected,
        DirectConfidence, blocks, pType, pMethod, imgCount)
    }

    // R2 roll-up (`ocr_engine.py:993-1023`): the reference counts mixed
    // pages in BOTH digital_pages and mixed_pages; ocr_pages collects
    // scanned + image_with_text (NOT mixed — hybrid pages get the
    // 12 s/page term instead).
    val digitalCount = pages.count(p =>
      p.pageType == "digital_text" || p.pageType == "mixed_content")
    val ocrCount = pages.count(p =>
      p.pageType == "scanned_image" || p.pageType == "image_with_text")
    val mixedCount = pages.count(_.pageType == "mixed_content")
    val (structureV, strategyV, estTimeV) =
      if (ocrCount == 0 && mixedCount == 0)
        ("pure_digital", "direct_extraction", 0.05 * pages.length)
      else if (digitalCount == 0 && mixedCount == 0)
        ("pure_scanned", "full_ocr", 10.0 * pages.length)
      else
        ("mixed", "hybrid_extraction",
          0.05 * (digitalCount - mixedCount) + 10.0 * ocrCount + 12.0 * mixedCount)

    // doc-level analysis (doc_analyzer suite, T4-T12) in one pass —
    // skipped wholesale when the caller only consumes the extraction
    // contract
    val an = if (analysis) TextAnalyzer.analyze(fullText) else TextAnalyzer.NoAnalysis
    // E7 stays on with analysis off (signatureStatus is contract
    // metadata, not an analyzer); no pattern spans a PageBreak
    val handwritten = handwrittenOverride.getOrElse(scans.exists(_.sigPattern))
    val digital = signatures.nonEmpty
    val sigStatus =
      if (digital && handwritten) "both"
      else if (digital) "digitally_signed"
      else if (handwritten) "manually_signed"
      else "unsigned"

    // language roll-up: char-weighted argmax (T18, ocr_engine.py:1634-1639)
    val langWeights = pages.groupBy(_.language).view
      .mapValues(_.map(_.charCount.toLong).sum).toSeq
    val detectedLang =
      if (langWeights.isEmpty) "unknown"
      else langWeights.sortBy { case (l, w) => (-w, l) }.head._1

    val avgConf = if (pages.isEmpty) 0.0
      else pages.map(_.confidence).sum / pages.length
    val (clarityV, sourceV) = LangScript.clarity(avgConf)

    DocResult(
      url = url, warcTs = warcTs, lang = langHint, format = format,
      sha256 = hash, sizeBytes = size, status = "ok", error = "",
      title = title, pageCount = pages.length, fullText = fullText,
      pages = pages, signatures = signatures, signatureStatus = sigStatus,
      docType = an.docType, categories = an.categories, keywords = an.keywords,
      entities = an.entities,
      topWords = an.wordCloud.topWords.map(e => WordCloudOut(e.word, e.count, e.percentage)),
      summaryBrief = an.summary.brief, summaryDetailed = an.summary.detailed,
      keyPoints = an.summary.keyPoints,
      detectedLanguage = detectedLang,
      script = LangScript.joinedScript(scans, pageBreakScan),
      totalChars = pages.map(_.charCount.toLong).sum,
      totalWords = pages.map(_.wordCount.toLong).sum,
      avgConfidence = avgConf,
      confidenceLevel = LangScript.confidenceLevel(avgConf),
      clarity = clarityV, sourceType = sourceV,
      schemaVersion = "2.1",
      tables = tables,
      documentStructure = structureV,
      recommendedStrategy = strategyV,
      estimatedTimeSec = estTimeV,
      complexityScore = complexityScore(size, pages.length, format, langHint))
  }

  private def emptyResult(url: String, warcTs: Timestamp, langHint: String,
      format: String, hash: String, size: Long): DocResult =
    DocResult(url, warcTs, langHint, format, hash, size, "empty", "",
      "", 0, "", Nil, Nil, "unsigned", "other", Nil, Nil, Nil, Nil,
      "Document vide ou illisible.",
      "Le document ne contient pas de texte exploitable.",
      Nil, "unknown", "unknown", 0L, 0L, 0.0, "uncertain", "poor", "ocr", "2.1")

  private[extract] def errorResult(url: String, warcTs: Timestamp, langHint: String,
      format: String, hash: String, size: Long, err: String): DocResult =
    DocResult(url, warcTs, langHint, format, hash, size, "error", err,
      "", 0, "", Nil, Nil, "unsigned", "other", Nil, Nil, Nil, Nil,
      "", "", Nil, "unknown", "unknown", 0L, 0L, 0.0, "uncertain", "poor", "ocr", "2.1")

  /** S8 gate: image payloads the reference would OCR — quarantined with
    * a machine-readable status (counts as a failure in lineage). */
  private def unsupportedResult(url: String, warcTs: Timestamp,
      langHint: String, format: String, hash: String, size: Long): DocResult =
    errorResult(url, warcTs, langHint, format, hash, size,
      s"unsupported format: $format (image payloads need the OCR branch, " +
        "replaced per north rule)")
      .copy(status = "unsupported",
        complexityScore = complexityScore(size, 0, format, langHint))
}
