package graft.pdf

import java.nio.charset.StandardCharsets
import scala.collection.mutable.{ArrayBuffer, HashMap => MHashMap}

/** From-scratch minimal PDF reader + text extractor (SURVEY.md §2.3 E1,
  * §7.1 step 4). Replaces the reference's PyMuPDF direct-extraction path
  * (`idp_pipeline/models/ocr_engine.py:1027-1120`, `page.get_text("text")`)
  * with a pure-Scala parser for the documented closed-world subset:
  *
  *  - classic xref tables or brute-force `N G obj` scan (robust to both)
  *  - object model: dicts, arrays, names, numbers, literal + hex strings,
  *    indirect references, streams (raw or FlateDecode via
  *    java.util.zip.Inflater)
  *  - page tree traversal (/Type /Pages /Kids, /Type /Page /Contents)
  *  - content-stream text operators: BT ET Tf Td TD Tm T* TL Tj TJ ' "
  *  - glyph runs clustered into lines by text-space y (top-to-bottom),
  *    runs within a line ordered by x (reading order) —
  *    `get_text("text")`-equivalent for the fixture corpus
  *  - AcroForm signature fields: /FT /Sig (SURVEY.md E6,
  *    `ocr_engine.py:618-667`)
  *
  * Latin-1 text decode (fixtures are WinAnsi/ASCII). Never throws on
  * malformed input: returns PdfDoc(status = "error", ...) instead.
  */
object PdfParser {

  sealed trait PdfObj
  final case class PNum(v: Double) extends PdfObj
  final case class PStr(bytes: Array[Byte]) extends PdfObj
  final case class PName(v: String) extends PdfObj
  final case class PBool(v: Boolean) extends PdfObj
  case object PNull extends PdfObj
  final case class PArr(items: Vector[PdfObj]) extends PdfObj
  final case class PDict(entries: Map[String, PdfObj]) extends PdfObj {
    def get(k: String): Option[PdfObj] = entries.get(k)
  }
  final case class PRef(num: Int, gen: Int) extends PdfObj
  final case class PStream(dict: PDict, data: Array[Byte]) extends PdfObj

  final case class SigField(fieldName: String, signed: Boolean)
  final case class PdfLine(text: String, x: Double, y: Double)
  /** A positioned text run (pre-line-clustering) — input to table-cell
    * assignment (E9). */
  final case class TextRun(text: String, x: Double, y: Double)
  /** An `x y w h re` rectangle from the content stream — ruled-table
    * grid lines are thin rects (SURVEY.md E9). */
  final case class Rect(x: Double, y: Double, w: Double, h: Double)
  final case class PdfPage(number: Int, lines: Vector[PdfLine],
      runs: Vector[TextRun] = Vector.empty, rects: Vector[Rect] = Vector.empty,
      imageCount: Int = 0,
      // Σ placed-image area / page area, clamped to [0,1] — the R1
      // coverage input (reference: page.get_image_rects over MediaBox,
      // `ocr_engine.py:911-925`). Placement = `Do` of an /Image XObject
      // under the CTM at that point (unit square × |det CTM| = area).
      imageCoverage: Double = 0.0) {
    def text: String = lines.map(_.text).mkString("\n")
  }
  final case class PdfDoc(
      pages: Vector[PdfPage],
      signatures: Vector[SigField],
      status: String,
      error: String)

  /** Bytes one document may inflate, summed over all of its streams: a
    * Flate bomb (kilobytes that inflate to gigabytes) fails its document
    * with status "error" instead of running the executor out of memory.
    * Text content and object streams of real documents stay far below. */
  val MaxInflatedBytes: Long = 64L << 20

  /** What is left of one document's [[MaxInflatedBytes]]. */
  private final class InflateBudget {
    var left: Long = MaxInflatedBytes
    def exceeded: Boolean = left < 0
  }

  def parse(bytes: Array[Byte]): PdfDoc = {
    try {
      val budget = new InflateBudget
      val objs = scanObjects(bytes, budget)
      val resolver = new Resolver(objs)
      val pageDicts = findPages(resolver)
      val pages = pageDicts.zipWithIndex.map { case (pd, i) =>
        val content = contentBytes(pd, resolver, budget)
        val imgNames = imageXObjectNames(pd, resolver)
        val (lines, runs, rects, imgArea) = extractContent(content, imgNames)
        val area = pageArea(pd, resolver)
        val coverage = if (area > 0) math.min(1.0, imgArea / area) else 0.0
        PdfPage(i + 1, lines, runs, rects, imgNames.size, coverage)
      }
      val sigs = findSignatures(resolver)
      if (budget.exceeded)
        PdfDoc(Vector.empty, Vector.empty, "error",
          s"inflated streams exceed $MaxInflatedBytes bytes")
      else PdfDoc(pages, sigs, "ok", "")
    } catch {
      case e @ (_: Exception | _: StackOverflowError) =>
        PdfDoc(Vector.empty, Vector.empty, "error",
          s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}")
    }
  }

  /** Cheap page count without full text extraction (SURVEY.md S5,
    * `smart_router.py:187-196`). */
  def pageCount(bytes: Array[Byte]): Int = {
    try {
      val resolver = new Resolver(scanObjects(bytes, new InflateBudget))
      findPages(resolver).length
    } catch { case _: Exception | _: StackOverflowError => 0 }
  }

  // ---------------------------------------------------------------- objects

  private final class Resolver(objs: Map[Int, PdfObj]) {
    def resolve(o: PdfObj): PdfObj = resolve(o, 0)
    private def resolve(o: PdfObj, depth: Int): PdfObj = o match {
      // depth cap breaks reference cycles (1 0 obj 2 0 R / 2 0 obj 1 0 R)
      // that would otherwise recurse forever (never-throws contract)
      case PRef(_, _) if depth > 64 => PNull
      case PRef(num, _) => objs.get(num).map(resolve(_, depth + 1)).getOrElse(PNull)
      case other => other
    }
    def all: Iterator[PdfObj] = objs.valuesIterator
  }

  /** Brute-force scan for `N G obj ... endobj` — robust to broken xref
    * tables (the adversarial fixtures include truncated files). */
  private def scanObjects(bytes: Array[Byte], budget: InflateBudget): Map[Int, PdfObj] = {
    val out = MHashMap.empty[Int, PdfObj]
    val n = bytes.length
    var i = 0
    while (i < n - 3) {
      if (bytes(i) == 'o' && bytes(i + 1) == 'b' && bytes(i + 2) == 'j' &&
          (i + 3 >= n || isDelim(bytes(i + 3)))) {
        // walk back: whitespace, gen number, whitespace, obj number
        var j = i - 1
        while (j >= 0 && isWs(bytes(j))) j -= 1
        val genEnd = j
        while (j >= 0 && isDigit(bytes(j))) j -= 1
        val genStart = j + 1
        while (j >= 0 && isWs(bytes(j))) j -= 1
        val numEnd = j
        while (j >= 0 && isDigit(bytes(j))) j -= 1
        val numStart = j + 1
        if (genEnd >= genStart && numEnd >= numStart) {
          val num = new String(bytes, numStart, numEnd - numStart + 1, StandardCharsets.US_ASCII).toInt
          val lexer = new Lexer(bytes, i + 3)
          try {
            val obj = lexer.parseObject()
            val withStream = lexer.maybeStream(obj)
            out(num) = withStream
            // jump past stream bodies so PDF syntax INSIDE stream data
            // (e.g. an embedded PDF attachment) cannot register ghost
            // objects that shadow the real ones
            withStream match {
              case _: PStream => i = math.max(i, lexer.pos - 1)
              case _ =>
            }
          } catch { case _: Exception => /* skip malformed object */ }
        }
      }
      i += 1
    }
    expandObjectStreams(out, budget)
    out.toMap
  }

  /** PDF 1.5+ compressed object streams: any /Type /ObjStm stream holds
    * /N objects serialized after a header of N (objnum, offset) pairs
    * starting at /First. Decode (FlateDecode typically) and register the
    * contained objects; directly-defined objects win on conflict (they
    * were visible to the brute scan and are what a classic-xref reader
    * would use). Common-Crawl PDFs are predominantly 1.5+ — without this
    * the page tree of such files is invisible. */
  private def expandObjectStreams(out: MHashMap[Int, PdfObj],
      budget: InflateBudget): Unit = {
    val streams = out.values.collect {
      case s @ PStream(d, _) if nameOf(d, "Type").contains("ObjStm") => s
    }.toVector
    streams.foreach { s =>
      try {
        val data = decodeStream(s.dict, s.data, budget)
        val nObjs = s.dict.get("N") match {
          case Some(PNum(v)) => v.toInt
          case _ => 0
        }
        val first = s.dict.get("First") match {
          case Some(PNum(v)) => v.toInt
          case _ => 0
        }
        if (nObjs > 0 && first > 0 && first <= data.length) {
          // header: N pairs of integers (objnum offset-within-body)
          val header = new Lexer(data, 0)
          val pairs = (0 until math.min(nObjs, 100000)).flatMap { _ =>
            (header.parseObject(), header.parseObject()) match {
              case (PNum(num), PNum(off)) => Some((num.toInt, off.toInt))
              case _ => None
            }
          }
          pairs.foreach { case (num, off) =>
            if (first + off < data.length && !out.contains(num)) {
              try {
                val lx = new Lexer(data, first + off)
                out(num) = lx.parseObject()
              } catch { case _: Exception => /* skip malformed member */ }
            }
          }
        }
      } catch { case _: Exception => /* skip malformed ObjStm */ }
    }
  }

  private def isWs(b: Byte): Boolean =
    b == ' ' || b == '\n' || b == '\r' || b == '\t' || b == 0 || b == '\f'
  private def isDigit(b: Byte): Boolean = b >= '0' && b <= '9'
  private def isDelim(b: Byte): Boolean =
    isWs(b) || b == '<' || b == '>' || b == '[' || b == ']' || b == '(' || b == ')' || b == '/' || b == '%'

  /** Recursive-descent lexer/parser over raw bytes. */
  private final class Lexer(bytes: Array[Byte], var pos: Int) {
    private val n = bytes.length
    private var depth = 0 // array/dict nesting; capped to bound recursion

    private def enter(): Unit = {
      depth += 1
      if (depth > 128) throw new IllegalArgumentException(s"nesting too deep @ $pos")
    }
    private def exit(): Unit = depth -= 1

    /** Callers that catch parse exceptions and keep reusing this Lexer
      * (ContentLexer error recovery) must reset nesting — enter() is not
      * paired with exit() on the throw path, so ~128 malformed nested
      * objects would otherwise permanently trip the depth guard and
      * silently drop the rest of the page's text. */
    def resetDepth(): Unit = depth = 0

    def skipWs(): Unit = {
      var go = true
      while (go && pos < n) {
        if (isWs(bytes(pos))) pos += 1
        else if (bytes(pos) == '%') { while (pos < n && bytes(pos) != '\n') pos += 1 }
        else go = false
      }
    }

    def parseObject(): PdfObj = {
      skipWs()
      if (pos >= n) return PNull
      bytes(pos) match {
        case '/' => parseName()
        case '(' => parseLiteralString()
        case '[' => parseArray()
        case '<' =>
          if (pos + 1 < n && bytes(pos + 1) == '<') parseDict() else parseHexString()
        case 't' => expect("true"); PBool(true)
        case 'f' => expect("false"); PBool(false)
        case 'n' => expect("null"); PNull
        case _ => parseNumberOrRef()
      }
    }

    private def expect(word: String): Unit = {
      if (!regionIs(word)) throw new IllegalArgumentException(s"expected $word @ $pos")
      pos += word.length
    }

    private def regionIs(word: String): Boolean = {
      if (pos + word.length > n) return false
      var k = 0
      while (k < word.length) { if (bytes(pos + k) != word.charAt(k)) return false; k += 1 }
      true
    }

    def parseName(): PName = {
      pos += 1 // '/'
      val sb = new java.lang.StringBuilder(16)
      while (pos < n && !isDelim(bytes(pos))) {
        if (bytes(pos) == '#' && pos + 2 < n) {
          val hv = Integer.parseInt(new String(bytes, pos + 1, 2, StandardCharsets.US_ASCII), 16)
          sb.append(hv.toChar); pos += 3
        } else { sb.append((bytes(pos) & 0xFF).toChar); pos += 1 }
      }
      PName(sb.toString)
    }

    def parseLiteralString(): PStr = {
      pos += 1 // '('
      val out = new ArrayBuffer[Byte](32)
      var depth = 1
      while (pos < n && depth > 0) {
        val b = bytes(pos)
        if (b == '\\' && pos + 1 < n) {
          pos += 1
          bytes(pos) match {
            case 'n' => out += '\n'; pos += 1
            case 'r' => out += '\r'; pos += 1
            case 't' => out += '\t'; pos += 1
            case 'b' => out += '\b'; pos += 1
            case 'f' => out += '\f'; pos += 1
            case '(' => out += '('; pos += 1
            case ')' => out += ')'; pos += 1
            case '\\' => out += '\\'; pos += 1
            case '\r' => pos += 1; if (pos < n && bytes(pos) == '\n') pos += 1 // line continuation
            case '\n' => pos += 1
            case d if d >= '0' && d <= '7' =>
              var v = 0; var k = 0
              while (k < 3 && pos < n && bytes(pos) >= '0' && bytes(pos) <= '7') {
                v = v * 8 + (bytes(pos) - '0'); pos += 1; k += 1
              }
              out += (v & 0xFF).toByte
            case other => out += other; pos += 1
          }
        } else if (b == '(') { depth += 1; out += b; pos += 1 }
        else if (b == ')') { depth -= 1; if (depth > 0) out += b; pos += 1 }
        else { out += b; pos += 1 }
      }
      PStr(out.toArray)
    }

    def parseHexString(): PStr = {
      pos += 1 // '<'
      val out = new ArrayBuffer[Byte](16)
      var hi = -1
      while (pos < n && bytes(pos) != '>') {
        val c = bytes(pos).toChar
        val v = Character.digit(c, 16)
        if (v >= 0) { if (hi < 0) hi = v else { out += ((hi << 4) | v).toByte; hi = -1 } }
        pos += 1
      }
      if (hi >= 0) out += (hi << 4).toByte
      if (pos < n) pos += 1
      PStr(out.toArray)
    }

    def parseArray(): PArr = {
      enter()
      pos += 1 // '['
      val items = Vector.newBuilder[PdfObj]
      skipWs()
      while (pos < n && bytes(pos) != ']') {
        items += parseObject()
        skipWs()
      }
      if (pos < n) pos += 1
      exit()
      PArr(items.result())
    }

    def parseDict(): PDict = {
      enter()
      pos += 2 // '<<'
      val entries = Map.newBuilder[String, PdfObj]
      skipWs()
      while (pos < n && !(bytes(pos) == '>' && pos + 1 < n && bytes(pos + 1) == '>')) {
        if (bytes(pos) != '/') throw new IllegalArgumentException(s"dict key not a name @ $pos")
        val key = parseName().v
        val value = parseObject()
        entries += ((key, value))
        skipWs()
      }
      pos = math.min(pos + 2, n)
      exit()
      PDict(entries.result())
    }

    def parseNumberOrRef(): PdfObj = {
      val start = pos
      while (pos < n && (isDigit(bytes(pos)) || bytes(pos) == '+' || bytes(pos) == '-' || bytes(pos) == '.')) pos += 1
      if (pos == start) throw new IllegalArgumentException(s"not a number @ $pos")
      val s = new String(bytes, start, pos - start, StandardCharsets.US_ASCII)
      val num = s.toDouble
      // lookahead for "G R" (indirect reference)
      if (num >= 0 && num == math.floor(num) && !s.contains('.')) {
        val save = pos
        skipWs()
        val genStart = pos
        while (pos < n && isDigit(bytes(pos))) pos += 1
        if (pos > genStart) {
          val gen = new String(bytes, genStart, pos - genStart, StandardCharsets.US_ASCII).toInt
          skipWs()
          if (pos < n && bytes(pos) == 'R' && (pos + 1 >= n || isDelim(bytes(pos + 1)))) {
            pos += 1
            return PRef(num.toInt, gen)
          }
        }
        pos = save
      }
      PNum(num)
    }

    /** After a dict, check for `stream ... endstream`. A direct /Length
      * is honored first (spec-exact; also prevents PDF-syntax INSIDE the
      * stream data from being mistaken for object space); the endstream
      * scan is the fallback for indirect /Length refs. */
    def maybeStream(obj: PdfObj): PdfObj = obj match {
      case dict: PDict =>
        skipWs()
        if (regionIs("stream")) {
          pos += 6
          if (pos < n && bytes(pos) == '\r') pos += 1
          if (pos < n && bytes(pos) == '\n') pos += 1
          val start = pos
          val direct: Option[Int] = dict.get("Length") match {
            case Some(PNum(v)) if v >= 0 && v == math.floor(v) &&
              start + v.toLong <= n => Some(v.toInt)
            case _ => None
          }
          val viaLength = direct.filter { len =>
            // validate: "endstream" follows within 2 EOL bytes
            var p = start + len
            if (p < n && bytes(p) == '\r') p += 1
            if (p < n && bytes(p) == '\n') p += 1
            p + 9 <= n && regionIsAt(p, "endstream")
          }
          viaLength match {
            case Some(len) =>
              val data = java.util.Arrays.copyOfRange(bytes, start, start + len)
              var p = start + len
              if (p < n && bytes(p) == '\r') p += 1
              if (p < n && bytes(p) == '\n') p += 1
              pos = p + 9
              PStream(dict, data)
            case None =>
              val end = indexOf("endstream", start)
              val rawEnd = if (end < 0) n else end
              var dataEnd = rawEnd
              // strip the EOL that precedes endstream
              if (dataEnd > start && bytes(dataEnd - 1) == '\n') dataEnd -= 1
              if (dataEnd > start && bytes(dataEnd - 1) == '\r') dataEnd -= 1
              val data = java.util.Arrays.copyOfRange(bytes, start, dataEnd)
              pos = if (end < 0) n else end + 9
              PStream(dict, data)
          }
        } else dict
      case other => other
    }

    private def regionIsAt(at: Int, word: String): Boolean = {
      if (at + word.length > n) return false
      var k = 0
      while (k < word.length) { if (bytes(at + k) != word.charAt(k)) return false; k += 1 }
      true
    }

    private def indexOf(needle: String, from: Int): Int = {
      val m = needle.length
      var i = from
      while (i + m <= n) {
        var k = 0
        while (k < m && bytes(i + k) == needle.charAt(k)) k += 1
        if (k == m) return i
        i += 1
      }
      -1
    }
  }

  // ------------------------------------------------------------- page tree

  private def findPages(r: Resolver): Vector[PDict] = {
    // find the catalog; fall back to collecting all /Type /Page objects
    val catalog = r.all.collectFirst {
      case d: PDict if nameOf(d, "Type").contains("Catalog") => d
    }
    val viaTree = catalog.flatMap { cat =>
      cat.get("Pages").map(r.resolve).collect { case pagesDict: PDict =>
        collectKids(pagesDict, r)
      }
    }
    viaTree.filter(_.nonEmpty).getOrElse {
      r.all.collect {
        case d: PDict if nameOf(d, "Type").contains("Page") => d
        case PStream(d, _) if nameOf(d, "Type").contains("Page") => d
      }.toVector
    }
  }

  private def collectKids(node: PDict, r: Resolver, depth: Int = 0): Vector[PDict] = {
    if (depth > 32) return Vector.empty // cyclic /Kids guard
    nameOf(node, "Type") match {
      case Some("Page") => Vector(node)
      case _ =>
        node.get("Kids").map(r.resolve) match {
          case Some(PArr(kids)) =>
            kids.flatMap(k => r.resolve(k) match {
              case d: PDict => collectKids(d, r, depth + 1)
              case _ => Vector.empty
            })
          case _ => Vector.empty
        }
    }
  }

  private def nameOf(d: PDict, key: String): Option[String] =
    d.get(key).collect { case PName(v) => v }

  /** Names of /Subtype /Image XObjects in the page's resource dict —
    * their size is the image_count input to R1 page classification (the
    * reference's `page.get_images`, `ocr_engine.py:906-908`); the names
    * let extractContent attribute `Do` placements to images for the
    * coverage computation. Images placed via nested Form XObjects are
    * out of the documented subset. */
  private def imageXObjectNames(page: PDict, r: Resolver): Set[String] = {
    r.resolve(page.get("Resources").getOrElse(PNull)) match {
      case res: PDict =>
        r.resolve(res.get("XObject").getOrElse(PNull)) match {
          case xo: PDict =>
            xo.entries.iterator.collect {
              case (name, v) if (r.resolve(v) match {
                  case PStream(d, _) => nameOf(d, "Subtype").contains("Image")
                  case _ => false
                }) => name
            }.toSet
          case _ => Set.empty
        }
      case _ => Set.empty
    }
  }

  /** Page area from /MediaBox, inherited through /Parent per the spec;
    * US-Letter fallback when absent (the reference's page.rect always
    * exists because PyMuPDF applies the same defaulting). */
  private def pageArea(page: PDict, r: Resolver): Double = {
    var node: PdfObj = page
    var depth = 0
    while (depth < 32) {
      node match {
        case d: PDict =>
          d.get("MediaBox").map(r.resolve) match {
            case Some(PArr(items)) if items.length >= 4 =>
              val v = items.map(o => num(r.resolve(o)))
              return math.abs((v(2) - v(0)) * (v(3) - v(1)))
            case _ =>
              d.get("Parent") match {
                case Some(p) => node = r.resolve(p); depth += 1
                case None => return 612.0 * 792.0
              }
          }
        case _ => return 612.0 * 792.0
      }
    }
    612.0 * 792.0
  }

  private def contentBytes(page: PDict, r: Resolver,
      budget: InflateBudget): Array[Byte] = {
    def streamData(o: PdfObj): Array[Byte] = r.resolve(o) match {
      case PStream(dict, raw) => decodeStream(dict, raw, budget)
      case _ => Array.emptyByteArray
    }
    page.get("Contents") match {
      case Some(PArr(items)) => items.toArray.flatMap(streamData)
      case Some(o) =>
        r.resolve(o) match {
          case PArr(items) => items.toArray.flatMap(streamData)
          case s: PStream => decodeStream(s.dict, s.data, budget)
          case _ => Array.emptyByteArray
        }
      case None => Array.emptyByteArray
    }
  }

  private def decodeStream(dict: PDict, raw: Array[Byte],
      budget: InflateBudget): Array[Byte] = {
    val filters: Vector[String] = dict.get("Filter") match {
      case Some(PName(f)) => Vector(f)
      case Some(PArr(fs)) => fs.collect { case PName(f) => f }
      case _ => Vector.empty
    }
    filters.foldLeft(raw) { (data, f) =>
      f match {
        case "FlateDecode" => inflate(data, budget)
        case "ASCIIHexDecode" => asciiHexDecode(data)
        case _ => data // unsupported filter — pass through (documented subset)
      }
    }
  }

  /** Inflates `data`, charging the output to `budget`; once the budget is
    * spent every stream decodes empty and `parse` fails the document. */
  private def inflate(data: Array[Byte], budget: InflateBudget): Array[Byte] = {
    if (budget.exceeded) return Array.emptyByteArray
    val inf = new java.util.zip.Inflater()
    try {
      inf.setInput(data)
      val out = new java.io.ByteArrayOutputStream(
        math.max(64L, math.min(data.length * 4L, budget.left)).toInt)
      val buf = new Array[Byte](8192)
      while (!inf.finished() && !inf.needsInput()) {
        val k = inf.inflate(buf)
        if (k == 0 && !inf.finished()) return out.toByteArray // truncated
        budget.left -= k
        if (budget.exceeded) return Array.emptyByteArray
        out.write(buf, 0, k)
      }
      out.toByteArray
    } catch {
      case _: Exception => Array.emptyByteArray
    } finally inf.end()
  }

  private def asciiHexDecode(data: Array[Byte]): Array[Byte] = {
    val out = new ArrayBuffer[Byte](data.length / 2)
    var hi = -1
    var i = 0
    var stop = false
    while (i < data.length && !stop) {
      val c = data(i).toChar
      if (c == '>') stop = true
      else {
        val v = Character.digit(c, 16)
        if (v >= 0) { if (hi < 0) hi = v else { out += ((hi << 4) | v).toByte; hi = -1 } }
      }
      i += 1
    }
    if (hi >= 0) out += (hi << 4).toByte
    out.toArray
  }

  // ----------------------------------------------------- content stream ops

  /** Execute the text operators of one page's content stream, collecting
    * positioned text runs; cluster into lines by y (tolerance 2pt, PDF
    * y-axis points up so reading order = y descending), x ascending.
    * Also collects `re` rectangles (ruled-table grid lines, E9) and
    * tracks the graphics state (q/Q/cm) so `Do` placements of /Image
    * XObjects accumulate placed-image area (R1 coverage): an image draws
    * into the unit square mapped through the CTM, so its placed area is
    * |det CTM| = |a·d − b·c|. */
  private def extractContent(content: Array[Byte],
      imageNames: Set[String] = Set.empty)
      : (Vector[PdfLine], Vector[TextRun], Vector[Rect], Double) = {
    val runs = new ArrayBuffer[TextRun](32)
    val rects = new ArrayBuffer[Rect](8)
    val lexer = new ContentLexer(content)

    // text state
    var tlm = Matrix.identity // text line matrix
    var tm = Matrix.identity  // text matrix
    var leading = 0.0
    // graphics state: CTM + the q/Q stack (only the CTM component is
    // modeled — color/clip state does not affect text or coverage)
    var ctm = Matrix.identity
    val gsStack = new ArrayBuffer[Matrix](4)
    var imageArea = 0.0
    val operands = new ArrayBuffer[PdfObj](8)

    def showText(bytes: Array[Byte]): Unit = {
      val s = new String(bytes, StandardCharsets.ISO_8859_1)
      if (s.nonEmpty) runs += TextRun(s, tm.e, tm.f)
      // glyph-width advance is not tracked (fixtures position runs explicitly)
    }

    def nextLine(tx: Double, ty: Double): Unit = {
      tlm = Matrix.translate(tx, ty).multiply(tlm)
      tm = tlm
    }

    var tok = lexer.next()
    while (tok != null) {
      tok match {
        case Left(obj) => operands += obj
        case Right(op) =>
          op match {
            case "BT" => tlm = Matrix.identity; tm = Matrix.identity
            case "ET" =>
            case "Td" if operands.length >= 2 =>
              nextLine(num(operands(operands.length - 2)), num(operands.last))
            case "TD" if operands.length >= 2 =>
              leading = -num(operands.last)
              nextLine(num(operands(operands.length - 2)), num(operands.last))
            case "Tm" if operands.length >= 6 =>
              val o = operands.takeRight(6).map(num)
              tlm = Matrix(o(0), o(1), o(2), o(3), o(4), o(5))
              tm = tlm
            case "T*" => nextLine(0, -leading)
            case "TL" if operands.nonEmpty => leading = num(operands.last)
            case "Tj" if operands.nonEmpty =>
              operands.last match { case PStr(b) => showText(b); case _ => }
            case "'" if operands.nonEmpty =>
              nextLine(0, -leading)
              operands.last match { case PStr(b) => showText(b); case _ => }
            case "\"" if operands.length >= 3 =>
              nextLine(0, -leading)
              operands.last match { case PStr(b) => showText(b); case _ => }
            case "TJ" if operands.nonEmpty =>
              operands.last match {
                case PArr(items) =>
                  val sb = new ArrayBuffer[Byte](32)
                  items.foreach {
                    case PStr(b) => sb ++= b
                    case PNum(_) => // kerning adjustment — no space synthesis in v1
                    case _ =>
                  }
                  showText(sb.toArray)
                case _ =>
              }
            case "re" if operands.length >= 4 =>
              val o = operands.takeRight(4).map(num)
              rects += Rect(o(0), o(1), o(2), o(3))
            case "q" => gsStack += ctm
            case "Q" =>
              if (gsStack.nonEmpty) ctm = gsStack.remove(gsStack.length - 1)
            case "cm" if operands.length >= 6 =>
              val o = operands.takeRight(6).map(num)
              ctm = Matrix(o(0), o(1), o(2), o(3), o(4), o(5)).multiply(ctm)
            case "Do" if operands.nonEmpty =>
              operands.last match {
                case PName(nm) if imageNames.contains(nm) =>
                  imageArea += math.abs(ctm.a * ctm.d - ctm.b * ctm.c)
                case _ =>
              }
            case _ => // other non-text operator — ignored
          }
          operands.clear()
      }
      tok = lexer.next()
    }

    // cluster runs into lines: group by y within 2pt, order top-to-bottom then left-to-right
    val sorted = runs.toVector.sortBy(r => (-r.y, r.x))
    val lines = new ArrayBuffer[(Double, Double, ArrayBuffer[TextRun])](16) // (ySum, count, runs)
    sorted.foreach { r =>
      lines.lastOption match {
        case Some((ySum, count, rs)) if math.abs(ySum / count - r.y) <= 2.0 =>
          rs += r
          lines(lines.length - 1) = (ySum + r.y, count + 1, rs)
        case _ =>
          lines += ((r.y, 1.0, ArrayBuffer(r)))
      }
    }
    val pdfLines = lines.toVector.map { case (ySum, count, rs) =>
      val ordered = rs.toVector.sortBy(_.x)
      PdfLine(ordered.map(_.text).mkString(" "), ordered.head.x, ySum / count)
    }
    (pdfLines, runs.toVector, rects.toVector, imageArea)
  }

  private def num(o: PdfObj): Double = o match { case PNum(v) => v; case _ => 0.0 }

  private final case class Matrix(a: Double, b: Double, c: Double, d: Double, e: Double, f: Double) {
    def multiply(m: Matrix): Matrix = Matrix(
      a * m.a + b * m.c, a * m.b + b * m.d,
      c * m.a + d * m.c, c * m.b + d * m.d,
      e * m.a + f * m.c + m.e, e * m.b + f * m.d + m.f)
  }
  private object Matrix {
    val identity: Matrix = Matrix(1, 0, 0, 1, 0, 0)
    def translate(tx: Double, ty: Double): Matrix = Matrix(1, 0, 0, 1, tx, ty)
  }

  /** Tokenizer for content streams: operands (reusing object syntax) and
    * operator keywords. */
  private final class ContentLexer(bytes: Array[Byte]) {
    private val lexer = new Lexer(bytes, 0)
    private val n = bytes.length

    def next(): Either[PdfObj, String] = {
      // loop, not recursion: a long run of unparseable bytes must not
      // grow the call stack
      while (true) {
        lexer.skipWs()
        if (lexer.pos >= n) return null
        val b = bytes(lexer.pos)
        if (b == '/' || b == '(' || b == '[' || b == '<' ||
            isDigit(b) || b == '+' || b == '-' || b == '.') {
          try return Left(lexer.parseObject())
          catch { case _: Exception =>
            lexer.resetDepth() // enter() unpaired on the throw path
            lexer.pos += 1
          }
        } else {
          val start = lexer.pos
          while (lexer.pos < n && !isDelim(bytes(lexer.pos))) lexer.pos += 1
          if (lexer.pos == start) lexer.pos += 1
          else return Right(new String(bytes, start, lexer.pos - start, StandardCharsets.US_ASCII))
        }
      }
      null // unreachable
    }
  }

  // ------------------------------------------------------------ signatures

  /** Scan for AcroForm signature fields: any field dict with /FT /Sig
    * (SURVEY.md E6; reference walks PDF form widgets,
    * `ocr_engine.py:618-667`). `signed` = /V present. */
  private def findSignatures(r: Resolver): Vector[SigField] = {
    r.all.collect {
      case d: PDict if nameOf(d, "FT").contains("Sig") =>
        val name = d.get("T").map(r.resolve) match {
          case Some(PStr(b)) => new String(b, StandardCharsets.ISO_8859_1)
          case _ => ""
        }
        SigField(name, d.get("V").isDefined)
    }.toVector.sortBy(_.fieldName)
  }
}
