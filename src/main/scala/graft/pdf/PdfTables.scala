package graft.pdf

import scala.collection.mutable.ArrayBuffer

/** Ruled (bordered) table detection from content-stream geometry
  * (SURVEY.md E9) — the from-scratch stand-in for PyMuPDF
  * `page.find_tables()` (`idp_pipeline/models/ocr_engine.py:1469-1517`).
  * v1 documented scope: tables whose grid is drawn as thin `re`
  * rectangles (height ≤ `Thin` = horizontal rule, width ≤ `Thin` =
  * vertical rule, `Thin` = 2pt); borderless tables are out of scope.
  *
  * Algorithm: cluster horizontal-rule y's and vertical-rule x's
  * (tolerance 2pt); ≥2 of each spanning a common bounding box form a
  * grid; every text run inside the box is assigned to its (row, col)
  * cell by position; cell text = runs ordered (y desc, x asc) joined
  * with a space. Rows are emitted top-to-bottom (PDF y-axis points up).
  */
object PdfTables {

  final case class DetectedTable(
      page: Int, bbox: (Double, Double, Double, Double),
      matrix: Vector[Vector[String]])

  private val Tol = 2.0
  private val Thin = 2.0

  private def cluster(vs: Seq[Double]): Vector[Double] = {
    val sorted = vs.sorted
    val out = new ArrayBuffer[(Double, Int)] // (sum, count)
    sorted.foreach { v =>
      out.lastOption match {
        case Some((sum, cnt)) if math.abs(sum / cnt - v) <= Tol =>
          out(out.length - 1) = (sum + v, cnt + 1)
        case _ => out += ((v, 1))
      }
    }
    out.toVector.map { case (sum, cnt) => sum / cnt }
  }

  def detect(page: PdfParser.PdfPage): Vector[DetectedTable] = {
    val hRules = page.rects.filter(r => r.h <= Thin && r.w > Thin)
    val vRules = page.rects.filter(r => r.w <= Thin && r.h > Thin)
    if (hRules.length < 2 || vRules.length < 2) return Vector.empty

    val ys = cluster(hRules.map(r => r.y + r.h / 2)) // ascending
    val xs = cluster(vRules.map(r => r.x + r.w / 2)) // ascending
    if (ys.length < 2 || xs.length < 2) return Vector.empty

    val (x0, x1) = (xs.head, xs.last)
    val (y0, y1) = (ys.head, ys.last)
    val nRows = ys.length - 1
    val nCols = xs.length - 1

    // assign runs inside the bbox to cells
    val cellRuns = Array.fill(nRows, nCols)(new ArrayBuffer[PdfParser.TextRun])
    page.runs.foreach { r =>
      if (r.x >= x0 - Tol && r.x <= x1 + Tol && r.y >= y0 - Tol && r.y <= y1 + Tol) {
        // row: ys descending bands (top row first); run y between ys(k) and ys(k+1)
        val rowBand = ys.lastIndexWhere(_ <= r.y + Tol) // index of the rule below
        val row = nRows - 1 - math.min(math.max(rowBand, 0), nRows - 1)
        val colBand = xs.lastIndexWhere(_ <= r.x + Tol)
        val col = math.min(math.max(colBand, 0), nCols - 1)
        cellRuns(row)(col) += r
      }
    }

    val matrix = Vector.tabulate(nRows, nCols) { (r, c) =>
      cellRuns(r)(c).sortBy(t => (-t.y, t.x)).map(_.text).mkString(" ")
    }
    // require at least one non-empty cell — otherwise it was a drawing
    if (matrix.forall(_.forall(_.isEmpty))) Vector.empty
    else Vector(DetectedTable(page.number, (x0, y0, x1, y1), matrix))
  }

  /** Ruled + (optionally) unruled detection. Unruled detection is behind
    * a flag because it is heuristic: the reference's `find_tables` text
    * strategy also finds whitespace-aligned tables, but flowing
    * paragraphs with coincidental alignment can false-positive, so
    * callers opt in. Runs inside already-detected ruled bboxes are
    * excluded from the unruled pass (no double detection). */
  def detectAll(page: PdfParser.PdfPage,
      includeUnruled: Boolean = false): Vector[DetectedTable] = {
    val ruled = detect(page)
    if (!includeUnruled) ruled
    else ruled ++ detectUnruled(page, ruled.map(_.bbox))
  }

  private val XTol = 4.0

  /** Whitespace-aligned (borderless) table detection over E1's
    * positioned runs — the from-scratch stand-in for the text strategy
    * of PyMuPDF `page.find_tables()` (`ocr_engine.py:1486`). Closed-world
    * heuristic: a table is ≥2 CONSECUTIVE text lines each holding ≥2
    * positioned runs whose x-origins align into ≥2 shared columns
    * (tolerance 4 pt). Cells = runs assigned to their x-column; rows
    * emitted top-to-bottom. */
  def detectUnruled(page: PdfParser.PdfPage,
      exclude: Seq[(Double, Double, Double, Double)]): Vector[DetectedTable] = {
    def excluded(r: PdfParser.TextRun): Boolean = exclude.exists {
      case (x0, y0, x1, y1) =>
        r.x >= x0 - Tol && r.x <= x1 + Tol && r.y >= y0 - Tol && r.y <= y1 + Tol
    }
    // cluster runs into y-lines, top-to-bottom
    val sorted = page.runs.filterNot(excluded).sortBy(r => (-r.y, r.x))
    val lines = new ArrayBuffer[(Double, Double, ArrayBuffer[PdfParser.TextRun])] // (ySum, cnt, runs)
    sorted.foreach { r =>
      lines.lastOption match {
        case Some((ySum, cnt, rs)) if math.abs(ySum / cnt - r.y) <= Tol =>
          rs += r
          lines(lines.length - 1) = (ySum + r.y, cnt + 1, rs)
        case _ => lines += ((r.y, 1.0, ArrayBuffer(r)))
      }
    }
    // maximal groups of consecutive multi-run lines
    val groups = new ArrayBuffer[Vector[ArrayBuffer[PdfParser.TextRun]]]
    val cur = new ArrayBuffer[ArrayBuffer[PdfParser.TextRun]]
    def flush(): Unit = {
      if (cur.length >= 2) groups += cur.toVector
      cur.clear()
    }
    lines.foreach { case (_, _, rs) =>
      if (rs.length >= 2) cur += rs else flush()
    }
    flush()

    groups.toVector.flatMap { group =>
      // columns: clustered x-origins across the whole group
      val xs = cluster(group.flatMap(_.map(_.x)))
      // a column must be shared by ≥2 lines — a one-line x is kerning,
      // not structure
      val shared = xs.filter(cx =>
        group.count(_.exists(r => math.abs(r.x - cx) <= XTol)) >= 2)
      // every line must hit ≥2 shared columns (aligned, not coincidental)
      val aligned = shared.length >= 2 &&
        group.forall(_.count(r => shared.exists(cx => math.abs(r.x - cx) <= XTol)) >= 2)
      if (!aligned) None
      else {
        // each run lands in its NEAREST shared column
        val matrix = group.map { rs =>
          val cells = Array.fill(shared.length)(Vector.empty[PdfParser.TextRun])
          rs.foreach { r =>
            val c = shared.indices.minBy(c => math.abs(r.x - shared(c)))
            cells(c) :+= r
          }
          cells.toVector.map(_.sortBy(_.x).map(_.text).mkString(" "))
        }.toVector
        val allRuns = group.flatten
        val bbox = (allRuns.map(_.x).min, allRuns.map(_.y).min,
          allRuns.map(_.x).max, allRuns.map(_.y).max)
        Some(DetectedTable(page.number, bbox, matrix))
      }
    }
  }
}
