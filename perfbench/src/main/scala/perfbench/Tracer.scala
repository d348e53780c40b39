package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

/** In-memory span recorder for the traced run. Each Spark task records
  * into its own [[TaskTrace]] (no locking on the hot path) and hands it to
  * [[Tracer]] when the task ends; the leg aggregates and writes the spans
  * out after its passes. A span is (layer, start, end, parent span, doc). */
object Tracer {
  val Layers: Vector[String] = Vector(
    "extract",                // one Extractor.extract call
    "extract.sniff", "extract.sha256", "extract.decode",
    "html.tokenize", "html.dom_self", "html.boilerplate", "html.tables",
    "pdf.parse", "pdf.tables", "tables.enhance",
    "analyzers.langscript", "analyzers.summary", "analyzers.other",
    "encode.input_row", "encode.docresult")
  private val ids = Layers.zipWithIndex.toMap
  def id(layer: String): Int = ids(layer)

  private val finished = new ConcurrentLinkedQueue[TaskTrace]()
  def finish(t: TaskTrace): Unit = finished.add(t)
  /** Every trace finished since the last drain. */
  def drain(): Vector[TaskTrace] = {
    val out = Vector.newBuilder[TaskTrace]
    var t = finished.poll()
    while (t != null) { out += t; t = finished.poll() }
    out.result()
  }
}

/** Facts about one traced document, recorded next to its spans. */
final case class DocInfo(urlIndex: Long, sizeBytes: Int, format: String, status: String,
    pdfPages: Int, blocks: Int, contentBlocks: Int, tables: Int) {
  def mega: Boolean = sizeBytes >= Inputs.MegaBytes
}

final class TaskTrace {
  private var n = 0
  private var layer = new Array[Int](1024)
  private var start = new Array[Long](1024)
  private var end = new Array[Long](1024)
  private var parent = new Array[Int](1024)
  private var doc = new Array[Int](1024)
  val docs = new scala.collection.mutable.ArrayBuffer[DocInfo](256)

  def size: Int = n

  /** Records a finished span; returns its index (the id children refer to). */
  def record(layerId: Int, t0: Long, t1: Long, parentIdx: Int, docIdx: Int): Int = {
    if (n == layer.length) {
      val c = n * 2
      layer = java.util.Arrays.copyOf(layer, c); start = java.util.Arrays.copyOf(start, c)
      end = java.util.Arrays.copyOf(end, c); parent = java.util.Arrays.copyOf(parent, c)
      doc = java.util.Arrays.copyOf(doc, c)
    }
    layer(n) = layerId; start(n) = t0; end(n) = t1; parent(n) = parentIdx; doc(n) = docIdx
    n += 1
    n - 1
  }

  /** Runs `f` inside a span of `layerId`. */
  @inline def span[T](layerId: Int, parentIdx: Int, docIdx: Int)(f: => T): T = {
    val t0 = System.nanoTime()
    val r = f
    record(layerId, t0, System.nanoTime(), parentIdx, docIdx)
    r
  }

  def layerOf(i: Int): Int = layer(i)
  def nanos(i: Int): Long = end(i) - start(i)
  def parentOf(i: Int): Int = parent(i)
  def docOf(i: Int): Int = doc(i)

  def writeTsv(out: java.io.Writer, task: Int): Unit = {
    var i = 0
    while (i < n) {
      val d = if (doc(i) >= 0 && doc(i) < docs.length) docs(doc(i)).urlIndex else -1L
      out.write(s"$task\t$i\t${parent(i)}\t${Tracer.Layers(layer(i))}\t$d\t${start(i)}\t${end(i)}\n")
      i += 1
    }
  }
}
