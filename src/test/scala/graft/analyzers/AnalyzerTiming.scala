package graft.analyzers

import java.sql.Timestamp

import graft.corpus.CorpusGen
import graft.extract.Extractor

/** Single-thread cost of each document analyzer, per document:
  *
  *     sbt "Test/runMain graft.analyzers.AnalyzerTiming <seed>"
  *
  * Extracts 2,000 CorpusGen rows from row 100,000 × seed with the
  * analyzers off, keeps the `ok` texts, and splits them into the typical
  * and the mega class (payloads of 64 KB or more, CorpusGen's 1-in-100
  * mega page). Each analyzer entry point, and `TextAnalyzer.analyze`,
  * the one pass `Extractor` runs, is warmed up on the whole class and
  * then timed over it 7 times; a line prints the median µs per document. */
object AnalyzerTiming {

  private val Rows = 2000
  private val MegaBytes = 64 * 1024

  def main(args: Array[String]): Unit = {
    val seed = if (args.nonEmpty) args(0).toLong else 1L
    val from = 100000L * seed
    val texts = (from until from + Rows).flatMap { i =>
      val payload = CorpusGen.payload(i)
      val d = Extractor.extract(CorpusGen.urlOf(i), new Timestamp(0), payload,
        CorpusGen.langOf(i), analysis = false)
      if (d.status == "ok") Some((payload.length >= MegaBytes, d.fullText)) else None
    }
    println(f"${"class"}%-8s ${"docs"}%5s ${"chars/doc"}%9s  us/doc (median of $Rounds)")
    Seq("typical" -> false, "mega" -> true).foreach { case (name, mega) =>
      val docs = texts.filter(_._1 == mega).map(_._2).toArray
      val tokens = docs.map(TextAnalyzer.tokenize)
      val chars = docs.map(_.length.toLong).sum / math.max(1, docs.length)
      val timings = Seq[(String, Int => Any)](
        "tokenize" -> (i => TextAnalyzer.tokenize(docs(i))),
        "word_cloud" -> (i => TextAnalyzer.wordCloudFromTokens(tokens(i))),
        "keywords" -> (i => TextAnalyzer.keywordsFromTokens(tokens(i))),
        "summary" -> (i => TextAnalyzer.summarize(docs(i), tokens(i))),
        "doc_type" -> (i => TextAnalyzer.docTypeAndCategoriesFoldCase(docs(i))),
        "entities" -> (i => TextAnalyzer.entities(docs(i))),
        "analyze" -> (i => TextAnalyzer.analyze(docs(i))))
      val us = usPerDoc(docs.length, timings.map(_._2))
      val cols = timings.map(_._1).zip(us).map { case (label, t) => f"$label%s $t%.1f" }
      println(f"$name%-8s ${docs.length}%5d $chars%9d  ${cols.mkString("  ")}")
    }
  }

  private val Rounds = 11

  /** Per function, the median over `Rounds` timed sweeps of µs per
    * document. A round sweeps every function once, so drift in the host's
    * speed falls on all of them alike; 1.5 s of rounds warm up first. */
  private def usPerDoc(n: Int, fs: Seq[Int => Any]): Seq[Double] = {
    var sink = 0
    def sweep(f: Int => Any): Long = {
      val t0 = System.nanoTime()
      var i = 0
      while (i < n) { if (f(i) == null) sink += 1; i += 1 }
      System.nanoTime() - t0
    }
    val warmUntil = System.nanoTime() + 1500L * 1000 * 1000
    while (System.nanoTime() < warmUntil) fs.foreach(sweep)
    val ns = Seq.fill(Rounds)(fs.map(sweep)).transpose.map(_.sorted)
    if (sink == 42) println("")
    ns.map(_(Rounds / 2) / 1000.0 / n).toSeq
  }
}
