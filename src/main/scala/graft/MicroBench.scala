package graft

/** Single-threaded extractor microbenchmark (no Spark): per-doc cost of
  * the parse+extract hot path, with and without the T4-T12 analyzer
  * suite — the denominator of every scaling decision. Run:
  * `sbt "runMain graft.MicroBench [nDocs]"`. */
object MicroBench {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(20000)
    val rows = (0L until n.toLong).map(graft.corpus.CorpusGen.row).toArray
    def leg(analysis: Boolean): Double = {
      var acc = 0L
      val t0 = System.nanoTime()
      rows.foreach { r =>
        val d = graft.extract.Extractor.extract(r.url, r.warc_ts, r.html, r.lang, analysis)
        acc += d.fullText.length
      }
      val sec = (System.nanoTime() - t0) / 1e9
      if (acc == -1) println(acc) // keep the loop live
      sec
    }
    // warm both paths to JIT plateau
    leg(true); leg(false); leg(true); leg(false)
    val withA = leg(true)
    val withoutA = leg(false)
    println(f"docs=$n  with-analysis: $withA%.2f s (${n / withA}%.0f docs/s)  " +
      f"without: $withoutA%.2f s (${n / withoutA}%.0f docs/s)  " +
      f"analyzer share: ${100 * (withA - withoutA) / withA}%.1f%%")

    // stage split over the HTML subset (the 70% majority class)
    val htmlRows = rows.filter(r => graft.extract.Extractor.sniffFormat(r.html) == "html")
    val strs = htmlRows.map(r => new String(r.html, java.nio.charset.StandardCharsets.UTF_8))
    def stage(name: String)(f: () => Unit): Unit = {
      f(); f() // warm
      val t0 = System.nanoTime()
      f()
      println(f"  stage $name%-12s ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    stage("decode")(() => htmlRows.foreach(r => new String(r.html, java.nio.charset.StandardCharsets.UTF_8)))
    stage("tokenize")(() => strs.foreach(graft.html.HtmlTokenizer.tokenize))
    val doms = strs.map(graft.html.DomBuilder.parse)
    stage("dom")(() => strs.foreach(graft.html.DomBuilder.parse))
    stage("boilerplate")(() => doms.foreach(graft.html.Boilerplate.segment))
    stage("tables")(() => doms.foreach(graft.html.HtmlTables.extract))
    stage("full-extract")(() => htmlRows.foreach(r =>
      graft.extract.Extractor.extract(r.url, r.warc_ts, r.html, r.lang, analysis = false)))
    val texts = doms.map(d => graft.html.Boilerplate.segment(d)
      .filter(_.isContent).map(_.text).mkString("\n"))
    stage("sha256")(() => htmlRows.foreach(r => graft.extract.Extractor.sha256Hex(r.html)))
    stage("page-scan")(() => texts.foreach(graft.analyzers.LangScript.scan))

    // analyzer-suite split (the analysis=true path)
    import graft.analyzers.TextAnalyzer
    val tokss = texts.map(TextAnalyzer.tokenize)
    val lowers = texts.map(_.toLowerCase(java.util.Locale.ROOT))
    stage("an-tokenize")(() => texts.foreach(TextAnalyzer.tokenize))
    stage("an-lower")(() => texts.foreach(_.toLowerCase(java.util.Locale.ROOT)))
    stage("an-wordcloud")(() => tokss.foreach(t => TextAnalyzer.wordCloudFromTokens(t)))
    stage("an-summary")(() => texts.zip(tokss).foreach { case (t, k) => TextAnalyzer.summarize(t, k) })
    stage("an-sentsplit")(() => texts.foreach(TextAnalyzer.splitSentences))
    val sents = texts.map(TextAnalyzer.splitSentences)
    val freqs = tokss.map(TextAnalyzer.wordFrequency)
    stage("an-score")(() => sents.zip(freqs).foreach { case (ss, f) =>
      ss.zipWithIndex.foreach { case (s, i) => TextAnalyzer.scoreSentence(s, i, ss.length, f) }
    })
    stage("an-doctype")(() => lowers.foreach(TextAnalyzer.classifyDocType))
    stage("an-categories")(() => lowers.foreach(TextAnalyzer.categories))
    stage("an-keywords")(() => tokss.foreach(t => TextAnalyzer.keywordsFromTokens(t)))
    stage("an-entities")(() => texts.foreach(TextAnalyzer.entities))
  }
}
