package graft.analyzers

import scala.collection.mutable.{ArrayBuffer, LinkedHashMap}

import TextAnalyzer.{Analysis, Summary, WordCloud, WordCloudEntry, allStopwords}

/** The doc analyzers as they were before `TextAnalyzer.analyze`: a token
  * array and a `LinkedHashMap` count per analyzer, the regex sentence
  * split, each sentence re-tokenized for its score, and the key-point and
  * company regexes. The reference for the analyzer properties in
  * GraftProps. */
object AnalyzerReference {

  def analyze(text: String): Analysis = {
    val tokens = tokenize(text)
    val (docType, cats) = TextAnalyzer.docTypeAndCategoriesFoldCase(text)
    Analysis(wordCloudFromTokens(tokens), summarize(text), docType, cats,
      keywordsFromTokens(tokens), entities(text))
  }

  def tokenize(text: String): Array[String] = {
    val lowered = text.toLowerCase(java.util.Locale.ROOT)
    val n = lowered.length
    val out = ArrayBuffer.empty[String]
    var i = 0
    while (i < n) {
      while (i < n && {
        val c = lowered.charAt(i); !(PyText.isWordChar(c) || c == '-')
      }) i += 1
      val start = i
      while (i < n && {
        val c = lowered.charAt(i); PyText.isWordChar(c) || c == '-'
      }) i += 1
      if (i > start) out += lowered.substring(start, i)
    }
    out.toArray
  }

  def wordFrequency(tokens: Array[String]): LinkedHashMap[String, Int] = {
    val m = LinkedHashMap.empty[String, Int]
    tokens.foreach { t => m.update(t, m.getOrElse(t, 0) + 1) }
    m
  }

  private def isDigitOrSymbolToken(w: String): Boolean =
    w.nonEmpty && w.forall(c => Character.isDigit(c) || !PyText.isWordChar(c))

  def wordCloudFromTokens(tokens: Array[String], topN: Int = 10): WordCloud = {
    val filtered = tokens.filter(w =>
      !allStopwords(w) && w.length > 2 && !PyText.isDigit(w) && !isDigitOrSymbolToken(w))
    val total = filtered.length
    val counts = wordFrequency(filtered)
    if (total == 0) return WordCloud(Nil, 0.0, 0, 0)
    val top = counts.toSeq.sortBy { case (_, c) => -c }.take(topN)
    val entries = top.map { case (w, c) =>
      WordCloudEntry(w, c, PyText.pyRound(c.toDouble / total * 100, 2))
    }
    val topCount = top.map(_._2).sum
    val others = PyText.pyRound((total - topCount).toDouble / total * 100, 2)
    WordCloud(entries, others, total.toLong, counts.size.toLong)
  }

  def keywordsFromTokens(tokens: Array[String], topN: Int = 15): Seq[String] = {
    val filtered = tokens.filter(w =>
      !allStopwords(w) && w.length > 3 && !PyText.isDigit(w) && !isDigitOrSymbolToken(w))
    val total = filtered.length
    val counts = wordFrequency(filtered)
    val scored = counts.toSeq.map { case (w, c) =>
      val tf = if (total > 0) c.toDouble / total else 0.0
      val idf = math.log(1 + total.toDouble / (c + 1))
      (w, tf * idf)
    }
    scored.sortBy { case (_, s) => -s }.take(topN).map(_._1)
  }

  private val namePattern = java.util.regex.Pattern.compile(
    "\\b([A-Z][a-zéèêëàâùûîïôö]+(?:\\s+[A-Z][a-zéèêëàâùûîïôö]+)+)\\b")
  val companyPattern = java.util.regex.Pattern.compile(
    "\\b([A-Z][A-Za-z\\s&\\-\\.]+(?:SA|SAS|SARL|Ltd|Inc|LLC|GmbH|AG))\\b")
  private val emailPattern = java.util.regex.Pattern.compile("@([a-zA-Z0-9\\-]+)\\.")
  private val webmail = Set("gmail", "yahoo", "hotmail", "outlook")
  private val sentenceStarts = Seq("Le ", "La ", "Les ", "Un ", "Une ", "The ", "A ")

  def entities(text: String): Seq[String] = {
    val out = scala.collection.mutable.LinkedHashSet.empty[String]
    val m1 = namePattern.matcher(text)
    while (m1.find()) {
      val name = m1.group(1)
      if (!out.contains(name) && name.length > 3 && !sentenceStarts.exists(name.startsWith))
        out += name
    }
    val m2 = companyPattern.matcher(text)
    while (m2.find()) {
      val c = m2.group(1).trim
      if (c.nonEmpty) out += c
    }
    val m3 = emailPattern.matcher(text)
    while (m3.find()) {
      val d = m3.group(1)
      if (!webmail(d)) out += PyText.capitalize(d)
    }
    out.toSeq.sorted.take(10)
  }

  private val wsRun = java.util.regex.Pattern.compile("\\s+")
  private val sentenceSep = java.util.regex.Pattern.compile("(?<=[.!?])\\s+")

  def splitSentences(text: String): Seq[String] = {
    val collapsed = wsRun.matcher(text).replaceAll(" ")
      .replace("--- PAGE BREAK ---", " ")
    val parts = sentenceSep.split(collapsed, -1)
    parts.iterator.map(PyText.strip)
      .filter(s => s.length > 20 && !s.startsWith("[") && !PyText.isUpper(s))
      .toSeq
  }

  private val keyIndicators = Seq("important", "essentiel", "objectif", "but",
    "conclusion", "résultat", "result", "key", "main", "principal")

  def scoreSentence(sentence: String, position: Int, total: Int,
      wordFreq: collection.Map[String, Int]): Double = {
    var score = 0.0
    if (position < 3) score += 2.0 - position * 0.5
    else if (position == total - 1) score += 0.5
    val words = tokenize(sentence)
    words.foreach { w =>
      wordFreq.get(w) match {
        case Some(f) if !allStopwords(w) => score += f * 0.1
        case _ =>
      }
    }
    val wc = words.length
    if (wc >= 10 && wc <= 30) score += 1.0
    else if (wc < 10) score -= 0.5
    else if (wc > 50) score -= 1.0
    if (sentence.exists(Character.isDigit)) score += 0.5
    val lower = sentence.toLowerCase(java.util.Locale.ROOT)
    keyIndicators.foreach(ind => if (lower.contains(ind)) score += 0.5)
    score
  }

  def wordCountWs(s: String): Int = PyText.splitWs(s).length

  def summarize(text: String): Summary = {
    val sentences = splitSentences(text)
    if (sentences.isEmpty)
      return Summary("Document vide ou illisible.",
        "Le document ne contient pas de texte exploitable.", Nil, 0.0)
    val freq = wordFrequency(tokenize(text))
    val scored = sentences.zipWithIndex.collect {
      case (s, i) if wordCountWs(s) >= 5 =>
        (s, scoreSentence(s, i, sentences.length, freq), i)
    }
    val ranked = scored.zipWithIndex
      .sortBy { case ((_, score, _), idx) => (-score, idx) }.map(_._1)
    val brief = ranked.take(2).sortBy(_._3).map(_._1).mkString(" ")
    val detailed = ranked.take(math.min(5, ranked.length)).sortBy(_._3).map(_._1).mkString(" ")
    val keyPoints = extractKeyPoints(text, ranked.map(_._1))
    Summary(
      if (brief.length > 500) brief.substring(0, 500) else brief,
      if (detailed.length > 1000) detailed.substring(0, 1000) else detailed,
      keyPoints.take(5),
      if (ranked.length >= 3) 0.75 else 0.5)
  }

  val bulletPattern = java.util.regex.Pattern.compile("[•\\-\\*]\\s*(.+?)(?=\\n|$)")
  val numberedPattern = java.util.regex.Pattern.compile("\\d+[.)\\]]\\s*(.+?)(?=\\n|$)")

  /** The groups of every bullet, then every numbered, match. */
  def listItems(text: String): Seq[String] = {
    val items = ArrayBuffer.empty[String]
    val m1 = bulletPattern.matcher(text)
    while (m1.find()) items += m1.group(1)
    val m2 = numberedPattern.matcher(text)
    while (m2.find()) items += m2.group(1)
    items.toSeq
  }

  def extractKeyPoints(text: String, ranked: Seq[String]): Seq[String] = {
    val keyPoints = ArrayBuffer.empty[String]
    listItems(text).take(5).foreach { item =>
      if (item.length > 20 && item.length < 200) keyPoints += PyText.strip(item)
    }
    if (keyPoints.length < 3) {
      var i = 0
      var done = false
      while (i < math.min(5, ranked.length) && !done) {
        val s = ranked(i)
        if (!keyPoints.contains(s)) {
          keyPoints += (if (s.length > 150) s.substring(0, 150) + "..." else s)
          if (keyPoints.length >= 5) done = true
        }
        i += 1
      }
    }
    keyPoints.toSeq
  }

  /** Where the linear list-item and entity scanners and their regexes
    * disagree on `text`, if they do. */
  def scannerMismatch(text: String): Option[String] = {
    def groups(p: java.util.regex.Pattern): Seq[String] = {
      val found = ArrayBuffer.empty[String]
      val m = p.matcher(text)
      while (m.find()) found += m.group(1)
      found.toSeq
    }
    def scanned(scan: (String, ArrayBuffer[String]) => Unit): Seq[String] = {
      val found = ArrayBuffer.empty[String]
      scan(text, found)
      found.toSeq
    }
    val items = Summarizer.listItems(text, Int.MaxValue / 2).grouped(2)
      .map(r => text.substring(r(0), r(1))).toSeq
    Seq(
      ("list items", items, listItems(text)),
      ("names", scanned(Entities.names), groups(namePattern)),
      ("companies", scanned(Entities.companies), groups(companyPattern)),
      ("emails", scanned(Entities.emails), groups(emailPattern)))
      .collectFirst { case (what, got, want) if got != want => s"$what $got != $want" }
  }
}
