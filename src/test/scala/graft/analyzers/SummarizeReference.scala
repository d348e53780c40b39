package graft.analyzers

import scala.collection.mutable.ArrayBuffer

/** `TextAnalyzer.summarize` as it was before its two scans were cut: the
  * sentence split ends in a `List`, whose length is taken once per scored
  * sentence, and key points collect every bullet and numbered match before
  * taking the first 5. The reference for the summary property in
  * GraftProps. */
object SummarizeReference {
  import TextAnalyzer.{Summary, bulletPattern, numberedPattern, scoreSentence,
    wordCountWs, wordFrequency}

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

  def summarize(text: String): Summary = {
    val sentences = splitSentences(text)
    if (sentences.isEmpty)
      return Summary("Document vide ou illisible.",
        "Le document ne contient pas de texte exploitable.", Nil, 0.0)
    val freq = wordFrequency(TextAnalyzer.tokenize(text))
    val scored = sentences.zipWithIndex.collect {
      case (s, i) if wordCountWs(s) >= 5 =>
        (s, scoreSentence(s, i, sentences.length, freq), i)
    }
    val ranked = scored.zipWithIndex
      .sortBy { case ((_, score, _), idx) => (-score, idx) }.map(_._1)
    val brief = ranked.take(2).sortBy(_._3).map(_._1).mkString(" ")
    val detailed = ranked.take(math.min(5, ranked.length)).sortBy(_._3).map(_._1).mkString(" ")
    val keyPoints = extractKeyPoints(text, ranked)
    Summary(
      if (brief.length > 500) brief.substring(0, 500) else brief,
      if (detailed.length > 1000) detailed.substring(0, 1000) else detailed,
      keyPoints.take(5),
      if (ranked.length >= 3) 0.75 else 0.5)
  }

  def extractKeyPoints(text: String, ranked: Seq[(String, Double, Int)]): Seq[String] = {
    val keyPoints = ArrayBuffer.empty[String]
    val bullets = ArrayBuffer.empty[String]
    val m1 = bulletPattern.matcher(text)
    while (m1.find()) bullets += m1.group(1)
    val m2 = numberedPattern.matcher(text)
    while (m2.find()) bullets += m2.group(1)
    bullets.take(5).foreach { item =>
      if (item.length > 20 && item.length < 200) keyPoints += PyText.strip(item)
    }
    if (keyPoints.length < 3) {
      var i = 0
      var done = false
      while (i < math.min(5, ranked.length) && !done) {
        val s = ranked(i)._1
        if (!keyPoints.contains(s)) {
          keyPoints += (if (s.length > 150) s.substring(0, 150) + "..." else s)
          if (keyPoints.length >= 5) done = true
        }
        i += 1
      }
    }
    keyPoints.toSeq
  }
}
