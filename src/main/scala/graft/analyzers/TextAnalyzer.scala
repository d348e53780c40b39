package graft.analyzers

import scala.collection.mutable.{ArrayBuffer, LinkedHashMap}

/** Deterministic text analytics (SURVEY.md §2.4 T1–T12): tokenizer,
  * word frequency, word cloud, keywords, doc-type classification,
  * categories, entities, sentence split/score, extractive summary,
  * key points — semantics of `idp_pipeline/models/doc_analyzer.py`
  * re-expressed in Scala with exact Python parity (tokenizer regex
  * `doc_analyzer.py:574-584`, word cloud `:513-568`, keywords `:442-478`,
  * doc type `:407-424`, categories `:426-440`, entities `:480-507`,
  * sentences `:287-342`, summary `:235-285`, key points `:344-369`).
  *
  * Where the reference depends on Python `set()` iteration order
  * (categories/entities) the frozen contract is lexicographic sort
  * (SURVEY.md T7/T8).
  */
object TextAnalyzer {

  // -- stopwords: FR ∪ EN, verbatim from doc_analyzer.py:26-65 --------------
  val stopwordsFr: Set[String] = Set(
    "le", "la", "les", "un", "une", "des", "de", "du", "au", "aux", "ce", "cette",
    "ces", "mon", "ma", "mes", "ton", "ta", "tes", "son", "sa", "ses", "notre",
    "nos", "votre", "vos", "leur", "leurs", "je", "tu", "il", "elle", "on", "nous",
    "vous", "ils", "elles", "qui", "que", "quoi", "dont", "où", "et", "ou", "mais",
    "donc", "car", "ni", "ne", "pas", "plus", "moins", "très", "bien", "mal",
    "être", "avoir", "faire", "dire", "aller", "voir", "pouvoir", "vouloir",
    "est", "sont", "a", "ont", "été", "sera", "seront", "fait", "font", "dit",
    "dans", "sur", "sous", "avec", "sans", "pour", "par", "en", "entre", "vers",
    "chez", "avant", "après", "depuis", "pendant", "comme", "si", "tout", "tous",
    "toute", "toutes", "autre", "autres", "même", "mêmes", "aussi", "ainsi",
    "alors", "puis", "ensuite", "enfin", "cela", "ceci", "celui", "celle",
    "ceux", "celles", "quel", "quelle", "quels", "quelles", "chaque", "quelque",
    "quelques", "plusieurs", "certain", "certains", "certaine", "certaines",
    "peu", "beaucoup", "trop", "assez", "encore", "toujours", "jamais", "souvent",
    "parfois", "ici", "là", "quand", "comment", "pourquoi", "oui", "non",
    "d", "l", "n", "s", "c", "j", "m", "t", "y", "qu", "se", "me", "te", "lui",
    "soi", "peut", "peuvent", "doit", "doivent", "faut", "soit",
    "etc", "via", "cas", "fin", "mis", "mise", "ans", "an", "jour",
    "jours", "fois", "part", "suite", "lieu", "titre", "objet", "article")

  val stopwordsEn: Set[String] = Set(
    "the", "a", "an", "and", "or", "but", "in", "on", "at", "to", "for", "of",
    "with", "by", "from", "as", "is", "was", "are", "were", "been", "be", "have",
    "has", "had", "do", "does", "did", "will", "would", "could", "should", "may",
    "might", "must", "shall", "can", "need", "dare", "ought", "used", "it", "its",
    "this", "that", "these", "those", "i", "you", "he", "she", "we", "they", "me",
    "him", "her", "us", "them", "my", "your", "his", "our", "their", "mine",
    "yours", "hers", "ours", "theirs", "what", "which", "who", "whom", "whose",
    "where", "when", "why", "how", "all", "each", "every", "both", "few", "more",
    "most", "other", "some", "such", "no", "nor", "not", "only", "own", "same",
    "so", "than", "too", "very", "just", "also", "now", "here", "there", "then",
    "once", "if", "because", "until", "while", "although", "though", "after",
    "before", "above", "below", "between", "into", "through", "during", "under",
    "again", "further", "any", "about", "against", "being", "having", "doing",
    "etc", "e", "g", "ie", "eg", "vs", "per", "via", "page", "date", "time")

  val allStopwords: Set[String] = stopwordsFr ++ stopwordsEn

  // -- doc-type indicators, verbatim from doc_analyzer.py:89-136 ------------
  // order matters: Python dict preserves insertion order, and
  // max(scores, key=scores.get) takes the FIRST max in that order.
  val docTypeIndicators: Seq[(String, Seq[String])] = Seq(
    "contract" -> Seq("contrat", "contract", "agreement", "accord", "convention", "clause",
      "parties", "signataire", "engagement", "obligation", "terme", "durée",
      "résiliation", "termination", "avenant", "amendment"),
    "form" -> Seq("formulaire", "form", "demande", "request", "remplir", "fill",
      "cocher", "check", "signature", "date", "nom", "prénom", "adresse"),
    "invoice" -> Seq("facture", "invoice", "montant", "amount", "total", "tva", "vat",
      "prix", "price", "paiement", "payment", "référence", "numéro"),
    "report" -> Seq("rapport", "report", "analyse", "analysis", "résultats", "results",
      "conclusion", "recommandation", "synthèse", "summary", "étude"),
    "letter" -> Seq("madame", "monsieur", "dear", "cher", "chère", "cordialement",
      "sincerely", "regards", "veuillez", "objet", "subject"),
    "policy" -> Seq("politique", "policy", "procédure", "procedure", "règlement",
      "regulation", "directive", "guideline", "norme", "standard"),
    "legal" -> Seq("juridique", "legal", "loi", "law", "article", "décret", "decree",
      "tribunal", "court", "avocat", "lawyer", "litige", "dispute"),
    "technical" -> Seq("technique", "technical", "spécification", "specification",
      "architecture", "système", "system", "api", "code", "logiciel"),
    "financial" -> Seq("financier", "financial", "budget", "bilan", "balance", "compte",
      "account", "investissement", "investment", "rendement", "return"),
    "hr" -> Seq("ressources humaines", "human resources", "rh", "hr", "employé",
      "employee", "recrutement", "recruitment", "salaire", "salary",
      "congé", "leave", "formation", "training", "prime", "bonus"),
    "marketing" -> Seq("marketing", "publicité", "advertising", "campagne", "campaign",
      "client", "customer", "marque", "brand", "promotion", "vente"))

  // ----------------------------------------------------------- T1 tokenize

  /** `doc_analyzer._tokenize`: lower, non-[\w\s-] → space, collapse ws,
    * split. Mapping junk to spaces and whitespace-splitting is exactly
    * "tokens = maximal runs of word chars / hyphens", done here in one
    * scan over the lowered text (no intermediate mapped copy — this is
    * the hottest analyzer primitive). */
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

  /** T3: word frequency — first-occurrence order preserved (Counter). */
  def wordFrequency(tokens: Array[String]): LinkedHashMap[String, Int] = {
    val m = LinkedHashMap.empty[String, Int]
    tokens.foreach { t => m.update(t, m.getOrElse(t, 0) + 1) }
    m
  }

  /** Token is all digits / non-word chars (`^[\d\W]+$` on a \w- token). */
  private def isDigitOrSymbolToken(w: String): Boolean =
    w.nonEmpty && w.forall(c => Character.isDigit(c) || !PyText.isWordChar(c))

  // --------------------------------------------------------- T4 word cloud

  final case class WordCloudEntry(word: String, count: Int, percentage: Double)
  final case class WordCloud(topWords: Seq[WordCloudEntry], othersPercentage: Double,
      totalWords: Long, uniqueWords: Long)

  /** `generate_word_cloud` (doc_analyzer.py:513-568). Ties break by first
    * occurrence (Counter.most_common insertion order). */
  def wordCloud(text: String, topN: Int = 10): WordCloud =
    wordCloudFromTokens(tokenize(text), topN)

  /** Same, over a pre-tokenized text — lets the extraction hot path
    * tokenize the document once and share across analyzers. */
  def wordCloudFromTokens(tokens: Array[String], topN: Int = 10): WordCloud = {
    val filtered = tokens.filter(w =>
      !allStopwords(w) && w.length > 2 && !PyText.isDigit(w) && !isDigitOrSymbolToken(w))
    val total = filtered.length
    val counts = wordFrequency(filtered)
    if (total == 0) return WordCloud(Nil, 0.0, 0, 0)
    val top = counts.toSeq.sortBy { case (_, c) => -c }.take(topN) // stable sort keeps insertion order on ties
    val entries = top.map { case (w, c) =>
      WordCloudEntry(w, c, PyText.pyRound(c.toDouble / total * 100, 2))
    }
    val topCount = top.map(_._2).sum
    val others = PyText.pyRound((total - topCount).toDouble / total * 100, 2)
    WordCloud(entries, others, total.toLong, counts.size.toLong)
  }

  // ----------------------------------------------------------- T5 keywords

  /** `_extract_keywords` (doc_analyzer.py:442-478): TF-IDF-ish top-15.
    * The capitalization boost is dead code (tokens lowercased) — kept as-is. */
  def keywords(text: String, topN: Int = 15): Seq[String] =
    keywordsFromTokens(tokenize(text), topN)

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
    scored.sortBy { case (_, s) => -s }.take(topN).map(_._1) // stable: ties keep first-occurrence order
  }

  // ----------------------------------------------------------- T6 doc type

  /** `_classify_document_type` (doc_analyzer.py:407-424): substring-count
    * scoring, argmax in indicator-table order, "other" if all zero. */
  def classifyDocType(textLower: String): String =
    docTypeAndCategories(textLower)._1

  /** T7 `_extract_categories` (doc_analyzer.py:426-440): types with ≥2
    * distinct indicator hits; Python set order pinned to lexicographic. */
  def categories(textLower: String): Seq[String] =
    docTypeAndCategories(textLower)._2

  /** Stage-2 organizer doc-type variant (`organizer_engine.py:443-465`):
    * PRESENCE scoring (1 per keyword found, not occurrence counts) over
    * its own indicator table; argmax in insertion order, default
    * "document". Coexists with the analyzer variant above exactly as in
    * the reference (v2.1 output prefers the analyzer one,
    * `ocr_engine.py:1831-1833`). */
  val organizerIndicators: Seq[(String, Seq[String])] = Seq(
    "invoice" -> Seq("invoice", "facture", "bill to", "due date", "total amount", "subtotal"),
    "contract" -> Seq("agreement", "contract", "parties", "whereas", "terms and conditions"),
    "report" -> Seq("report", "summary", "findings", "conclusion", "analysis"),
    "letter" -> Seq("dear", "sincerely", "regards", "yours truly"),
    "form" -> Seq("form", "please fill", "applicant", "signature"),
    "receipt" -> Seq("receipt", "transaction", "paid", "change"),
    "resume" -> Seq("resume", "cv", "curriculum", "experience", "education", "skills"))

  def classifyDocTypeOrganizer(textLower: String): String = {
    var best = "document"
    var bestScore = 0
    organizerIndicators.foreach { case (t, kws) =>
      val score = kws.count(textLower.contains)
      // Python: only types with score > 0 enter; max takes first max in
      // insertion order among entered types
      if (score > 0 && score > bestScore) { best = t; bestScore = score }
    }
    best
  }

  // one automaton over the distinct indicator vocabulary (built once,
  // broadcast-free: executor-side object initialization)
  private lazy val indicatorMatcher: (MultiPattern, Map[String, Int]) = {
    val distinctWords = docTypeIndicators.flatMap(_._2).distinct
    (new MultiPattern(distinctWords), distinctWords.zipWithIndex.toMap)
  }

  /** T6 + T7 fused: ONE Aho-Corasick pass over the indicator vocabulary
    * (Python count semantics per word — equivalence property-tested)
    * serves both the argmax score and the ≥2-distinct-hits category
    * filter (contains ⇔ count > 0). Replaces ~150 full-text indexOf
    * sweeps per document. */
  def docTypeAndCategories(textLower: String): (String, Seq[String]) =
    docTypeAndCategoriesImpl(textLower, foldCase = false)

  /** Same classification over ORIGINAL-case text: the automaton folds
    * case per character during its single pass, so the caller never
    * materializes a full lowered copy of the document (one whole-doc
    * allocation per doc on the analysis path). */
  def docTypeAndCategoriesFoldCase(text: String): (String, Seq[String]) =
    docTypeAndCategoriesImpl(text, foldCase = true)

  private def docTypeAndCategoriesImpl(text: String, foldCase: Boolean)
      : (String, Seq[String]) = {
    val (mp, idx) = indicatorMatcher
    val counts = if (foldCase) mp.countAllFoldCase(text) else mp.countAll(text)
    var best = "other"
    var bestScore = 0
    val cats = ArrayBuffer.empty[String]
    docTypeIndicators.foreach { case (t, indicators) =>
      var score = 0
      var hits = 0
      indicators.foreach { ind =>
        val c = counts(idx(ind))
        score += c
        if (c > 0) hits += 1
      }
      if (score > bestScore) { best = t; bestScore = score }
      if (hits >= 2) cats += t
    }
    (best, cats.distinct.sorted.take(5).toSeq)
  }

  // ----------------------------------------------------------- T8 entities

  private val namePattern = java.util.regex.Pattern.compile(
    "\\b([A-Z][a-zéèêëàâùûîïôö]+(?:\\s+[A-Z][a-zéèêëàâùûîïôö]+)+)\\b")
  private val companyPattern = java.util.regex.Pattern.compile(
    "\\b([A-Z][A-Za-z\\s&\\-\\.]+(?:SA|SAS|SARL|Ltd|Inc|LLC|GmbH|AG))\\b")
  // every company match must contain one of these literals — a cheap
  // contains() prefilter skips the heavily-backtracking regex on the
  // (common) documents that cannot match at all
  private val companySuffixes = Array("SA", "Ltd", "Inc", "LLC", "GmbH", "AG")
  private val emailPattern = java.util.regex.Pattern.compile(
    "@([a-zA-Z0-9\\-]+)\\.")
  private val webmail = Set("gmail", "yahoo", "hotmail", "outlook")
  private val sentenceStarts = Seq("Le ", "La ", "Les ", "Un ", "Une ", "The ", "A ")

  /** `_extract_entities` (doc_analyzer.py:480-507); set order pinned to
    * lexicographic sort before the [:10] slice. */
  def entities(text: String): Seq[String] = {
    // LinkedHashSet: O(1) membership (the per-match contains() made
    // entity-dense docs quadratic) while keeping insertion order
    val out = scala.collection.mutable.LinkedHashSet.empty[String]
    val m1 = namePattern.matcher(text)
    while (m1.find()) {
      val name = m1.group(1)
      if (!out.contains(name) && name.length > 3 && !sentenceStarts.exists(name.startsWith))
        out += name
    }
    if (companySuffixes.exists(text.contains)) {
      val m2 = companyPattern.matcher(text)
      while (m2.find()) {
        val c = m2.group(1).trim
        if (c.nonEmpty) out += c
      }
    }
    val m3 = emailPattern.matcher(text)
    while (m3.find()) {
      val d = m3.group(1)
      if (!webmail(d)) out += PyText.capitalize(d)
    }
    out.toSeq.sorted.take(10)
  }

  // ---------------------------------------------------- T9 sentence split

  private val wsRun = java.util.regex.Pattern.compile("\\s+")
  private val sentenceSep = java.util.regex.Pattern.compile("(?<=[.!?])\\s+")

  /** `_split_sentences` (doc_analyzer.py:287-303). Patterns precompiled
    * (String.replaceAll/split compile per call — measurable per doc);
    * the page-break replace is a literal, so non-regex String.replace
    * is byte-identical. */
  def splitSentences(text: String): IndexedSeq[String] = {
    val collapsed = wsRun.matcher(text).replaceAll(" ")
      .replace("--- PAGE BREAK ---", " ")
    val parts = sentenceSep.split(collapsed, -1)
    parts.iterator.map(PyText.strip)
      .filter(s => s.length > 20 && !s.startsWith("[") && !PyText.isUpper(s))
      .toIndexedSeq
  }

  // --------------------------------------------------- T10 sentence score

  private val keyIndicators = Seq("important", "essentiel", "objectif", "but",
    "conclusion", "résultat", "result", "key", "main", "principal")
  // one fold-case Aho-Corasick pass replaces lowercase-copy + 10
  // substring scans per sentence (count > 0 ⇔ lower.contains(ind));
  // scoreSentence runs per sentence per document — the analyzer suite's
  // hottest loop
  private lazy val keyIndicatorMatcher = new MultiPattern(keyIndicators)

  /** `_score_sentence` (doc_analyzer.py:305-342). */
  def scoreSentence(sentence: String, position: Int, total: Int,
      wordFreq: collection.Map[String, Int]): Double = {
    var score = 0.0
    if (position < 3) score += 2.0 - position * 0.5
    else if (position == total - 1) score += 0.5
    val words = tokenize(sentence)
    words.foreach { w =>
      wordFreq.get(w) match { // one hash lookup, not contains+apply
        case Some(f) if !allStopwords(w) => score += f * 0.1
        case _ =>
      }
    }
    val wc = words.length
    if (wc >= 10 && wc <= 30) score += 1.0
    else if (wc < 10) score -= 0.5
    else if (wc > 50) score -= 1.0
    if (sentence.exists(Character.isDigit)) score += 0.5
    val indCounts = keyIndicatorMatcher.countAllFoldCase(sentence)
    var ii = 0
    while (ii < indCounts.length) {
      if (indCounts(ii) > 0) score += 0.5
      ii += 1
    }
    score
  }

  // ------------------------------------------------------- T11/T12 summary

  final case class Summary(brief: String, detailed: String,
      keyPoints: Seq[String], confidence: Double)

  /** `generate_summary` (doc_analyzer.py:235-285) + `_extract_key_points`
    * (:344-369). Python list.sort is stable — tie-break preserved by
    * sorting on (score desc, insertion index asc). */
  def summarize(text: String): Summary = summarize(text, tokenize(text))

  /** Same, sharing the document token array with the other analyzers. */
  def summarize(text: String, docTokens: Array[String]): Summary = {
    val sentences = splitSentences(text)
    if (sentences.isEmpty)
      return Summary("Document vide ou illisible.",
        "Le document ne contient pas de texte exploitable.", Nil, 0.0)
    val freq = wordFrequency(docTokens)
    val total = sentences.length
    val scored = sentences.zipWithIndex.collect {
      case (s, i) if wordCountWs(s) >= 5 =>
        (s, scoreSentence(s, i, total, freq), i)
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

  /** `len(s.split())` without materializing the tokens. */
  private[analyzers] def wordCountWs(s: String): Int = {
    var words = 0
    var inWord = false
    var i = 0
    while (i < s.length) {
      if (PyText.isPyWs(s.charAt(i))) inWord = false
      else if (!inWord) { inWord = true; words += 1 }
      i += 1
    }
    words
  }

  private[analyzers] val bulletPattern = java.util.regex.Pattern.compile("[•\\-\\*]\\s*(.+?)(?=\\n|$)")
  private[analyzers] val numberedPattern = java.util.regex.Pattern.compile("\\d+[.)\\]]\\s*(.+?)(?=\\n|$)")

  /** Only the first 5 list items (bullets, then numbered) are read, so
    * each matcher stops once 5 are known. */
  def extractKeyPoints(text: String, ranked: Seq[(String, Double, Int)]): Seq[String] = {
    val keyPoints = ArrayBuffer.empty[String]
    val bullets = ArrayBuffer.empty[String]
    val m1 = bulletPattern.matcher(text)
    while (bullets.length < 5 && m1.find()) bullets += m1.group(1)
    val m2 = numberedPattern.matcher(text)
    while (bullets.length < 5 && m2.find()) bullets += m2.group(1)
    bullets.foreach { item =>
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
