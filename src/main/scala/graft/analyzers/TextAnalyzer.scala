package graft.analyzers

import scala.collection.mutable.ArrayBuffer

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

  // ------------------------------------------------------ one analyzer pass

  /** Everything the doc-level analyzers report for one text. */
  final case class Analysis(wordCloud: WordCloud, summary: Summary, docType: String,
      categories: Seq[String], keywords: Seq[String], entities: Seq[String])

  /** What `Extractor` reports with the analyzers off. */
  val NoAnalysis: Analysis = Analysis(WordCloud(Nil, 0.0, 0L, 0L),
    Summary("", "", Nil, 0.0), "other", Nil, Nil, Nil)

  /** The T4–T12 suite over `fullText` in one pass: one token table feeds
    * the word cloud, the keywords and the summary's sentence weights; the
    * doc type and categories come from one indicator automaton pass; the
    * entity scanners read the text once each. A pure function of the
    * text. */
  def analyze(fullText: String): Analysis = {
    val table = TokenTable.of(fullText)
    val (docType, cats) = docTypeAndCategoriesFoldCase(fullText)
    Analysis(wordCloudOf(table), Summarizer.summarize(fullText, table),
      docType, cats, keywordsOf(table), entities(fullText))
  }

  // ----------------------------------------------------------- T1 tokenize

  /** `doc_analyzer._tokenize`: lower, non-[\w\s-] → space, collapse ws,
    * split. Mapping junk to spaces and whitespace-splitting is exactly
    * "tokens = maximal runs of word chars / hyphens" in the lowered text;
    * `TokenTable` counts the same runs without materializing them. */
  def tokenize(text: String): Array[String] = {
    val lowered = text.toLowerCase(java.util.Locale.ROOT)
    val n = lowered.length
    val out = ArrayBuffer.empty[String]
    var i = 0
    while (i < n) {
      while (i < n && !TokenTable.isTokenChar(lowered.charAt(i), fold = false)) i += 1
      val start = i
      while (i < n && TokenTable.isTokenChar(lowered.charAt(i), fold = false)) i += 1
      if (i > start) out += lowered.substring(start, i)
    }
    out.toArray
  }

  // --------------------------------------------------------- T4 word cloud

  final case class WordCloudEntry(word: String, count: Int, percentage: Double)
  final case class WordCloud(topWords: Seq[WordCloudEntry], othersPercentage: Double,
      totalWords: Long, uniqueWords: Long)

  /** Words in a word cloud and keywords per document. */
  private val WordCloudTop = 10
  private val KeywordTop = 15

  /** `generate_word_cloud` (doc_analyzer.py:513-568): the top 10 words.
    * Ties break by first occurrence (Counter.most_common insertion order). */
  def wordCloud(text: String): WordCloud =
    wordCloudOf(TokenTable.of(text))

  /** Same, over a pre-tokenized text. */
  def wordCloudFromTokens(tokens: Array[String]): WordCloud =
    wordCloudOf(TokenTable.ofTokens(tokens))

  private def wordCloudOf(table: TokenTable): WordCloud = {
    var total = 0
    var unique = 0
    var e = 0
    while (e < table.size) {
      if ((table.flags(e) & TokenTable.Cloud) != 0) { total += table.counts(e); unique += 1 }
      e += 1
    }
    if (total == 0) return WordCloud(Nil, 0.0, 0, 0)
    val top = topEntries(table, TokenTable.Cloud, WordCloudTop, e => table.counts(e).toDouble)
    val entries = top.map { e =>
      WordCloudEntry(table.key(e), table.counts(e),
        PyText.pyRound(table.counts(e).toDouble / total * 100, 2))
    }
    val topCount = top.map(table.counts(_)).sum
    val others = PyText.pyRound((total - topCount).toDouble / total * 100, 2)
    WordCloud(entries, others, total.toLong, unique.toLong)
  }

  /** The first `k` entries carrying `flag`, by `weight` descending; ties
    * keep first-occurrence order. */
  private def topEntries(table: TokenTable, flag: Byte, k: Int,
      weight: Int => Double): Seq[Int] = {
    val top = new TopK(k)
    var e = 0
    while (e < table.size) {
      if ((table.flags(e) & flag) != 0) top.offer(e, weight(e))
      e += 1
    }
    top.ids
  }

  // ----------------------------------------------------------- T5 keywords

  /** `_extract_keywords` (doc_analyzer.py:442-478): TF-IDF-ish top-15,
    * over a pre-tokenized text. The capitalization boost is dead code
    * (tokens lowercased) — kept as-is. */
  def keywordsFromTokens(tokens: Array[String]): Seq[String] =
    keywordsOf(TokenTable.ofTokens(tokens))

  private def keywordsOf(table: TokenTable): Seq[String] = {
    var total = 0
    var e = 0
    while (e < table.size) {
      if ((table.flags(e) & TokenTable.Keyword) != 0) total += table.counts(e)
      e += 1
    }
    topEntries(table, TokenTable.Keyword, KeywordTop, { e =>
      val c = table.counts(e)
      val tf = if (total > 0) c.toDouble / total else 0.0
      val idf = math.log(1 + total.toDouble / (c + 1))
      tf * idf
    }).map(table.key)
  }

  // ----------------------------------------------------------- T6 doc type

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
  // broadcast-free: executor-side object initialization), and each doc
  // type's indicators as pattern indices
  private lazy val indicatorMatcher: (MultiPattern, Array[Array[Int]]) = {
    val distinctWords = docTypeIndicators.flatMap(_._2).distinct
    val idx = distinctWords.zipWithIndex.toMap
    (new MultiPattern(distinctWords), docTypeIndicators.map(_._2.map(idx).toArray).toArray)
  }

  /** T6 `_classify_document_type` (doc_analyzer.py:407-424: substring-
    * count scoring, argmax in indicator-table order, "other" if all zero)
    * and T7 `_extract_categories` (doc_analyzer.py:426-440: types with ≥2
    * distinct indicator hits; Python set order pinned to lexicographic).
    *
    * T6 + T7 fused: ONE Aho-Corasick pass over the indicator vocabulary
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
    val (mp, indicatorsOf) = indicatorMatcher
    val counts = if (foldCase) mp.countAllFoldCase(text) else mp.countAll(text)
    var best = "other"
    var bestScore = 0
    val cats = ArrayBuffer.empty[String]
    var t = 0
    while (t < indicatorsOf.length) {
      var score = 0
      var hits = 0
      indicatorsOf(t).foreach { w =>
        score += counts(w)
        if (counts(w) > 0) hits += 1
      }
      val docType = docTypeIndicators(t)._1
      if (score > bestScore) { best = docType; bestScore = score }
      if (hits >= 2) cats += docType
      t += 1
    }
    (best, cats.distinct.sorted.take(5).toSeq)
  }

  // ----------------------------------------------------------- T8 entities

  // every company match contains one of these literals, so a text
  // without any skips the company scan
  private val companySuffixes = Array("SA", "Ltd", "Inc", "LLC", "GmbH", "AG")
  private val webmail = Set("gmail", "yahoo", "hotmail", "outlook")
  private val sentenceStarts = Seq("Le ", "La ", "Les ", "Un ", "Une ", "The ", "A ")

  /** `_extract_entities` (doc_analyzer.py:480-507): names, companies and
    * email domains (`Entities`); set order pinned to lexicographic sort
    * before the [:10] slice. */
  def entities(text: String): Seq[String] = {
    // LinkedHashSet: O(1) membership (the per-match contains() made
    // entity-dense docs quadratic) while keeping insertion order
    val out = scala.collection.mutable.LinkedHashSet.empty[String]
    val found = ArrayBuffer.empty[String]
    Entities.names(text, found)
    found.foreach { name =>
      if (!out.contains(name) && name.length > 3 && !sentenceStarts.exists(name.startsWith))
        out += name
    }
    if (companySuffixes.exists(text.contains)) Entities.companies(text, out)
    found.clear()
    Entities.emails(text, found)
    found.foreach(d => if (!webmail(d)) out += PyText.capitalize(d))
    out.toSeq.sorted.take(10)
  }

  // ------------------------------------------------------- T9-T12 summary

  final case class Summary(brief: String, detailed: String,
      keyPoints: Seq[String], confidence: Double)

  /** `generate_summary` (doc_analyzer.py:235-285) + `_extract_key_points`
    * (:344-369); see `Summarizer`. */
  def summarize(text: String): Summary = Summarizer.summarize(text, TokenTable.of(text))

  /** Same, for a text already tokenized: `docTokens` is `tokenize(text)`,
    * whose counts the table scanned from `text` holds too. */
  def summarize(text: String, docTokens: Array[String]): Summary = summarize(text)
}

/** The first `k` of ids offered in order, by weight descending, ties in
  * offer order: Python's stable `sort(key=..., reverse=True)[:k]` without
  * sorting the rest. */
private[analyzers] final class TopK(k: Int) {
  private val top = new Array[Int](k)
  private val weights = new Array[Double](k)
  private var n = 0

  def offer(id: Int, weight: Double): Unit = {
    // after every kept id that ranks at or above it
    var at = n
    while (at > 0 && java.lang.Double.compare(-weight, -weights(at - 1)) < 0) at -= 1
    if (at < k) {
      var m = math.min(n, k - 1)
      while (m > at) { top(m) = top(m - 1); weights(m) = weights(m - 1); m -= 1 }
      top(at) = id
      weights(at) = weight
      if (n < k) n += 1
    }
  }

  /** The kept ids, best first. */
  def ids: Seq[Int] = top.take(n).toSeq
}
