package graft

import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.{forAll, propBoolean}

import graft.analyzers.{PyText, TextAnalyzer}
import graft.html.{Boilerplate, DomBuilder}
import graft.ops.Dedup
import graft.tables.Tables

/** Property-based invariants (SURVEY.md §5.3) — pure-JVM, no Spark
  * session: tokenizer/text laws, extraction total-function robustness,
  * dedup metric laws, CSV quoting inverse. */
object GraftProps extends Properties("graft") {

  private val anyText: Gen[String] = Gen.oneOf(
    Gen.asciiPrintableStr,
    Gen.listOf(Gen.oneOf(Gen.alphaNumChar, Gen.oneOf(' ', '\n', '\t', '.', ',',
      '!', '?', '-', 'é', 'ü', '€', '中', '&', '<', '>'))).map(_.mkString))

  property("tokenize never emits empty tokens and only word chars or hyphens") =
    forAll(anyText) { s =>
      TextAnalyzer.tokenize(s).forall(t =>
        t.nonEmpty && t.forall(c => PyText.isWordChar(c) || c == '-'))
    }

  property("tokenize output is lowercase") = forAll(anyText) { s =>
    val toks = TextAnalyzer.tokenize(s)
    toks.forall(t => t == t.toLowerCase)
  }

  property("word cloud percentages: top + others ≈ 100") = forAll(anyText) { s =>
    val wc = TextAnalyzer.wordCloud(s)
    if (wc.totalWords == 0) wc.topWords.isEmpty && wc.othersPercentage == 0.0
    else {
      val sum = wc.topWords.map(_.percentage).sum + wc.othersPercentage
      math.abs(sum - 100.0) < 0.5 // per-entry round(2) drift bound
    }
  }

  property("splitWs round-trip: joining tokens with single spaces re-splits identically") =
    forAll(anyText) { s =>
      val toks = PyText.splitWs(s)
      PyText.splitWs(toks.mkString(" ")).toSeq == toks.toSeq
    }

  property("extraction is a total function of arbitrary bytes") =
    forAll(Gen.listOf(Gen.chooseNum(Byte.MinValue, Byte.MaxValue))) { bytes =>
      val r = graft.extract.Extractor.extract("u", new java.sql.Timestamp(0),
        bytes.toArray, "en")
      Seq("ok", "empty", "error", "unsupported").contains(r.status)
    }

  property("organizer doc-type: presence scoring, insertion-order argmax, 'document' default") =
    Prop.all(
      TextAnalyzer.classifyDocTypeOrganizer("invoice invoice invoice") == "invoice",
      // presence (not count): one 'report' keyword ties with one 'dear';
      // report enters first in insertion order and wins
      TextAnalyzer.classifyDocTypeOrganizer("report dear") == "report",
      TextAnalyzer.classifyDocTypeOrganizer("bill to due date subtotal") == "invoice",
      TextAnalyzer.classifyDocTypeOrganizer("nothing matching at all") == "document",
      // analyzer variant on the same text can disagree — both exist in
      // the reference (v2.1 prefers the analyzer one)
      TextAnalyzer.classifyDocType("facture invoice montant total") == "invoice")

  private val indicatorText: Gen[String] = {
    val vocab = TextAnalyzer.docTypeIndicators.flatMap(_._2)
    Gen.listOf(Gen.oneOf(
      Gen.oneOf(vocab), Gen.alphaLowerStr.map(_.take(6)), Gen.const(" ")))
      .map(_.mkString(" "))
  }

  property("Aho-Corasick countAll equals per-word Python countSub") =
    forAll(indicatorText) { s =>
      val words = TextAnalyzer.docTypeIndicators.flatMap(_._2).distinct
      val mp = new graft.analyzers.MultiPattern(words)
      val got = mp.countAll(s).toSeq
      val expected = words.map(w => PyText.countSub(s, w))
      got == expected
    }

  property("Aho-Corasick non-overlap counting on self-bordering patterns") =
    Prop.all(
      new graft.analyzers.MultiPattern(Seq("aa")).countAll("aaaa").toSeq == Seq(2),
      new graft.analyzers.MultiPattern(Seq("aa", "aaa")).countAll("aaaaa").toSeq ==
        Seq(PyText.countSub("aaaaa", "aa"), PyText.countSub("aaaaa", "aaa")),
      new graft.analyzers.MultiPattern(Seq("ab", "bab")).countAll("babab").toSeq ==
        Seq(PyText.countSub("babab", "ab"), PyText.countSub("babab", "bab")),
      new graft.analyzers.MultiPattern(Seq("résultat", "tat")).countAll("résultat tat").toSeq ==
        Seq(1, 2))

  // mixed-case text over the indicator vocabulary + random casing noise
  private val mixedCaseText: Gen[String] = {
    val vocab = TextAnalyzer.docTypeIndicators.flatMap(_._2)
    Gen.listOf(Gen.oneOf(
      Gen.oneOf(vocab),
      Gen.oneOf(vocab).map(_.toUpperCase(java.util.Locale.ROOT)),
      Gen.oneOf(vocab).map(_.capitalize),
      Gen.alphaStr.map(_.take(6)), Gen.const(" "),
      // non-1:1 lowercase code point (İ → "i̇", two chars) — exercises
      // the lowered-copy fallback path, incl. adjacency like "İ" + word
      Gen.const("İ"), Gen.oneOf(vocab).map("İ" + _)))
      .map(_.mkString(" "))
  }

  property("fold-case automaton equals countAll over the lowered copy") =
    forAll(mixedCaseText) { s =>
      val words = TextAnalyzer.docTypeIndicators.flatMap(_._2).distinct
      val mp = new graft.analyzers.MultiPattern(words)
      mp.countAllFoldCase(s).toSeq ==
        mp.countAll(s.toLowerCase(java.util.Locale.ROOT)).toSeq
    }

  // PINNED: U+0130 is the one ROOT-lowercase EXPANSION (İ → "i̇"); a
  // per-char fold drops the combining dot and would see "is" in "İs"
  // where Python str.lower()'s two-char form does not. The automaton
  // must fall back to the lowered copy for such inputs.
  property("fold-case automaton: U+0130 expansion pinned") = {
    val mp = new graft.analyzers.MultiPattern(Seq("is", "xi"))
    val lower = (s: String) => s.toLowerCase(java.util.Locale.ROOT)
    mp.countAllFoldCase("İs").toSeq == Seq(0, 0) &&
    mp.countAllFoldCase("Xi is").toSeq == Seq(1, 1) &&
    Seq("İs", "Xİ xİs sİs", "İİİ is Xİ").forall(s =>
      mp.countAllFoldCase(s).toSeq == mp.countAll(lower(s)).toSeq)
  }

  property("docTypeAndCategoriesFoldCase equals the lowered-copy form") =
    forAll(mixedCaseText) { s =>
      TextAnalyzer.docTypeAndCategoriesFoldCase(s) ==
        TextAnalyzer.docTypeAndCategories(s.toLowerCase(java.util.Locale.ROOT))
    }

  property("docTypeAndCategories via automaton equals the countSub definition") =
    forAll(indicatorText) { s =>
      val (dt, cats) = TextAnalyzer.docTypeAndCategories(s)
      // reference form: per-type sums of countSub + >=2 contains filter
      var best = "other"; var bestScore = 0
      val expCats = scala.collection.mutable.ArrayBuffer.empty[String]
      TextAnalyzer.docTypeIndicators.foreach { case (t, inds) =>
        val score = inds.map(i => PyText.countSub(s, i)).sum
        val hits = inds.count(s.contains)
        if (score > bestScore) { best = t; bestScore = score }
        if (hits >= 2) expCats += t
      }
      dt == best && cats == expCats.distinct.sorted.take(5).toSeq
    }

  property("pageStats counting loops equal the split-based definitions") =
    forAll(anyText) { s =>
      val got = graft.analyzers.LangScript.pageStats(s)
      got.charCount == s.length &&
      got.wordCount == PyText.splitWs(s).length &&
      got.lineCount == PyText.splitKeepEmpty(s, "\n").length &&
      got.paragraphCount ==
        PyText.splitKeepEmpty(s, "\n\n").count(p => PyText.strip(p).nonEmpty)
    }

  property("zero-alloc language scorer equals the token-membership scorer") =
    forAll(anyText) { s =>
      import graft.analyzers.LangScript
      val got = LangScript.detectLanguage(s)
      // reference scorer: tokenize + Set membership (the pre-round-2 form)
      if (PyText.strip(s).length < 20 ||
          !Seq("Latin", "Other", "Mixed", "unknown").contains(LangScript.detectScript(s))) true
      else {
        val tokens = TextAnalyzer.tokenize(s)
        val hits = LangScript.profiles.map { case (l, words) =>
          (l, tokens.count(words.contains).toDouble)
        }
        val total = hits.map(_._2).sum
        if (tokens.isEmpty || total == 0) got.detected == "unknown"
        else {
          val expected = hits.map { case (l, h) => (l, h / total) }
            .sortBy { case (l, p) => (-p, l) }.head
          got.detected == expected._1 &&
            got.confidence == PyText.pyRound(expected._2, 3)
        }
      }
    }

  // Text for the page kernel: every script range T14 counts, surrogate
  // pairs (letters and not) and lone halves, U+0085 / U+00A0 and other
  // Python-only whitespace, '\n\n' runs, '[\\]^_`{|}~' (inside the Latin
  // range), marker words and E7 patterns in mixed case, and chars whose
  // per-char lowercase differs from String.toLowerCase (U+0130, U+212A).
  private val kernelText: Gen[String] = {
    val markers = graft.analyzers.LangScript.profiles.flatMap(_._2).toIndexedSeq
    val sigs = Seq("signature", "signed by", "sign here", "per:", "by:", "signé",
      "firma", "SIGNÉ", "Signed  by", "sİgnature", "pe", "sig", "fir")
    val pieces = Seq("Le", "the", "Und", "word", "x", "ab-cd", "a_b", "42",
      "привет", "Мир", "مرحبا", "中文", "ひらがな", "カタカナ", "\uD835\uDC00",
      "\uD83D\uDE00", "\uD840\uDC00", "\uD800", "\uDC00", "\u0085", "\u00A0",
      "\u2028", "\u3000", "\u000B", "\u001C", "\n", "\n\n", "\n\n\n", " ", "\t",
      "[\\]^_`{|}~", "İ", "\u212A", "ß", "ẞ", "é", "É", ".", ",", "-", ":")
    Gen.listOf(Gen.frequency(
      4 -> Gen.oneOf(pieces),
      2 -> Gen.oneOf(markers).flatMap(w => Gen.oneOf(w, w.toUpperCase, w.capitalize)),
      1 -> Gen.oneOf(sigs).flatMap(w => Gen.oneOf(w, w.toUpperCase, w.capitalize)),
      1 -> Gen.asciiPrintableStr.map(_.take(8))))
      .map(_.mkString)
  }

  property("page kernel equals the reference page-stats, script, marker and E7 loops") =
    forAll(kernelText) { s =>
      val m = graft.analyzers.LangScriptReference.mismatch(s)
      m.isEmpty :| m.getOrElse("")
    }

  property("page kernel equals the reference loops around every single char") = {
    val bad = (0 to 0xFFFF).iterator.flatMap { code =>
      val c = code.toChar
      Seq(s"a${c}b", s"$c", s"${c}ignature", s"s${c}gnature", s"sign$c",
        s"\n$c\n", s"$c${c}er:").iterator
        .flatMap(t => graft.analyzers.LangScriptReference.mismatch(t).map(m => f"U+$code%04X in ${t.length}-char text: $m"))
    }
    val first = bad.nextOption()
    first.isEmpty :| first.getOrElse("")
  }

  property("document script and E7 flag roll up from the page scans") =
    forAll(Gen.listOf(kernelText)) { pages =>
      import graft.analyzers.{LangScript, LangScriptReference}
      val joined = pages.mkString(graft.extract.Extractor.PageBreak)
      val scans = pages.map(LangScript.scan)
      LangScript.joinedScript(scans, LangScript.scan(graft.extract.Extractor.PageBreak)) ==
        LangScriptReference.detectScript(joined) &&
      scans.exists(_.sigPattern) == LangScriptReference.containsAnySigPattern(joined)
    }

  // markup whose text nodes hit the fused run's cases: nbsp-only and
  // whitespace-only nodes, words split across inline tags, anchors,
  // headings, structural containers and skipped subtrees
  private val markup: Gen[String] = {
    val words = Gen.listOfN(20, Gen.oneOf("alpha", "beta", "gamma", "x", "Lorem"))
      .map(_.mkString(" "))
    Gen.listOf(Gen.frequency(
      3 -> Gen.oneOf("word", "two words", " ", "\n\t ", "\u00A0", "&nbsp;", " &#160; ",
        "a\u00A0b", "\u2028", "\u0085", "tail "),
      1 -> words,
      3 -> Gen.oneOf("<p>", "</p>", "<div>", "</div>", "<span>", "</span>",
        "<a href='/x'>", "</a>", "<h2>", "</h2>", "<li>", "<td>", "<br>",
        "<nav>", "</nav>", "<footer>", "</footer>", "<b>", "</b>",
        "<script>var t = 'text';</script>", "<style>p { }</style>",
        "<button>Go</button>")))
      .map(_.mkString("<html><body>", "", "</body></html>"))
  }

  property("fused Boilerplate.segment equals the pre-fusion segment") =
    forAll(markup) { html =>
      val dom = DomBuilder.parse(html)
      Boilerplate.segment(dom) == graft.html.BoilerplateReference.segment(dom)
    }

  property("html text nodes survive the tokenizer+dom for markup-free text") =
    forAll(Gen.listOf(Gen.oneOf(Gen.alphaNumChar, Gen.const(' '))).map(_.mkString)) { t =>
      val dom = DomBuilder.parse(s"<html><body><main><p>$t</p></main></body></html>")
      val text = Boilerplate.segment(dom).map(_.text).mkString("\n")
      // content blocks may drop short/low-quality text entirely, but must
      // never invent characters
      Boilerplate.normalizeWs(t).contains(text) || text.isEmpty ||
        text == Boilerplate.normalizeWs(t)
    }

  property("simhash hamming distance is a metric-ish bound in [0, 64]") =
    forAll(anyText, anyText) { (a, b) =>
      val d = Dedup.hamming64(Dedup.simhash64(a), Dedup.simhash64(b))
      d >= 0 && d <= 64 && Dedup.hamming64(Dedup.simhash64(a), Dedup.simhash64(a)) == 0
    }

  property("ngram jaccard is symmetric and in [0, 1]") =
    forAll(anyText, anyText) { (a, b) =>
      val j1 = Dedup.ngramJaccard(a, b, 3)
      val j2 = Dedup.ngramJaccard(b, a, 3)
      j1 == j2 && j1 >= 0.0 && j1 <= 1.0 && Dedup.ngramJaccard(a, a, 3) == 1.0
    }

  property("minhash signature jaccard of identical texts is 1") =
    forAll(anyText.suchThat(_.trim.nonEmpty)) { s =>
      val params = Dedup.hashParams(32)
      val sig = Dedup.minhashSignature(Dedup.shingleHashes(s, 3), params)
      Dedup.signatureJaccard(sig, sig) == 1.0
    }

  private val cellGen: Gen[String] = Gen.listOf(Gen.oneOf(Gen.alphaNumChar,
    Gen.oneOf(',', '"', '\n', ' ', '.'))).map(_.mkString)

  property("csv render is parseable back to the original matrix (RFC quoting inverse)") =
    forAll(Gen.listOfN(3, Gen.listOfN(3, cellGen))) { rows =>
      val t = Tables.EnhancedTable("t", 1, 3, 3, data = rows.map(_.toSeq))
      val csv = t.toCsv
      parseCsv(csv) == rows.map(_.toList)
    }

  /** Minimal RFC-4180 parser (CRLF rows, doubled-quote escape). */
  private def parseCsv(s: String): List[List[String]] = {
    val rows = scala.collection.mutable.ListBuffer.empty[List[String]]
    val row = scala.collection.mutable.ListBuffer.empty[String]
    val cell = new StringBuilder
    var i = 0
    var inQ = false
    while (i < s.length) {
      val c = s.charAt(i)
      if (inQ) {
        if (c == '"' && i + 1 < s.length && s.charAt(i + 1) == '"') { cell += '"'; i += 1 }
        else if (c == '"') inQ = false
        else cell += c
      } else c match {
        case '"' => inQ = true
        case ',' => row += cell.toString; cell.clear()
        case '\r' if i + 1 < s.length && s.charAt(i + 1) == '\n' =>
          row += cell.toString; cell.clear()
          rows += row.toList; row.clear()
          i += 1
        case other => cell += other
      }
      i += 1
    }
    rows.toList
  }
}
