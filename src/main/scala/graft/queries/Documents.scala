package graft
package queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.ops.{Dedup, Quality}
import Fixtures._
import PlanProp._

/** Document analyzers and quality signals over the `documents` table:
  * counts, word clouds, doc-type and structure scores, exact dedup,
  * n-gram duplication and benchmark contamination. */
object Documents {

  val all: Seq[Query] = Seq(

    Query("doc_len_hist", (s, dir) => {
      t(s, dir, "documents")
        .groupBy(floor(length(col("text")) / 500).as("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          sum(size(split(col("text"), " ", -1)).cast("long")).as("total_tokens"))
        .orderBy(col("bucket"))
    },
      oracle = Some("""SELECT CAST(FLOOR(length(text) / 500) AS BIGINT) AS bucket,
        | COUNT(*) AS n_docs,
        | CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens
        |FROM documents GROUP BY 1 ORDER BY bucket""".stripMargin)),

    Query("doc_stats", (s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          length(col("text")).as("n_chars_actual"),
          size(split(col("text"), " ", -1)).as("n_tokens"),
          col("lang"))
        .orderBy(col("doc_id"))
    },
      oracle = Some("""SELECT doc_id, length(text) AS n_chars_actual,
        | len(string_split(text, ' ')) AS n_tokens, lang
        |FROM documents ORDER BY doc_id""".stripMargin)),

    Query("word_topk", (s, dir) => {
      t(s, dir, "documents")
        .select(explode(split(lower(col("text")), " ", -1)).as("word"))
        .filter(length(col("word")) > 2)
        .groupBy(col("word"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("word"))
        .limit(20)
    },
      oracle = Some("""SELECT word, COUNT(*) AS cnt FROM (
        | SELECT unnest(string_split(lower(text), ' ')) AS word FROM documents)
        |WHERE length(word) > 2
        |GROUP BY word ORDER BY cnt DESC, word LIMIT 20""".stripMargin)),

    Query("wordcloud_top10", (s, dir) => {
      // token total folded in-plan: every token lands in exactly one
      // group, so sum(cnt) over the aggregated vocabulary == toks.count()
      // — computed by an unbounded window over the (bounded, vocabulary-
      // sized) aggregate instead of a second full corpus scan.
      val toks = t(s, dir, "documents")
        .select(explode(split(lower(col("text")), " ", -1)).as("word"))
        .filter(length(col("word")) > 2)
      val wAll = org.apache.spark.sql.expressions.Window.partitionBy()
      toks.groupBy(col("word"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("pct",
          round(col("cnt") * lit(100.0) / sum(col("cnt")).over(wAll).cast("double"), 2)
            .cast("double"))
        .orderBy(col("cnt").desc, col("word"))
        .limit(10)
    },
      oracle = Some("""WITH f AS (
        | SELECT word FROM (
        |  SELECT unnest(string_split(lower(text), ' ')) AS word FROM documents)
        | WHERE length(word) > 2)
        |SELECT word, COUNT(*) AS cnt,
        | CAST(ROUND(COUNT(*) * 100.0 / (SELECT COUNT(*) FROM f), 2) AS DOUBLE) AS pct
        |FROM f GROUP BY word ORDER BY cnt DESC, word LIMIT 10""".stripMargin),
      plan = Seq(scans(1), has("Window"))),

    Query("doctype_score", (s, dir) => {
      def hits(word: String): Column =
        ((length(col("text")) - length(regexp_replace(col("text"), word, "")))
          / lit(word.length)).cast("bigint")
      t(s, dir, "documents")
        .select(col("doc_id"),
          hits("data").as("data_hits"),
          hits("table").as("table_hits"),
          hits("join").as("join_hits"))
        .orderBy(col("doc_id"))
    },
      oracle = Some("""SELECT doc_id,
        | CAST((length(text) - length(replace(text, 'data', ''))) / length('data') AS BIGINT) AS data_hits,
        | CAST((length(text) - length(replace(text, 'table', ''))) / length('table') AS BIGINT) AS table_hits,
        | CAST((length(text) - length(replace(text, 'join', ''))) / length('join') AS BIGINT) AS join_hits
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // R1/R2 page-classification thresholds + single-page structure
    // roll-up, exercised through Extractor.classifyPage on a synthetic
    // per-doc "page" (substr slice + synthetic image count/coverage give
    // ALL FIVE page classes, incl. the coverage-driven mixed_content and
    // scanned_image branches)
    Query("doc_structure", (s, dir) => {
      val classify = udf { (t: String, imgs: Int, cov: Double) =>
        val stripped = graft.analyzers.PyText.strip(if (t == null) "" else t)
        val (pt, _, _, isOcr, isMixed) =
          graft.extract.Extractor.classifyPage(stripped.length, imgs, cov)
        (pt,
          if (isMixed) "mixed"
          else if (isOcr) "pure_scanned"
          else "pure_digital")
      }
      t(s, dir, "documents")
        .withColumn("page_text", expr("substring(text, 1, cast(doc_id % 120 as int))"))
        .withColumn("imgs", (col("doc_id") % 3).cast("int"))
        .withColumn("cov", (col("doc_id") % 10).cast("double") / 10.0)
        .withColumn("c", classify(col("page_text"), col("imgs"), col("cov")))
        .select(col("doc_id"), col("c._1").as("page_type"),
          col("c._2").as("doc_structure"))
        .orderBy(col("doc_id"))
    },
      // mirror of the FULL Extractor.classifyPage decision chain
      // (ocr_engine.py:926-970) incl. the coverage branches, + the
      // single-page R2 roll-up; ws set = Python str.strip ASCII chars
      oracle = Some("""WITH p AS (
        | SELECT doc_id,
        |  length(trim(substr(text, 1, CAST(doc_id % 120 AS INT)),
        |    ' ' || chr(9) || chr(10) || chr(13) || chr(12) || chr(11))) AS sc,
        |  CAST(doc_id % 3 AS INT) AS imgs,
        |  CAST(doc_id % 10 AS DOUBLE) / 10.0 AS cov
        | FROM documents),
        |c AS (
        | SELECT doc_id,
        |  CASE WHEN sc < 10 AND imgs = 0 THEN 'empty'
        |   WHEN sc >= 50 AND cov <= 0.3 THEN 'digital_text'
        |   WHEN sc < 50 AND cov > 0.7 THEN 'scanned_image'
        |   WHEN sc >= 50 AND cov > 0.3 THEN 'mixed_content'
        |   WHEN sc < 50 AND imgs > 0 THEN 'image_with_text'
        |   ELSE 'scanned_image' END AS page_type
        | FROM p)
        |SELECT doc_id, page_type,
        | CASE WHEN page_type = 'mixed_content' THEN 'mixed'
        |  WHEN page_type IN ('scanned_image', 'image_with_text') THEN 'pure_scanned'
        |  ELSE 'pure_digital' END AS doc_structure
        |FROM c ORDER BY doc_id""".stripMargin)),

    // R4 additive complexity (Extractor.complexityScore) with synthetic
    // page-count / format / language-hint variety so every band fires
    Query("complexity_sql", (s, dir) => {
      val cx = udf { (len: Long, pages: Int, fmt: String, lang: String) =>
        graft.extract.Extractor.complexityScore(len, pages, fmt, lang)
      }
      t(s, dir, "documents")
        .select(col("doc_id"),
          cx(length(col("text")).cast("long"),
            (col("doc_id") % 60 + 1).cast("int"),
            when(col("doc_id") % 2 === 0, "pdf").otherwise("html"),
            when(col("doc_id") % 7 === 0, lit("zh")).otherwise(col("lang")))
            .cast("int").as("complexity"))
        .orderBy(col("doc_id"))
    },
      // mirror of Extractor.complexityScore (smart_router.py:218-242)
      oracle = Some("""SELECT doc_id, CAST(LEAST(100, 50
        | + CASE WHEN length(text) > 10485760 THEN 20
        |        WHEN length(text) > 1048576 THEN 10 ELSE 0 END
        | + CASE WHEN doc_id % 60 + 1 > 50 THEN 20
        |        WHEN doc_id % 60 + 1 > 10 THEN 10 ELSE 0 END
        | + CASE WHEN doc_id % 2 = 0 THEN 10 ELSE 0 END
        | + CASE WHEN (CASE WHEN doc_id % 7 = 0 THEN 'zh' ELSE lang END)
        |        IN ('zh','ja','ko','ar') THEN 15 ELSE 0 END) AS INT) AS complexity
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // T5 keyword scoring shape: tf * ln(1 + total/(tf+1)), top 15
    Query("keyword_topk_sql", (s, dir) => {
      // token total folded in-plan (see wordcloud_top10): one corpus scan
      val toks = t(s, dir, "documents")
        .select(explode(split(lower(col("text")), " ", -1)).as("word"))
        .filter(length(col("word")) > 3 && !col("word").rlike("^[0-9]+$"))
      val wAll = org.apache.spark.sql.expressions.Window.partitionBy()
      toks.groupBy(col("word"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("score",
          round(col("cnt") * log(lit(1.0) +
            sum(col("cnt")).over(wAll).cast("double") / (col("cnt") + 1)), 4))
        .orderBy(col("score").desc, col("word"))
        .limit(15)
    },
      oracle = Some("""WITH toks AS (
        | SELECT word FROM (
        |  SELECT unnest(string_split(lower(text), ' ')) AS word FROM documents)
        | WHERE length(word) > 3 AND NOT regexp_matches(word, '^[0-9]+$'))
        |SELECT word, COUNT(*) AS cnt,
        | ROUND(COUNT(*) * ln(1.0 + (SELECT COUNT(*) FROM toks) / (COUNT(*) + 1)), 4) AS score
        |FROM toks GROUP BY word ORDER BY score DESC, word LIMIT 15""".stripMargin),
      plan = Seq(scans(1), has("Window"))),

    Query("lang_rollup", (s, dir) => {
      t(s, dir, "documents")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(length(col("text")).cast("long")).as("total_chars"))
        .orderBy(col("lang"))
    },
      oracle = Some("""SELECT lang, COUNT(*) AS n_docs,
        | CAST(SUM(length(text)) AS BIGINT) AS total_chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin)),

    Query("dedup_exact", (s, dir) => {
      t(s, dir, "documents")
        .groupBy(md5(col("text")).as("digest"))
        .agg(count(lit(1)).as("cluster_size"), min(col("doc_id")).as("canonical_id"))
        .orderBy(col("digest"))
        .limit(100)
    },
      oracle = Some("""SELECT md5(text) AS digest, COUNT(*) AS cluster_size, MIN(doc_id) AS canonical_id
        |FROM documents GROUP BY 1 ORDER BY digest LIMIT 100""".stripMargin)),

    Query("quality_sql", (s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          (length(col("text")) - length(regexp_replace(col("text"), "[.,!?;:]", "")))
            .cast("bigint").as("punct_chars"),
          size(split(col("text"), " ", -1)).as("n_tokens"))
        .orderBy(col("doc_id"))
    },
      oracle = Some("""SELECT doc_id,
        | CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS BIGINT) AS punct_chars,
        | len(string_split(text, ' ')) AS n_tokens
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // cross-document exact n-gram duplication report — the discovery
    // stage of substring-level dedup (Lee et al. 2022); string form here
    // for the exact DuckDB twin (the operator's scale path groups by the
    // 64-bit murmur fingerprint instead — see SimilarityDedupSpec)
    Query("dup_ngrams_sql", (s, dir) => {
      val docs = t(s, dir, "documents")
        .filter(col("doc_id") < 200 && trim(col("text")) =!= "")
        .select(col("doc_id"), col("text"))
      Dedup.duplicateShingles(docs, "doc_id", "text", k = 3, minDocs = 2,
          hashed = false)
        .orderBy(col("n_occurrences").desc, col("shingle"))
        .limit(100)
    },
      // same shingle construction as shingle_jaccard_sql's twin, WITHOUT
      // the distinct (occurrences count every window), grouped cross-doc
      oracle = Some("""WITH d AS (
        | SELECT doc_id,
        |  list_filter(regexp_split_to_array(lower(text), '[ \t\n\r\f\v]+'), t -> t != '') AS toks
        | FROM documents WHERE doc_id < 200 AND trim(text) != ''),
        |s AS (
        | SELECT doc_id,
        |  CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
        |       ELSE list_transform(range(1, len(toks) - 1),
        |         i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) END AS sh
        | FROM d WHERE len(toks) > 0),
        |u AS (SELECT doc_id, unnest(sh) AS shingle FROM s)
        |SELECT shingle, COUNT(DISTINCT doc_id) AS n_docs,
        | COUNT(*) AS n_occurrences
        |FROM u GROUP BY shingle HAVING COUNT(DISTINCT doc_id) >= 2
        |ORDER BY n_occurrences DESC, shingle LIMIT 100""".stripMargin)),

    // benchmark-decontamination check: distinct-3-gram containment of
    // "eval" docs (400-449) against the "training" corpus (0-199) —
    // string shingles for the exact DuckDB twin; the operator's scale
    // path joins on 64-bit fingerprints
    Query("contamination_sql", (s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val corpus = docs.filter(col("doc_id") < 200)
      val cands = docs.filter(col("doc_id") >= 400 && col("doc_id") < 450)
      Dedup.contaminationReport(cands, corpus, "doc_id", "text", k = 3,
          hashed = false)
        .select(col("id").as("doc_id"), col("n_shingles"), col("n_hit"),
          col("contamination"))
        .orderBy(col("doc_id"))
    },
      // same shingle construction; DISTINCT per doc, containment vs the
      // distinct corpus shingle set
      oracle = Some("""WITH d AS (
        | SELECT doc_id,
        |  list_filter(regexp_split_to_array(lower(text), '[ \t\n\r\f\v]+'), t -> t != '') AS toks
        | FROM documents WHERE doc_id < 200 OR (doc_id >= 400 AND doc_id < 450)),
        |s AS (
        | SELECT doc_id,
        |  list_distinct(CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
        |       ELSE list_transform(range(1, len(toks) - 1),
        |         i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) END) AS sh
        | FROM d WHERE len(toks) > 0),
        |corp AS (SELECT DISTINCT unnest(sh) AS shingle FROM s WHERE doc_id < 200),
        |cand AS (SELECT doc_id, unnest(sh) AS shingle FROM s
        |         WHERE doc_id >= 400 AND doc_id < 450)
        |SELECT doc_id, COUNT(*) AS n_shingles,
        | CAST(SUM(CASE WHEN shingle IN (SELECT shingle FROM corp)
        |   THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
        | ROUND(CAST(SUM(CASE WHEN shingle IN (SELECT shingle FROM corp)
        |   THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 4) AS contamination
        |FROM cand GROUP BY doc_id ORDER BY doc_id""".stripMargin),
      plan = Seq(noCartesian, atLeast("HashAggregate", 4))),

    // Gopher-style repetition/shape quality signals (Rae et al. 2021
    // appendix A1) — pure column expressions, exact DuckDB twin
    Query("quality_gopher", (s, dir) => {
      Quality.withGopherColumns(t(s, dir, "documents"))
        .select(col("doc_id"), col("n_words"),
          round(col("mean_word_len"), 4).as("mean_word_len"),
          col("n_lines"),
          round(col("frac_distinct_lines"), 4).as("frac_distinct_lines"),
          round(col("frac_punct_lines"), 4).as("frac_punct_lines"),
          round(col("symbol_word_ratio"), 4).as("symbol_word_ratio"),
          col("gopher_keep"))
        .orderBy(col("doc_id"))
    },
      // exact mirror of Quality.withGopherColumns' column expressions
      oracle = Some("""WITH g AS (
        | SELECT doc_id,
        |  CAST(len(list_filter(regexp_split_to_array(text, '\s+'), w -> w != '')) AS INT) AS n_words,
        |  length(regexp_replace(text, '\s', '', 'g')) AS nonws_chars,
        |  list_filter(list_transform(string_split(text, chr(10)), l -> trim(l)), l -> l != '') AS lines,
        |  length(text) - length(replace(text, '#', '')) AS hash_chars,
        |  length(text) - length(replace(text, '...', '')) AS ell_chars
        | FROM documents)
        |SELECT doc_id, n_words,
        | ROUND(CASE WHEN n_words = 0 THEN CAST(0.0 AS DOUBLE)
        |  ELSE CAST(nonws_chars AS DOUBLE) / n_words END, 4) AS mean_word_len,
        | CAST(len(lines) AS INT) AS n_lines,
        | ROUND(CASE WHEN len(lines) = 0 THEN CAST(1.0 AS DOUBLE)
        |  ELSE CAST(len(list_distinct(lines)) AS DOUBLE) / len(lines) END, 4) AS frac_distinct_lines,
        | ROUND(CASE WHEN len(lines) = 0 THEN CAST(0.0 AS DOUBLE)
        |  ELSE CAST(len(list_filter(lines, l -> regexp_matches(l, '[.!?"]$'))) AS DOUBLE) / len(lines) END, 4) AS frac_punct_lines,
        | ROUND(CASE WHEN n_words = 0 THEN CAST(0.0 AS DOUBLE)
        |  ELSE CAST(hash_chars + ell_chars / 3 AS DOUBLE) / n_words END, 4) AS symbol_word_ratio,
        | (n_words >= 50 AND n_words <= 100000
        |  AND (CASE WHEN n_words = 0 THEN 0.0 ELSE CAST(nonws_chars AS DOUBLE) / n_words END) >= 3.0
        |  AND (CASE WHEN n_words = 0 THEN 0.0 ELSE CAST(nonws_chars AS DOUBLE) / n_words END) <= 10.0
        |  AND (CASE WHEN len(lines) = 0 THEN 1.0 ELSE CAST(len(list_distinct(lines)) AS DOUBLE) / len(lines) END) >= 0.7
        |  AND (CASE WHEN n_words = 0 THEN 0.0 ELSE CAST(hash_chars + ell_chars / 3 AS DOUBLE) / n_words END) <= 0.1) AS gopher_keep
        |FROM g ORDER BY doc_id""".stripMargin),
      plan = Seq(scans(1), noUdf, codegen)),

    Query("quality_scores", (s, dir) => {
      Quality.withQualityColumns(t(s, dir, "documents"))
        .select(col("doc_id"), col("n_tokens"), col("n_subwords"),
          round(col("punct_ratio"), 4).as("punct_ratio"),
          round(col("stopword_ratio"), 4).as("stopword_ratio"),
          col("quality_score"), col("fingerprint"), col("detected_lang"))
        .orderBy(col("doc_id"))
    }))
}
