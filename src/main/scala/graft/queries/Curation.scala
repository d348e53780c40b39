package graft
package queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.ops.Quality
import Fixtures._
import PlanProp._

/** Corpus curation: line cleaning, normalization, content keys, the
  * two curation funnels, paragraph dedup, PII scrubbing, splits and
  * samples, readability, span removal, mixing and language deciles. */
object Curation {

  val all: Seq[Query] = Seq(

    // per-language length deciles — corpus shape report for curation
    // dashboards; ntile over a TOTAL order (length, doc_id) so bucket
    // boundaries are deterministic on any engine
    Query("lang_deciles", (s, dir) => {
      val w = Window.partitionBy(col("lang"))
        .orderBy(col("n_chars"), col("doc_id"))
      t(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          length(col("text")).cast("long").as("n_chars"))
        .withColumn("decile", ntile(10).over(w).cast("long"))
        .groupBy(col("lang"), col("decile"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("n_chars")).as("min_chars"),
          max(col("n_chars")).as("max_chars"))
        .orderBy(col("lang"), col("decile"))
    },
      // per-language decile twin: ntile over the identical total order
      oracle = Some("""WITH d AS (
        |  SELECT doc_id, lang, CAST(length(text) AS BIGINT) AS n_chars
        |  FROM documents),
        |n AS (
        |  SELECT lang, n_chars,
        |    ntile(10) OVER (PARTITION BY lang
        |      ORDER BY n_chars, doc_id) AS decile
        |  FROM d)
        |SELECT lang, decile, COUNT(*) AS n_docs,
        |  MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
        |FROM n GROUP BY lang, decile ORDER BY lang, decile""".stripMargin)),

    // Unicode NFC normalization via the native codegen expression
    // (functions.NfcNormalize — Spark ships no builtin): decomposed
    // combining sequences and compatibility singletons are synthesized
    // deterministically on both sides; DuckDB's nfc_normalize is the
    // independent twin, so the oracle certifies the normalization
    // itself byte-for-byte.
    Query("nfc_normalize", (s, dir) => {
      graft.functions.GraftExtensions.register(s)
      val raw = concat(
        substring(col("text"), 1, 20),
        when(col("doc_id") % 3 === 0, lit(" éclair"))
          .when(col("doc_id") % 3 === 1, lit(" angèle"))
          .otherwise(lit(" plain")),
        when(col("doc_id") % 5 === 0, lit(" Å")).otherwise(lit("")))
      t(s, dir, "documents")
        .select(col("doc_id"), raw.as("raw"))
        .withColumn("nfc", graft.functions.NfcNormalize.nfcCol(col("raw")))
        .select(col("doc_id"),
          length(col("raw")).cast("long").as("n_chars_raw"),
          col("nfc"),
          length(col("nfc")).cast("long").as("n_chars_nfc"))
        .orderBy(col("doc_id"))
    },
      // NFC twin: identical synthesized denormalized text; DuckDB's
      // independent nfc_normalize implementation must agree byte-for-byte
      oracle = Some("""WITH r AS (
        |  SELECT doc_id,
        |    substr(text, 1, 20)
        |    || CASE WHEN doc_id % 3 = 0 THEN ' e' || chr(769) || 'clair'
        |            WHEN doc_id % 3 = 1 THEN ' ange' || chr(768) || 'le'
        |            ELSE ' plain' END
        |    || CASE WHEN doc_id % 5 = 0 THEN ' ' || chr(8491)
        |            ELSE '' END AS raw
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(length(raw) AS BIGINT) AS n_chars_raw,
        |  nfc_normalize(raw) AS nfc,
        |  CAST(length(nfc_normalize(raw)) AS BIGINT) AS n_chars_nfc
        |FROM r ORDER BY doc_id""".stripMargin),
      plan = Seq(scans(1), noUdf, codegen)),

    // C4 line-level cleaning — line boundaries synthesized
    // deterministically on both sides (documents.text has no newlines):
    // three prose-shaped lines, a short nav stub, a javascript notice,
    // a variably-terminated line, plus lorem-ipsum / brace lines on a
    // doc_id cadence so both per-line and per-doc rules exercise.
    Query("c4_clean", (s, dir) => {
      val nl = lit("\n")
      val ctext = concat(
        substring(col("text"), 1, 50), lit("."), nl,
        lit("this is a perfectly fine prose sentence."), nl,
        lit("menu"), nl,
        lit("please enable javascript to view this page."), nl,
        substring(col("text"), 51, 40),
        when(col("doc_id") % 4 === 0, lit(" and so it ends."))
          .otherwise(lit(" no terminal")), nl,
        substring(col("text"), 91, 40), lit(" closing words."),
        when(col("doc_id") % 10 === 0,
          concat(nl, lit("lorem ipsum dolor sit amet."))).otherwise(lit("")),
        when(col("doc_id") % 9 === 0,
          concat(nl, lit("function f() { return 1; }"))).otherwise(lit("")))
      ops.C4Clean.cleanLines(
          t(s, dir, "documents").select(col("doc_id"), ctext.as("ctext")),
          "ctext")
        .select(col("doc_id"), col("n_lines"), col("n_kept_lines"),
          col("c4_keep"), col("cleaned"))
        .orderBy(col("doc_id"))
    },
      // C4 cleaning twin: identical synthesized lines, independent list
      // expressions
      oracle = Some("""WITH c AS (
        |  SELECT doc_id,
        |    substr(text, 1, 50) || '.' || chr(10)
        |    || 'this is a perfectly fine prose sentence.' || chr(10)
        |    || 'menu' || chr(10)
        |    || 'please enable javascript to view this page.' || chr(10)
        |    || substr(text, 51, 40)
        |    || CASE WHEN doc_id % 4 = 0 THEN ' and so it ends.'
        |            ELSE ' no terminal' END || chr(10)
        |    || substr(text, 91, 40) || ' closing words.'
        |    || CASE WHEN doc_id % 10 = 0
        |            THEN chr(10) || 'lorem ipsum dolor sit amet.'
        |            ELSE '' END
        |    || CASE WHEN doc_id % 9 = 0
        |            THEN chr(10) || 'function f() { return 1; }'
        |            ELSE '' END AS ctext
        |  FROM documents),
        |l AS (
        |  SELECT doc_id, ctext,
        |    string_split(ctext, chr(10)) AS lines,
        |    list_filter(string_split(ctext, chr(10)), x ->
        |      (x LIKE '%.' OR x LIKE '%!' OR x LIKE '%?' OR x LIKE '%"')
        |      AND len(list_filter(string_split_regex(x, '\s+'),
        |            w -> w != '')) >= 5
        |      AND NOT contains(lower(x), 'javascript')) AS kept
        |  FROM c)
        |SELECT doc_id,
        |  CAST(len(lines) AS BIGINT) AS n_lines,
        |  CAST(len(kept) AS BIGINT) AS n_kept_lines,
        |  (NOT contains(lower(ctext), 'lorem ipsum')
        |   AND NOT contains(ctext, '{')
        |   AND len(kept) >= 3) AS c4_keep,
        |  array_to_string(kept, chr(10)) AS cleaned
        |FROM l ORDER BY doc_id""".stripMargin),
      plan = Seq(scans(1), noUdf, lacks("hashpartitioning"))),

    // temperature-scaled mixing quotas per language — α=0.5 weights in
    // integer micro-units (per-group sqrt quantized FIRST, integer-sum
    // normalizer), doc budget 100k split by weight.
    Query("mixing_quotas", (s, dir) =>
      ops.Mixing.temperatureQuotas(t(s, dir, "documents"), "lang",
          budget = 100000L)
        .orderBy(col("lang")),
      // mixing twin: same quantize-then-normalize integer rule
      oracle = Some("""WITH c AS (
        |  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs
        |  FROM documents GROUP BY lang),
        |s AS (
        |  SELECT lang, n_docs,
        |    CAST(FLOOR(sqrt(CAST(n_docs AS DOUBLE)) * 1e6) AS BIGINT)
        |      AS s_micro
        |  FROM c),
        |t AS (SELECT CAST(SUM(s_micro) AS BIGINT) AS total_micro FROM s)
        |SELECT lang, n_docs,
        |  (s_micro * 1000000) // total_micro AS weight_micro,
        |  (100000 * s_micro) // total_micro AS quota_docs
        |FROM s CROSS JOIN t ORDER BY lang""".stripMargin)),

    // duplicate-span removal (Lee et al. removal stage) — string-keyed
    // here so the DuckDB twin can reproduce the cleaned text
    // byte-exactly; hashed=true is the production path (spec-pinned
    // equal on fixtures).
    Query("span_removal", (s, dir) =>
      ops.SpanRemoval.removeDuplicateSpans(
          t(s, dir, "documents"), "doc_id", "text", hashed = false)
        .orderBy(col("doc_id")),
      // span-removal twin: zipped unnests give (pos, token) and
      // (pos, shingle); identical coverage + ordered reassembly
      oracle = Some("""WITH d AS (
        |  SELECT doc_id, string_split(text, ' ') AS arr FROM documents),
        |s AS (SELECT doc_id,
        |        unnest(range(len(arr) - 2)) AS p,
        |        unnest(list_transform(range(len(arr) - 2),
        |          i -> array_to_string(arr[i+1:i+3], ' '))) AS sh
        |      FROM d WHERE len(arr) >= 3),
        |dup AS (SELECT sh FROM s GROUP BY sh HAVING COUNT(*) >= 2),
        |cov AS (SELECT DISTINCT s.doc_id, s.p + o.o AS pos
        |        FROM s JOIN dup USING (sh)
        |        CROSS JOIN (SELECT unnest(range(3)) AS o) o),
        |toks AS (SELECT doc_id, unnest(range(len(arr))) AS pos,
        |           unnest(arr) AS tok FROM d),
        |kept AS (SELECT t.doc_id, t.pos, t.tok FROM toks t
        |         WHERE NOT EXISTS (SELECT 1 FROM cov c
        |           WHERE c.doc_id = t.doc_id AND c.pos = t.pos)),
        |ka AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
        |         string_agg(tok, ' ' ORDER BY pos) AS cleaned
        |       FROM kept GROUP BY doc_id)
        |SELECT d.doc_id, CAST(len(d.arr) AS BIGINT) AS n_tokens,
        |  CAST(len(d.arr) - COALESCE(ka.n_kept, 0) AS BIGINT)
        |    AS n_removed,
        |  COALESCE(ka.cleaned, '') AS cleaned
        |FROM d LEFT JOIN ka ON d.doc_id = ka.doc_id
        |ORDER BY d.doc_id""".stripMargin)),

    // readability over the REAL corpus text — Flesch reading ease +
    // Flesch-Kincaid grade in integer milli-units (pinned counting
    // heuristics; pure codegen regexp_count + integer div). The
    // oracle reimplements every count and both formulas independently
    // in DuckDB (RE2 regexes, // division) — byte-exact.
    Query("readability", (s, dir) =>
      ops.Readability.withReadability(
          t(s, dir, "documents").select(col("doc_id"), col("text")),
          "text")
        .select(col("doc_id"), col("n_words"), col("n_sentences"),
          col("n_syllables"), col("flesch_milli"), col("fk_milli"))
        .orderBy(col("doc_id")),
      // readability twin: independent DuckDB reimplementation of every
      // count and both integer milli formulas
      oracle = Some("""WITH f AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_extract_all(text, '[A-Za-z]+')) AS BIGINT)
        |      AS n_words,
        |    CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
        |      AS BIGINT) AS n_sentences,
        |    CAST(len(regexp_extract_all(text, '(?i)[aeiouy]+')) +
        |         len(regexp_extract_all(text,
        |           '(?i)\b[b-df-hj-np-tv-xz]+\b')) AS BIGINT)
        |      AS n_syllables
        |  FROM documents)
        |SELECT doc_id, n_words, n_sentences, n_syllables,
        |  CASE WHEN n_words = 0 THEN NULL
        |    ELSE 206835 - (1015 * n_words) // n_sentences
        |       - (84600 * n_syllables) // n_words END AS flesch_milli,
        |  CASE WHEN n_words = 0 THEN NULL
        |    ELSE (390 * n_words) // n_sentences
        |       + (11800 * n_syllables) // n_words - 15590 END AS fk_milli
        |FROM f ORDER BY doc_id""".stripMargin),
      plan = Seq(scans(1), noUdf, lacks("SerializeFromObject"), atMost("Exchange", 1))),

    // canonical dedup text key — case/punct/whitespace/Unicode-
    // composition traps (branch 1 precomposed vs branch 2 DECOMPOSED
    // must yield the same key shape); md5 digest both engines. The
    // oracle reruns the identical pipeline with nfc_normalize.
    Query("canon_text_key", (s, dir) => {
      val id = col("doc_id")
      val text = when(id % 4 === 0,
          concat(lit("The  QUICK,,, brown--fox! "), id.cast("string")))
        .when(id % 4 === 1,
          concat(lit("Café CRÈME "), id.cast("string")))
        .when(id % 4 === 2,
          concat(lit("Café CRÈME "), id.cast("string")))
        .otherwise(concat(lit("  spaces\tand\nnewlines  "),
          id.cast("string")))
      ops.CanonKey.withCanonKey(
          t(s, dir, "documents").select(id, text.as("text")), "text")
        .select(col("doc_id"), col("canon_key"), col("canon_digest"))
        .orderBy(id)
    },
      // canon-key twin: identical pipeline with DuckDB nfc_normalize;
      // branch 2 rebuilds the DECOMPOSED form via chr(769)
      oracle = Some("""WITH f AS (
        |  SELECT doc_id,
        |    CASE doc_id % 4
        |      WHEN 0 THEN 'The  QUICK,,, brown--fox! ' || doc_id
        |      WHEN 1 THEN 'Café CRÈME ' || doc_id
        |      WHEN 2 THEN 'Cafe' || chr(769) || ' CRÈME ' || doc_id
        |      ELSE '  spaces' || chr(9) || 'and' || chr(10) ||
        |        'newlines  ' || doc_id END AS text
        |  FROM documents),
        |k AS (
        |  SELECT doc_id,
        |    trim(regexp_replace(nfc_normalize(lower(text)),
        |      '[^\p{L}\p{N}]+', ' ', 'g')) AS canon_key
        |  FROM f)
        |SELECT doc_id, canon_key, md5(canon_key) AS canon_digest
        |FROM k ORDER BY doc_id""".stripMargin),
      plan = Seq(scans(1), noUdf, lacks("SerializeFromObject"))),

    // curation funnel v2 — the round-5 operators COMPOSED end to end
    // over real text: trap filter -> canonical-key exact dedup (keep
    // first surviving doc per digest; a planted duplicate family
    // collapses) -> Flesch floor (the planted duplicate's keeper
    // scores negative and dies here) -> p99 length gate computed on
    // the stage-3 survivors. Stage flags accumulate in ONE pass over
    // the persisted frame (+1 pass for the data-dependent p99). The
    // oracle reimplements every stage in SQL.
    Query("curation_funnel_v2", (s, dir) => {
      val id = col("doc_id")
      val base = t(s, dir, "documents").select(id, col("text"))
        .withColumn("path", when(id % 10 === 0, lit("/a/b/a/c/a"))
          .otherwise(lit("/a/b/c")))
        .withColumn("query", lit("x=1"))
        .withColumn("text2", when(id % 9 === 4,
          lit("Shared   DUPLICATE, text!")).otherwise(col("text")))
      val t1 = ops.TrapDetect.withTrapReason(base, "path", "query")
        .withColumn("f1", col("trap_reason") === "ok")
      val k1 = ops.CanonKey.withCanonKey(t1, "text2")
      val w = Window.partitionBy(col("canon_digest"))
        .orderBy(col("f1").desc, col("doc_id"))
      val flagged = ops.Readability.withReadability(
          k1.withColumn("rn", row_number().over(w))
            .withColumn("f2", col("f1") && col("rn") === 1),
          "text2")
        .withColumn("f3", col("f2") &&
          coalesce(col("flesch_milli") >= 30000L, lit(false)))
        .withColumn("len2", length(col("text2")).cast("long"))
        .persist()
      val p99 = ops.Quantiles.exactQuantiles(
          flagged.where(col("f3")).select(col("len2").as("v")), "v")
        .select(col("p99"))
      flagged.crossJoin(broadcast(p99))
        .agg(count(lit(1)).as("n_total"),
          sum(when(col("f1"), 1L).otherwise(0L)).as("n_after_traps"),
          sum(when(col("f2"), 1L).otherwise(0L)).as("n_after_dedup"),
          sum(when(col("f3"), 1L).otherwise(0L)).as("n_readable"),
          sum(when(col("f3") && col("len2") <= col("p99"), 1L)
            .otherwise(0L)).as("n_final"),
          sum(when(col("f3") && col("len2") <= col("p99"), col("doc_id"))
            .otherwise(0L)).cast("long").as("survivor_checksum"))
    },
      // funnel-v2 twin: every stage reimplemented — trap rule, nfc+md5
      // canonical dedup with the same keeper order, Flesch floor,
      // histogram p99 over stage-3 survivors
      oracle = Some("""WITH base AS (
        |  SELECT doc_id, text,
        |    CASE WHEN doc_id % 10 = 0 THEN '/a/b/a/c/a'
        |      ELSE '/a/b/c' END AS path,
        |    CASE WHEN doc_id % 9 = 4 THEN 'Shared   DUPLICATE, text!'
        |      ELSE text END AS text2
        |  FROM documents),
        |s1 AS (
        |  SELECT *, (SELECT len(list_filter(list_distinct(segs),
        |      d -> len(list_filter(segs, x -> x = d)) >= 3)) = 0
        |    FROM (SELECT list_filter(string_split(path, '/'),
        |      x -> x != '') AS segs)) AS f1
        |  FROM base),
        |k AS (
        |  SELECT *, md5(trim(regexp_replace(
        |    nfc_normalize(lower(text2)), '[^\p{L}\p{N}]+', ' ', 'g')))
        |    AS dg
        |  FROM s1),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY dg
        |    ORDER BY CASE WHEN f1 THEN 0 ELSE 1 END, doc_id) AS rn
        |  FROM k),
        |fl AS (SELECT *, f1 AND rn = 1 AS f2 FROM r),
        |rd AS (
        |  SELECT *,
        |    CAST(len(regexp_extract_all(text2, '[A-Za-z]+')) AS BIGINT)
        |      AS w,
        |    CAST(greatest(len(regexp_extract_all(text2, '[.!?]+')), 1)
        |      AS BIGINT) AS sct,
        |    CAST(len(regexp_extract_all(text2, '(?i)[aeiouy]+')) +
        |      len(regexp_extract_all(text2,
        |        '(?i)\b[b-df-hj-np-tv-xz]+\b')) AS BIGINT) AS y
        |  FROM fl),
        |f3t AS (
        |  SELECT *, f2 AND w > 0 AND
        |    (206835 - (1015 * w) // sct - (84600 * y) // w) >= 30000
        |      AS f3,
        |    CAST(length(text2) AS BIGINT) AS len2
        |  FROM rd),
        |hist AS (SELECT len2 AS v, COUNT(*) AS c FROM f3t WHERE f3
        |         GROUP BY 1),
        |cum AS (SELECT v, SUM(c) OVER (ORDER BY v) AS cum,
        |          SUM(c) OVER () AS n3
        |        FROM hist),
        |p99 AS (SELECT MIN(v) AS p99v FROM cum
        |        WHERE cum >= (99 * n3 + 99) // 100)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_total,
        |  CAST(SUM(CASE WHEN f1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_after_traps,
        |  CAST(SUM(CASE WHEN f2 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_after_dedup,
        |  CAST(SUM(CASE WHEN f3 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_readable,
        |  CAST(SUM(CASE WHEN f3 AND len2 <= p99.p99v THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_final,
        |  CAST(SUM(CASE WHEN f3 AND len2 <= p99.p99v THEN doc_id
        |    ELSE 0 END) AS BIGINT) AS survivor_checksum
        |FROM f3t, p99""".stripMargin),
      plan = Seq(shuffleKey("canon_digest"), noUdf, lacks("CartesianProduct"))),

    // PII redaction audit — emails/phones/IPv4 scrubbed to typed tokens
    // with per-type counts (ops.Pii: pure regexp column exprs, codegen,
    // map-only). The PII is synthesized deterministically from doc_id
    // IDENTICALLY on both sides, so the DuckDB twin checks the regex
    // semantics and the sequential email→phone→IP redaction order
    // themselves, not just that rows landed.
    Query("pii_redact", (s, dir) => {
      val piiText = concat(
        substring(col("text"), 1, 40),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@mail"), (col("doc_id") % 5).cast("string"),
        lit(".org call +1-555-"),
        (col("doc_id") % 900 + 100).cast("string"), lit("-"),
        (col("doc_id") % 9000 + 1000).cast("string"),
        lit(" from 10."), (col("doc_id") % 256).cast("string"),
        lit(".0."), (col("doc_id") % 200).cast("string"), lit(" end"))
      ops.Pii.withPiiRedacted(
          t(s, dir, "documents").select(col("doc_id"), piiText.as("pii_text")),
          "pii_text")
        .select(col("doc_id"), col("n_emails"), col("n_phones"),
          col("n_ipv4"), col("redacted"))
        .orderBy(col("doc_id"))
    },
      // independent RE2 re-implementation of ops.Pii over the
      // identically-synthesized PII text (counts over the original text;
      // sequential email -> phone -> IPv4 redaction)
      oracle = Some("""WITH p AS (
        |  SELECT doc_id,
        |    substr(text, 1, 40) || ' contact user' || CAST(doc_id AS VARCHAR)
        |    || '@mail' || CAST(doc_id % 5 AS VARCHAR) || '.org call +1-555-'
        |    || CAST(doc_id % 900 + 100 AS VARCHAR) || '-'
        |    || CAST(doc_id % 9000 + 1000 AS VARCHAR)
        |    || ' from 10.' || CAST(doc_id % 256 AS VARCHAR)
        |    || '.0.' || CAST(doc_id % 200 AS VARCHAR) || ' end' AS pii_text
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(pii_text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(pii_text,
        |    '\+\d{1,2}-\d{3}-\d{3}-\d{4}')) AS BIGINT) AS n_phones,
        |  CAST(len(regexp_extract_all(pii_text,
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ipv4,
        |  regexp_replace(regexp_replace(regexp_replace(pii_text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\+\d{1,2}-\d{3}-\d{3}-\d{4}', '<PHONE>', 'g'),
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS redacted
        |FROM p ORDER BY doc_id""".stripMargin),
      plan = Seq(scans(1), noUdf, codegen)),

    // deterministic md5-bucket train/val/test assignment — stable across
    // runs, partitionings, and engines (rand() would leak eval docs into
    // training between pipeline versions); per-row oracle so the twin
    // certifies every single assignment, not a count.
    Query("split_assign", (s, dir) => {
      ops.Splits.withSplit(
          t(s, dir, "documents").select(col("doc_id")), "doc_id")
        .orderBy(col("doc_id"))
    },
      // independent md5-bucket recomputation (strpos arithmetic instead of
      // Spark's conv) — certifies every per-row assignment
      oracle = Some("""WITH b AS (
        |  SELECT doc_id,
        |    CAST((strpos('0123456789abcdef',
        |        substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
        |      + strpos('0123456789abcdef',
        |        substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1 AS INT) AS bucket
        |  FROM documents)
        |SELECT doc_id, bucket,
        |  CASE WHEN bucket < 208 THEN 'train'
        |       WHEN bucket < 232 THEN 'val' ELSE 'test' END AS split
        |FROM b ORDER BY doc_id""".stripMargin),
      plan = Seq(scans(1), noUdf, codegen)),

    // deterministic stratified rebalance — downsample the dominant
    // language (en keeps 64/256 = 25%) with a salted hash so the keep
    // decision is a pure function of the key, decorrelated from split
    // assignment; per-lang kept-doc_id checksum proves WHICH docs
    // survive, not just how many.
    Query("stratified_sample", (s, dir) => {
      val thr = when(col("lang") === "en", 64).otherwise(256)
      t(s, dir, "documents")
        .withColumn("keep", ops.Splits.stratifiedKeep(col("doc_id"), thr))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_total"),
          sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
          sum(when(col("keep"), col("doc_id")).otherwise(0L)).cast("long")
            .as("kept_checksum"))
        .orderBy(col("lang"))
    },
      // salted-bucket stratified keep, per-lang roll-up with kept-doc
      // checksum
      oracle = Some("""WITH b AS (
        |  SELECT doc_id, lang,
        |    (strpos('0123456789abcdef',
        |        substr(md5('strat:' || CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
        |      + strpos('0123456789abcdef',
        |        substr(md5('strat:' || CAST(doc_id AS VARCHAR)), 2, 1)) - 1 AS bucket
        |  FROM documents),
        |k AS (
        |  SELECT doc_id, lang,
        |    bucket < (CASE WHEN lang = 'en' THEN 64 ELSE 256 END) AS keep
        |  FROM b)
        |SELECT lang, COUNT(*) AS n_total,
        |  CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(SUM(CASE WHEN keep THEN doc_id ELSE 0 END) AS BIGINT) AS kept_checksum
        |FROM k GROUP BY lang ORDER BY lang""".stripMargin),
      plan = Seq(scans(1), noUdf, codegen)),

    // end-to-end curation funnel — the composition every training-data
    // pipeline runs: gopher shape filter → exact dedup (first-kept per
    // sha-256 digest, among survivors) → stratified language rebalance.
    // One scan + one window shuffle on the 32-byte digest (never the
    // text), then a single 4-stage stack report; the per-stage doc_id
    // checksum makes the oracle certify WHICH docs survive each stage.
    Query("curation_funnel", (s, dir) => {
      val thr = when(col("lang") === "en", 64).otherwise(256)
      val w = Window.partitionBy(col("digest"))
      val flagged = Quality.withGopherColumns(t(s, dir, "documents"))
        .withColumn("digest", sha2(col("text"), 256))
        .withColumn("keep1", col("gopher_keep"))
        .withColumn("first_kept", min(when(col("keep1"), col("doc_id"))).over(w))
        .withColumn("keep2", col("keep1") && col("doc_id") === col("first_kept"))
        .withColumn("keep3",
          col("keep2") && ops.Splits.stratifiedKeep(col("doc_id"), thr))
      flagged.agg(
          count(lit(1)).as("n0"), sum(col("doc_id")).cast("long").as("c0"),
          sum(when(col("keep1"), 1L).otherwise(0L)).as("n1"),
          sum(when(col("keep1"), col("doc_id")).otherwise(0L)).cast("long").as("c1"),
          sum(when(col("keep2"), 1L).otherwise(0L)).as("n2"),
          sum(when(col("keep2"), col("doc_id")).otherwise(0L)).cast("long").as("c2"),
          sum(when(col("keep3"), 1L).otherwise(0L)).as("n3"),
          sum(when(col("keep3"), col("doc_id")).otherwise(0L)).cast("long").as("c3"))
        .select(expr(
          "stack(4, 0, 'ingest', n0, c0, 1, 'gopher_filter', n1, c1, " +
          "2, 'exact_dedup', n2, c2, 3, 'stratified_sample', n3, c3) " +
          "as (stage_id, stage, n_docs, doc_checksum)"))
        .orderBy(col("stage_id"))
    },
      // full independent funnel: gopher signals re-derived as in the
      // quality_gopher twin, dedup as a window over the raw text (same
      // equivalence classes as the Spark side's sha-256 digest), stratified
      // keep via the salted md5 bucket
      oracle = Some("""WITH g0 AS (
        |  SELECT doc_id, lang, text,
        |    CAST(len(list_filter(regexp_split_to_array(text, '\s+'), w -> w != '')) AS INT) AS n_words,
        |    length(regexp_replace(text, '\s', '', 'g')) AS nonws_chars,
        |    list_filter(list_transform(string_split(text, chr(10)), l -> trim(l)), l -> l != '') AS lines,
        |    length(text) - length(replace(text, '#', '')) AS hash_chars,
        |    length(text) - length(replace(text, '...', '')) AS ell_chars
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, lang, text,
        |    (n_words >= 50 AND n_words <= 100000
        |     AND (CASE WHEN n_words = 0 THEN 0.0 ELSE CAST(nonws_chars AS DOUBLE) / n_words END) >= 3.0
        |     AND (CASE WHEN n_words = 0 THEN 0.0 ELSE CAST(nonws_chars AS DOUBLE) / n_words END) <= 10.0
        |     AND (CASE WHEN len(lines) = 0 THEN 1.0 ELSE CAST(len(list_distinct(lines)) AS DOUBLE) / len(lines) END) >= 0.7
        |     AND (CASE WHEN n_words = 0 THEN 0.0 ELSE CAST(hash_chars + ell_chars / 3 AS DOUBLE) / n_words END) <= 0.1) AS keep1
        |  FROM g0),
        |d AS (
        |  SELECT doc_id, lang, keep1,
        |    MIN(CASE WHEN keep1 THEN doc_id END) OVER (PARTITION BY text) AS first_kept
        |  FROM g),
        |k AS (
        |  SELECT doc_id, keep1,
        |    (keep1 AND doc_id = first_kept) AS keep2,
        |    (keep1 AND doc_id = first_kept
        |     AND (strpos('0123456789abcdef',
        |         substr(md5('strat:' || CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
        |       + strpos('0123456789abcdef',
        |         substr(md5('strat:' || CAST(doc_id AS VARCHAR)), 2, 1)) - 1
        |       < (CASE WHEN lang = 'en' THEN 64 ELSE 256 END)) AS keep3
        |  FROM d),
        |a AS (
        |  SELECT COUNT(*) AS n0, CAST(SUM(doc_id) AS BIGINT) AS c0,
        |    CAST(SUM(CASE WHEN keep1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |    CAST(SUM(CASE WHEN keep1 THEN doc_id ELSE 0 END) AS BIGINT) AS c1,
        |    CAST(SUM(CASE WHEN keep2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
        |    CAST(SUM(CASE WHEN keep2 THEN doc_id ELSE 0 END) AS BIGINT) AS c2,
        |    CAST(SUM(CASE WHEN keep3 THEN 1 ELSE 0 END) AS BIGINT) AS n3,
        |    CAST(SUM(CASE WHEN keep3 THEN doc_id ELSE 0 END) AS BIGINT) AS c3
        |  FROM k)
        |SELECT * FROM (
        |  SELECT 0 AS stage_id, 'ingest' AS stage, n0 AS n_docs, c0 AS doc_checksum FROM a
        |  UNION ALL SELECT 1, 'gopher_filter', n1, c1 FROM a
        |  UNION ALL SELECT 2, 'exact_dedup', n2, c2 FROM a
        |  UNION ALL SELECT 3, 'stratified_sample', n3, c3 FROM a)
        |ORDER BY stage_id""".stripMargin),
      plan = Seq(scans(1), shuffleKey("digest"), neverShuffles("text"), noUdf)),

    // paragraph-grain exact dedup (CCNet-style) — cross-doc boilerplate
    // removal that doc-grain dedup can't see. Paragraph boundaries are
    // synthesized deterministically on BOTH sides (documents.text has no
    // newlines): a per-doc head slice, a 7-way shared boilerplate block,
    // a tail slice, and an even-doc-only footer — so the oracle certifies
    // the first-seen semantics AND the in-order reassembly, per row.
    Query("para_dedup", (s, dir) => {
      val sep = lit(ops.ParaDedup.Sep)
      val ptext = concat(
        substring(col("text"), 1, 60), sep,
        lit("shared boilerplate paragraph "),
        (col("doc_id") % 7).cast("string"), sep,
        substring(col("text"), 61, 80),
        when(col("doc_id") % 2 === 0, concat(sep, lit("even-doc footer")))
          .otherwise(lit("")))
      ops.ParaDedup.dedupParagraphs(
          t(s, dir, "documents").select(col("doc_id"), ptext.as("ptext")),
          "doc_id", "ptext")
        .orderBy(col("doc_id"))
    },
      // independent paragraph-dedup re-implementation: same synthesized
      // paragraph text, but DuckDB keys the first-seen window on the RAW
      // paragraph string (hash-free ground truth — same equivalence
      // classes as Spark's xxhash64 key) and reassembles via an ordered
      // string_agg
      oracle = Some("""WITH p AS (
        |  SELECT doc_id,
        |    substr(text, 1, 60) || chr(10) || chr(10)
        |    || 'shared boilerplate paragraph ' || CAST(doc_id % 7 AS VARCHAR)
        |    || chr(10) || chr(10) || substr(text, 61, 80)
        |    || CASE WHEN doc_id % 2 = 0
        |            THEN chr(10) || chr(10) || 'even-doc footer' ELSE '' END
        |      AS ptext
        |  FROM documents),
        |ex AS (
        |  SELECT doc_id,
        |    UNNEST(generate_series(1, len(paras))) - 1 AS pos,
        |    UNNEST(paras) AS para
        |  FROM (SELECT doc_id,
        |          string_split(ptext, chr(10) || chr(10)) AS paras
        |        FROM p)),
        |flags AS (
        |  SELECT doc_id, pos, para,
        |    row_number() OVER (PARTITION BY para ORDER BY doc_id, pos) = 1
        |      AS kept
        |  FROM ex)
        |SELECT doc_id,
        |  COUNT(*) AS n_paras,
        |  CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  COALESCE(string_agg(CASE WHEN kept THEN para END,
        |    chr(10) || chr(10) ORDER BY pos), '') AS cleaned
        |FROM flags GROUP BY doc_id ORDER BY doc_id""".stripMargin),
      plan = Seq(scans(1), shuffleKey("para_hash"), neverShuffles("para"),
        neverShuffles("ptext"), noUdf)))
}
