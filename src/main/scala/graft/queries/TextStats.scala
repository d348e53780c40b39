package graft
package queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import Fixtures._
import PlanProp._

/** Token statistics, language models, sketches and search: packing,
  * budgets, naive Bayes, collocations, chunks, quantiles, BPE, the
  * bigram LM, vocabulary coverage, Count-Min, KMV, BM25 and phrases. */
object TextStats {

  val all: Seq[Query] = Seq(

    // sequence packing (concat-and-chunk, GPT-style pretraining batches):
    // the two-level prefix sum (per-bucket totals → exclusive cumsum over
    // the bucket table → broadcast bases → per-bucket running sums) must
    // reproduce the exact sequential cumsum — the DuckDB twin computes it
    // with an ordered window, so a green row certifies the distributed
    // sum, not merely that rows landed. Cost unit is chars + 1
    // separator; context window 2048.
    Query("packing_chunks", (s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), length(col("text")).as("n_chars"))
      ops.Packing.concatChunkPack(docs, "doc_id", "n_chars",
          contextLen = 2048L, sepTokens = 1L)
        .orderBy(col("doc_id"))
    },
      // sequential window cumsum — the independent ground truth for the
      // two-level prefix sum in Packing.concatChunkPack
      oracle = Some("""WITH t AS (
        |  SELECT doc_id, CAST(length(text) + 1 AS BIGINT) AS padded_tokens
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, padded_tokens,
        |    CAST(COALESCE(SUM(padded_tokens) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |      AS start_offset
        |  FROM t)
        |SELECT doc_id, padded_tokens, start_offset,
        |  start_offset // 2048 AS chunk_id,
        |  start_offset % 2048 AS offset_in_chunk,
        |  CAST(CASE WHEN start_offset // 2048 !=
        |    (start_offset + padded_tokens - 1) // 2048 THEN 1 ELSE 0 END AS INT)
        |    AS spans_boundary
        |FROM c ORDER BY doc_id""".stripMargin),
      plan = Seq(noRdd, atMost("Exchange SinglePartition", 1))),

    // BM25 keyword search over the inverted index — integer-rational
    // tf part and micro-nat-quantized idf make per-doc scores integer
    // sums, so the DuckDB twin reproduces ranking AND scores
    // byte-exactly. Top-k plans as TakeOrderedAndProject.
    Query("bm25_search", (s, dir) =>
      ops.Search.bm25TopK(t(s, dir, "documents"), "doc_id", "text",
        Seq("window", "merge", "vector"), 50),
      // BM25 twin: same tokenization (word_topk's), same integer-rational
      // score — (idf_micro*22*tf*L) // (10*tf*L + 3*L + 9*len*N)
      oracle = Some("""WITH toks AS (
        |  SELECT doc_id, word AS term FROM (
        |    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word
        |    FROM documents)
        |  WHERE length(word) > 2),
        |post AS (
        |  SELECT term, doc_id, CAST(COUNT(*) AS BIGINT) AS tf FROM toks
        |  WHERE term IN ('window', 'merge', 'vector')
        |  GROUP BY term, doc_id),
        |dfs AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df
        |        FROM post GROUP BY term),
        |lens AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS len
        |         FROM toks GROUP BY doc_id),
        |tot AS (SELECT
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM toks) AS corpus_len,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM documents) AS n_docs),
        |scored AS (
        |  SELECT p.doc_id,
        |    (CAST(FLOOR(ln(CAST(2*t.n_docs+2 AS DOUBLE)
        |                   / CAST(2*d.df+1 AS DOUBLE)) * 1e6) AS BIGINT)
        |      * 22 * p.tf * t.corpus_len)
        |    // (10*p.tf*t.corpus_len + 3*t.corpus_len + 9*l.len*t.n_docs)
        |      AS term_score
        |  FROM post p
        |  JOIN dfs d ON p.term = d.term
        |  JOIN lens l ON p.doc_id = l.doc_id
        |  CROSS JOIN tot t)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_hit_terms,
        |  CAST(SUM(term_score) AS BIGINT) AS score_micro
        |FROM scored GROUP BY doc_id
        |ORDER BY score_micro DESC, doc_id LIMIT 50""".stripMargin),
      plan = Seq(has("TakeOrderedAndProject"), has("BroadcastHashJoin"),
        lacks("CartesianProduct"), noUdf)),

    // training-token budget per language — GPT-2-style pre-tokenizer
    // regex counts (RE2-safe subset, explicit whitespace class) as
    // codegen regexp_count column exprs; roll-up ships (lang, sums).
    Query("token_budget", (s, dir) =>
      ops.TokenCount.tokenBudget(t(s, dir, "documents"), "text", "lang")
        .orderBy(col("lang")),
      // token-budget twin: identical RE2 patterns ('' = escaped quote)
      oracle = Some("""WITH c AS (
        |  SELECT lang,
        |    CAST(length(regexp_extract_all(text,
        |      '''(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^ \t\n\r\p{L}\p{N}]+'))
        |      AS BIGINT) AS bpe,
        |    CAST(length(regexp_extract_all(text, '[^ \t\n\r]+'))
        |      AS BIGINT) AS ws,
        |    CAST(length(text) AS BIGINT) AS nc
        |  FROM documents)
        |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(bpe) AS BIGINT) AS bpe_tokens,
        |  CAST(SUM(ws) AS BIGINT) AS ws_tokens,
        |  CAST(SUM(nc) AS BIGINT) AS sum_chars,
        |  (CAST(SUM(bpe) AS BIGINT) * 1000) // CAST(SUM(nc) AS BIGINT)
        |    AS bpe_per_kchar
        |FROM c GROUP BY lang ORDER BY lang""".stripMargin),
      plan = Seq(scans(1), noUdf)),

    // multinomial Naive Bayes language classifier, trained and scored
    // in-corpus — integer micro-nat log-probs make the confusion
    // matrix engine-exact. Output: (actual, predicted) tally with
    // doc_id checksums.
    Query("nb_lang_confusion", (s, dir) => {
      val docs = t(s, dir, "documents")
      val (pt, pl) = ops.NaiveBayesText.train(docs, "doc_id", "text", "lang")
      ops.NaiveBayesText.predict(docs, "doc_id", "text", pt, pl)
        .join(docs.select(col("doc_id"), col("lang")), "doc_id")
        .groupBy(col("lang"), col("predicted"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("doc_id")).cast("long").as("doc_checksum"))
        .orderBy(col("lang"), col("predicted"))
    },
      // NB twin: full independent re-derivation — counts, Laplace
      // smoothing, micro-nat quantization, argmax with label-asc ties
      oracle = Some("""WITH toks AS (
        |  SELECT doc_id, lang, word AS term FROM (
        |    SELECT doc_id, lang,
        |      unnest(string_split(lower(text), ' ')) AS word
        |    FROM documents)
        |  WHERE length(word) > 2),
        |lt AS (SELECT lang AS label, term, CAST(COUNT(*) AS BIGINT) AS c
        |       FROM toks GROUP BY 1, 2),
        |tot AS (SELECT label, CAST(SUM(c) AS BIGINT) AS tot
        |        FROM lt GROUP BY 1),
        |voc AS (SELECT CAST(COUNT(DISTINCT term) AS BIGINT) AS v FROM lt),
        |nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
        |nl AS (SELECT lang AS label, CAST(COUNT(*) AS BIGINT) AS n_label
        |       FROM documents GROUP BY 1),
        |pt AS (SELECT lt.label, lt.term,
        |         CAST(FLOOR(ln(CAST(lt.c + 1 AS DOUBLE)
        |           / CAST(t.tot + voc.v AS DOUBLE)) * 1e6) AS BIGINT) AS lp
        |       FROM lt JOIN tot t ON lt.label = t.label CROSS JOIN voc),
        |pl AS (SELECT nl.label,
        |         CAST(FLOOR(ln(CAST(nl.n_label AS DOUBLE)
        |           / CAST(nd.n_docs AS DOUBLE)) * 1e6) AS BIGINT) AS prior,
        |         CAST(FLOOR(ln(1.0
        |           / CAST(t.tot + voc.v AS DOUBLE)) * 1e6) AS BIGINT) AS lp0
        |       FROM nl JOIN tot t ON nl.label = t.label
        |       CROSS JOIN voc CROSS JOIN nd),
        |tc AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS cnt
        |       FROM toks GROUP BY 1, 2),
        |pdl AS (SELECT tc.doc_id, pl.label,
        |          CAST(SUM(tc.cnt * COALESCE(pt.lp, pl.lp0)) AS BIGINT) AS ll
        |        FROM tc CROSS JOIN pl
        |        LEFT JOIN pt ON tc.term = pt.term AND pl.label = pt.label
        |        GROUP BY 1, 2),
        |adl AS (SELECT d.doc_id, pl.label,
        |          COALESCE(pdl.ll, 0) + pl.prior AS score
        |        FROM documents d CROSS JOIN pl
        |        LEFT JOIN pdl ON d.doc_id = pdl.doc_id
        |          AND pl.label = pdl.label),
        |pred AS (SELECT doc_id, label AS predicted,
        |           row_number() OVER (PARTITION BY doc_id
        |             ORDER BY score DESC, label) AS rk
        |         FROM adl)
        |SELECT d.lang, p.predicted, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(d.doc_id) AS BIGINT) AS doc_checksum
        |FROM pred p JOIN documents d ON p.doc_id = d.doc_id
        |WHERE p.rk = 1
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
      plan = Seq(has("WindowGroupLimit"), noUdf)),

    // PMI collocations over the REAL corpus text — Church & Hanks
    // 1990, micro-nat-quantized (the ln argument is one integer
    // rational evaluated in a pinned order). The oracle reimplements
    // the whole pipeline independently: zipped-unnest pairs, derived
    // unigrams, identical rational and floor.
    Query("pmi_collocations", (s, dir) =>
      ops.Collocations.pmiTopK(t(s, dir, "documents"), "text",
        minCount = 3L, k = 20),
      // pmi twin: independent pair/unigram derivation + the identical
      // pinned rational and floor quantization
      oracle = Some("""WITH d AS (
        |  SELECT list_transform(regexp_extract_all(text, '[A-Za-z]+'),
        |    t -> lower(t)) AS a
        |  FROM documents),
        |pairs AS (
        |  SELECT unnest(list_transform(range(1, len(a) + 1),
        |    i -> struct_pack(x := a[i],
        |      y := CASE WHEN i < len(a) THEN a[i + 1] END))) AS p
        |  FROM d WHERE len(a) > 0),
        |pc AS (SELECT p.x AS a, p.y AS b, COUNT(*) AS c
        |       FROM pairs GROUP BY 1, 2),
        |uni AS (SELECT a, SUM(c) AS ca FROM pc GROUP BY 1),
        |tot AS (SELECT SUM(c) AS n,
        |          SUM(CASE WHEN b IS NOT NULL THEN c END) AS bt
        |        FROM pc)
        |SELECT pc.a AS w1, pc.b AS w2, CAST(pc.c AS BIGINT) AS n_pair,
        |  CAST(u1.ca AS BIGINT) AS n_w1, CAST(u2.ca AS BIGINT) AS n_w2,
        |  CAST(floor(1000000.0 * ln(
        |    CAST(pc.c AS DOUBLE) * CAST(tot.n AS DOUBLE) * CAST(tot.n AS DOUBLE) /
        |    (CAST(u1.ca AS DOUBLE) * CAST(u2.ca AS DOUBLE) * CAST(tot.bt AS DOUBLE))))
        |    AS BIGINT) AS pmi_micro
        |FROM pc, uni u1, uni u2, tot
        |WHERE pc.b IS NOT NULL AND pc.c >= 3
        |  AND u1.a = pc.a AND u2.a = pc.b
        |ORDER BY pmi_micro DESC, w1, w2 LIMIT 20""".stripMargin),
      plan = Seq(has("BroadcastHashJoin"), has("TakeOrderedAndProject"),
        lacks("CartesianProduct"))),

    // sliding-window passage chunks over the REAL corpus text — size
    // 64, overlap 16; compact roll-up lands per-doc chunk counts plus
    // corpus-level token/char checksums so chunk boundaries and
    // contents are both pinned. The oracle reimplements windows with
    // list_slice over the same \S+ tokens.
    Query("passage_chunks", (s, dir) =>
      ops.Chunking.slidingChunks(
          t(s, dir, "documents").select(col("doc_id"), col("text")),
          "doc_id", "text", size = 64, overlap = 16)
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_chunks"),
          sum(col("n_tokens")).cast("long").as("token_sum"),
          max(col("token_offset")).as("last_offset"),
          sum(length(col("chunk_text"))).cast("long").as("char_sum"))
        .orderBy(col("doc_id")),
      // chunk twin: identical windows via list_slice over \S+ tokens
      oracle = Some("""WITH d AS (
        |  SELECT doc_id, regexp_extract_all(text, '\S+') AS toks
        |  FROM documents),
        |n AS (
        |  SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n
        |  FROM d WHERE len(toks) > 0),
        |c AS (
        |  SELECT doc_id, toks, n,
        |    unnest(range(0, CASE WHEN n <= 64 THEN 1
        |      ELSE ((n - 64) + 47) // 48 + 1 END)) AS chunk_idx
        |  FROM n),
        |r AS (
        |  SELECT doc_id, chunk_idx, chunk_idx * 48 AS token_offset,
        |    least(64, n - chunk_idx * 48) AS n_tokens,
        |    array_to_string(list_slice(toks, chunk_idx * 48 + 1,
        |      chunk_idx * 48 + 64), ' ') AS chunk_text
        |  FROM c)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_chunks,
        |  CAST(SUM(n_tokens) AS BIGINT) AS token_sum,
        |  CAST(MAX(token_offset) AS BIGINT) AS last_offset,
        |  CAST(SUM(length(chunk_text)) AS BIGINT) AS char_sum
        |FROM r GROUP BY 1 ORDER BY doc_id""".stripMargin),
      plan = Seq(scans(1), noUdf, lacks("SerializeFromObject"), has("Generate"))),

    // exact length quantiles over the REAL corpus — histogram-first,
    // type-1 (lower, never interpolated); the oracle reimplements the
    // identical cumulative-rank rule.
    Query("length_quantiles", (s, dir) =>
      ops.Quantiles.exactQuantiles(
        t(s, dir, "documents")
          .select(length(col("text")).cast("long").as("v")), "v"),
      // quantile twin: identical histogram + cumulative-rank rule
      oracle = Some("""WITH d AS (
        |  SELECT CAST(length(text) AS BIGINT) AS v FROM documents),
        |h AS (SELECT v, COUNT(*) AS c FROM d GROUP BY 1),
        |cum AS (SELECT v, SUM(c) OVER (ORDER BY v) AS cum FROM h),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM d)
        |SELECT n,
        |  (SELECT MIN(v) FROM cum, tot
        |     WHERE cum >= (50 * n + 99) // 100) AS p50,
        |  (SELECT MIN(v) FROM cum, tot
        |     WHERE cum >= (90 * n + 99) // 100) AS p90,
        |  (SELECT MIN(v) FROM cum, tot
        |     WHERE cum >= (99 * n + 99) // 100) AS p99
        |FROM tot""".stripMargin),
      plan = Seq(scans(1), has("partial_count"), noUdf)),

    // BPE merge candidates over the REAL corpus text — Sennrich 2016
    // first-round pair counts, word-frequency weighted, </w> marker;
    // the oracle rebuilds vocab + pairs independently with zipped
    // struct unnests.
    Query("bpe_candidates", (s, dir) =>
      ops.Bpe.mergeCandidates(
        t(s, dir, "documents").select(col("text")), "text", k = 25),
      // bpe twin: independent vocab + pair derivation
      oracle = Some("""WITH w AS (
        |  SELECT unnest(list_transform(
        |    regexp_extract_all(text, '[A-Za-z]+'),
        |    t -> lower(t))) AS word
        |  FROM documents),
        |v AS (SELECT word, COUNT(*) AS freq FROM w GROUP BY 1),
        |p AS (
        |  SELECT freq, unnest(list_transform(
        |    range(1, length(word) + 1),
        |    i -> struct_pack(a := substr(word, i, 1),
        |      b := CASE WHEN i < length(word)
        |        THEN substr(word, i + 1, 1) ELSE '</w>' END))) AS pr
        |  FROM v)
        |SELECT pr.a AS sym1, pr.b AS sym2,
        |  CAST(SUM(freq) AS BIGINT) AS pair_count
        |FROM p GROUP BY 1, 2
        |ORDER BY pair_count DESC, sym1, sym2 LIMIT 25""".stripMargin),
      plan = Seq(scans(1), noUdf, lacks("SerializeFromObject"),
        has("TakeOrderedAndProject"), has("partial_count"))),

    // exact phrase search over positional postings — the trigram
    // "slow hash batch" against the real corpus text; each join input
    // filters to ONE term before the (doc, aligned-pos) equi-joins.
    // The oracle reimplements phrase matching independently with
    // zipped positional unnests.
    Query("phrase_search", (s, dir) =>
      ops.Search.phraseMatch(
          ops.Search.positionalPostings(
            t(s, dir, "documents"), "doc_id", "text"),
          Seq("slow", "hash", "batch"))
        .orderBy(col("doc_id")),
      // phrase twin: independent positional reimplementation — zipped
      // unnests, window-free
      oracle = Some("""WITH d AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS a
        |  FROM documents),
        |m AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(len(a) - 2),
        |      i -> CASE WHEN a[i+1] = 'slow' AND a[i+2] = 'hash'
        |        AND a[i+3] = 'batch' THEN 1 ELSE 0 END)) AS hit
        |  FROM d WHERE len(a) >= 3)
        |SELECT doc_id, CAST(SUM(hit) AS BIGINT) AS n_occurrences
        |FROM m GROUP BY 1 HAVING SUM(hit) > 0
        |ORDER BY doc_id""".stripMargin),
      plan = Seq(planned(lacks("CartesianProduct")), planned(has("= slow")),
        planned(has("= batch")))),

    // Count-Min heavy hitters — per-user event counts from a d·w
    // counter sketch (min over d hashed counters: overestimate-only).
    // The exact top-10 sits alongside so the overcount column is the
    // measured collision mass; the oracle recomputes every counter
    // with the identical pairwise-independent modular hashes.
    Query("cms_heavy_hitters", (s, dir) => {
      val ev = t(s, dir, "events").select(col("user_id"))
      val sketch = ops.CountMin.build(ev, "user_id", depth = 4, width = 1024)
      val exact = ev.groupBy(col("user_id"))
        .agg(count(lit(1)).as("exact_cnt"))
        .orderBy(col("exact_cnt").desc, col("user_id")).limit(10)
      ops.CountMin.estimate(exact.select(col("user_id")), sketch,
          "user_id", depth = 4, width = 1024)
        .join(exact, "user_id")
        .select(col("user_id"), col("exact_cnt"),
          col("est").as("cms_est"),
          (col("est") - col("exact_cnt")).as("overcount"))
        .orderBy(col("exact_cnt").desc, col("user_id"))
    },
      // cms twin: every counter recomputed with the identical modular
      // hashes; min over the d cells per probed key
      oracle = Some("""WITH c(r, a, b) AS (VALUES
        |  (0, 2654435761, 97), (1, 40503, 1013904223),
        |  (2, 2246822519, 374761393), (3, 3266489917, 668265263)),
        |cell AS (
        |  SELECT r, ((user_id * a + b) % 2147483647) % 1024 AS idx,
        |    CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM events CROSS JOIN c GROUP BY 1, 2),
        |exact AS (
        |  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS exact_cnt
        |  FROM events GROUP BY 1
        |  ORDER BY exact_cnt DESC, user_id LIMIT 10),
        |probe AS (
        |  SELECT e.user_id, e.exact_cnt, MIN(cell.cnt) AS est
        |  FROM exact e CROSS JOIN c
        |  JOIN cell ON cell.r = c.r
        |    AND cell.idx = ((e.user_id * c.a + c.b) % 2147483647) % 1024
        |  GROUP BY 1, 2)
        |SELECT user_id, exact_cnt, est AS cms_est,
        |  est - exact_cnt AS overcount
        |FROM probe ORDER BY exact_cnt DESC, user_id""".stripMargin),
      plan = Seq(has("partial_count"), has("BroadcastHashJoin"), noUdf,
        lacks("SerializeFromObject"))),

    // KMV distinct-count sketch (Bar-Yossef et al. 2002) via the
    // custom bottom-k TypedImperativeAggregate — distinct users per
    // event type with a groups·k·8-byte shuffle bound instead of
    // moving every distinct key. The hash 1 + (u·C mod M) (M prime,
    // C coprime) is a bijection on [0, M), so exact_distinct via the
    // hash equals exact distinct users, and the estimate is
    // integer-exact: (k-1)·M div h_k. Oracle recomputes both.
    Query("kmv_distinct", (s, dir) => {
      graft.functions.GraftExtensions.register(s)
      val M = 2147483647L // 2^31 - 1, prime
      val K = 32
      t(s, dir, "events")
        .select(col("event_type"),
          (pmod(col("user_id") * lit(2654435761L), lit(M)) + 1).as("h"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("h")).as("exact_distinct"),
          expr(s"graft_bottomk(h, $K)").as("bk"))
        .select(col("event_type"), col("n_events"), col("exact_distinct"),
          when(size(col("bk")) < K, size(col("bk")).cast("long"))
            .otherwise(expr(s"(${K - 1}L * ${M}L) div element_at(bk, $K)"))
            .as("kmv_estimate"))
        .orderBy(col("event_type"))
    },
      // kmv twin: bottom-k via a window (fine at oracle scale) + the
      // identical integer estimate
      oracle = Some("""WITH h AS (
        |  SELECT DISTINCT event_type,
        |    1 + (user_id * 2654435761) % 2147483647 AS h
        |  FROM events),
        |r AS (
        |  SELECT event_type, h,
        |    row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn,
        |    COUNT(*) OVER (PARTITION BY event_type) AS nd
        |  FROM h),
        |a AS (
        |  SELECT event_type, CAST(MAX(nd) AS BIGINT) AS exact_distinct,
        |    MAX(CASE WHEN rn = 32 THEN h END) AS h32
        |  FROM r GROUP BY 1),
        |e AS (
        |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events
        |  FROM events GROUP BY 1)
        |SELECT e.event_type, e.n_events, a.exact_distinct,
        |  CAST(CASE WHEN a.exact_distinct < 32 THEN a.exact_distinct
        |    ELSE (CAST(31 AS BIGINT) * 2147483647) // a.h32
        |    END AS BIGINT) AS kmv_estimate
        |FROM e JOIN a ON e.event_type = a.event_type
        |ORDER BY e.event_type""".stripMargin),
      plan = Seq(has("partial_graft_bottomk"), lacks("Window"))),

    // vocabulary coverage report — the tokenizer-training question
    // "how much of the corpus do the top-N words cover": top-32 vocab
    // (count desc, word asc), cumulative counts, and integer-exact
    // coverage micros; the running sum windows over 32 rows only.
    Query("vocab_coverage", (s, dir) => {
      val counts = t(s, dir, "documents")
        .select(explode(split(lower(col("text")), " ", -1)).as("word"))
        .filter(length(col("word")) > 2)
        .groupBy(col("word"))
        .agg(count(lit(1)).as("cnt"))
      val total = counts.agg(sum(col("cnt")).as("total"))
      val ord = Window.orderBy(col("cnt").desc, col("word"))
      counts.orderBy(col("cnt").desc, col("word")).limit(32)
        .crossJoin(broadcast(total))
        .withColumn("rank", row_number().over(ord).cast("long"))
        .withColumn("cum_cnt",
          sum(col("cnt")).over(ord.rowsBetween(Window.unboundedPreceding,
            Window.currentRow)))
        .select(col("rank"), col("word"), col("cnt"), col("cum_cnt"),
          expr("(cum_cnt * 1000000) div total").as("cum_coverage_micro"))
        .orderBy(col("rank"))
    },
      // vocab-coverage twin: same tokenization, same total-order window
      oracle = Some("""WITH toks AS (
        |  SELECT word FROM (
        |    SELECT unnest(string_split(lower(text), ' ')) AS word
        |    FROM documents)
        |  WHERE length(word) > 2),
        |c AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt
        |      FROM toks GROUP BY 1),
        |tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM c),
        |top AS (SELECT word, cnt FROM c ORDER BY cnt DESC, word LIMIT 32),
        |r AS (SELECT word, cnt,
        |        CAST(row_number() OVER (ORDER BY cnt DESC, word)
        |          AS BIGINT) AS rank,
        |        CAST(SUM(cnt) OVER (ORDER BY cnt DESC, word
        |          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_cnt
        |      FROM top)
        |SELECT rank, word, cnt, cum_cnt,
        |  (cum_cnt * 1000000) // tot.total AS cum_coverage_micro
        |FROM r CROSS JOIN tot ORDER BY rank""".stripMargin)),

    // corpus-trained bigram LM scoring (CCNet-style quality signal):
    // train add-one-smoothed bigram counts (head-count denominator) on
    // the even-doc reference subset in ONE grouping-sets pass, score
    // EVERY doc by average bigram log-prob under it.
    // Per-term log-probs quantize to integer micro-nats so the sum is
    // order-free and the oracle certifies it byte-exactly.
    Query("lm_score", (s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val ref = docs.where(col("doc_id") % 2 === 0)
      ops.NgramLm.scoreDocs(docs, ref, "doc_id", "text")
        .orderBy(col("doc_id"))
    },
      // independent bigram-LM re-implementation: tokenize, train add-one
      // counts on even docs, score all docs; micro-nat quantization
      // (floor(1e6*ln p) summed as BIGINT) makes the sum order-free
      oracle = Some("""WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'),
        |      t -> t != '') AS ts
        |  FROM documents),
        |train_bg AS (
        |  SELECT w1, w2, COUNT(*) AS c2 FROM (
        |    SELECT UNNEST(ts[1:len(ts)-1]) AS w1,
        |           UNNEST(ts[2:len(ts)]) AS w2
        |    FROM toks WHERE doc_id % 2 = 0 AND len(ts) >= 2)
        |  GROUP BY w1, w2),
        |train_ug AS (
        |  SELECT w1, CAST(SUM(c2) AS BIGINT) AS c1 FROM train_bg
        |  GROUP BY w1),
        |v AS (SELECT COUNT(*) AS vocab FROM train_ug),
        |score_bg AS (
        |  SELECT doc_id, UNNEST(ts[1:len(ts)-1]) AS w1,
        |         UNNEST(ts[2:len(ts)]) AS w2
        |  FROM toks WHERE len(ts) >= 2),
        |j AS (
        |  SELECT s.doc_id,
        |    CAST(COALESCE(b.c2, 0) + 1 AS DOUBLE)
        |      / CAST(COALESCE(u.c1, 0) + v.vocab AS DOUBLE) AS p,
        |    b.c2 IS NULL AS oov
        |  FROM score_bg s
        |  LEFT JOIN train_bg b ON s.w1 = b.w1 AND s.w2 = b.w2
        |  LEFT JOIN train_ug u ON s.w1 = u.w1
        |  CROSS JOIN v)
        |SELECT doc_id, COUNT(*) AS n_bigrams,
        |  CAST(SUM(CASE WHEN oov THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
        |  CAST(SUM(CAST(floor(ln(p) * 1000000) AS BIGINT)) AS BIGINT)
        |    AS sum_lp_micro,
        |  CAST(SUM(CAST(floor(ln(p) * 1000000) AS BIGINT)) AS DOUBLE)
        |    / COUNT(*) / 1000000.0 AS avg_logprob
        |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin),
      plan = Seq(scans(2), has("InMemoryTableScan"), lacks("CartesianProduct"), noUdf)))
}
