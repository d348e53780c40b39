package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Inverted-index build + BM25 top-k keyword search (Robertson et al.,
  * TREC-3) — the retrieval primitive a corpus-curation stack uses for
  * targeted audits ("find every doc about X") and for building seed
  * sets for quality classifiers.
  *
  * Scale shape: the postings build is ONE explode + map-side-combined
  * aggregate keyed on (doc, term) — the classic distributed inverted
  * index; at query time the term list is tiny, so per-term document
  * frequencies broadcast, the postings stream is filtered to query
  * terms BEFORE any join (predicate on the term column — prunable when
  * postings are stored partitioned/bucketed by term), and the final
  * top-k is orderBy+limit, which Spark plans as TakeOrderedAndProject
  * (per-partition bounded heaps, never a global sort).
  *
  * Determinism: BM25's tf part with k1=1.2, b=0.75 is kept as an exact
  * integer rational — tf·(k1+1)/(tf + k1·(1-b+b·len/avgdl)) multiplied
  * through by 10·L equals 22·tf·L / (10·tf·L + 3·L + 9·len·N) with L =
  * total token count and N = corpus doc count — and the idf
  * ln((N+1)/(df+0.5)) = ln((2N+2)/(2df+1)) quantizes to integer
  * micro-nats, so per-doc scores are integer sums: partitioning- and
  * engine-independent (DuckDB twin matches byte-exactly). Overflow
  * bound: idf_micro·22·tf·L must stay below 2^63 — fine for corpora
  * to ~10^10 tokens; past that, swap the score expression to doubles
  * (same ranking in practice, the quantized form is the testable
  * contract).
  */
object Search {

  /** Whitespace tokens, lowercased, length > 2 — the corpus-wide
    * tokenization every text roll-up in this engine shares: one
    * (doc_id, `extra`…, term) row per token. */
  private[ops] def tokens(docs: DataFrame, idCol: String,
                          textCol: String, extra: Column*): DataFrame =
    docs.select((col(idCol).as("doc_id") +: extra :+
        explode(split(lower(col(textCol)), " ", -1)).as("term")): _*)
      .where(length(col("term")) > 2)

  /** The inverted index: one row per (term, doc_id) with the term
    * frequency. */
  def postings(docs: DataFrame, idCol: String,
               textCol: String): DataFrame =
    tokens(docs, idCol, textCol)
      .groupBy(col("term"), col("doc_id"))
      .agg(count(lit(1)).as("tf"))

  /** Per-doc token counts (docs with no qualifying tokens are absent —
    * they can never match a query). */
  def docLengths(docs: DataFrame, idCol: String,
                 textCol: String): DataFrame =
    tokens(docs, idCol, textCol)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("len"))

  /** BM25 top-k: docs scored against `queryTerms`, returned as
    * (doc_id, n_hit_terms, score_micro), highest score first (doc_id
    * tie-break), limited to k. */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
               queryTerms: Seq[String], k: Int): DataFrame = {
    require(queryTerms.nonEmpty, "bm25TopK needs at least one term")
    val post = postings(docs, idCol, textCol)
      .where(col("term").isin(queryTerms: _*))
    val dfs = post.groupBy(col("term"))
      .agg(count(lit(1)).as("df"))
    val totals = tokens(docs, idCol, textCol)
      .agg(count(lit(1)).as("corpus_len"))
      .crossJoin(docs.agg(count(lit(1)).as("n_docs")))
    val idfMicro: Column =
      floor(log((lit(2) * col("n_docs") + lit(2)).cast("double") /
        (lit(2) * col("df") + lit(1)).cast("double")) * lit(1e6))
        .cast("long")
    post
      .join(broadcast(dfs), "term")
      .join(docLengths(docs, idCol, textCol), "doc_id")
      .crossJoin(broadcast(totals))
      .withColumn("idf_micro", idfMicro)
      .withColumn("term_score",
        expr("(idf_micro * 22 * tf * corpus_len) div " +
          "(10 * tf * corpus_len + 3 * corpus_len + 9 * len * n_docs)"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hit_terms"),
        sum(col("term_score")).as("score_micro"))
      .orderBy(col("score_micro").desc, col("doc_id"))
      .limit(k)
  }

  /** Positional postings: (term, doc_id, pos) with pos the 0-based
    * index in the RAW whitespace token stream — no length filter here,
    * because phrase adjacency is positional and must see every token. */
  def positionalPostings(docs: DataFrame, idCol: String,
                         textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      posexplode(split(lower(col(textCol)), " ", -1)))
      .select(col("col").as("term"), col("doc_id"),
        col("pos").cast("long").as("pos"))

  /** Exact phrase match over positional postings: docs containing the
    * terms at consecutive positions, with the occurrence count.
    *
    * Scale shape: each join input is first FILTERED to one query term
    * (df(term_i) rows — prunable when postings are stored partitioned
    * or bucketed by term), then the n−1 equi-joins key on (doc_id,
    * aligned position); the corpus-sized postings stream itself never
    * joins. Overlapping occurrences each count ("big big data" matches
    * "big data" once; "big data big data" twice). */
  def phraseMatch(postings: DataFrame, phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "phraseMatch needs at least one term")
    val first = postings.where(col("term") === phrase.head)
      .select(col("doc_id"), col("pos"))
    val matched = phrase.zipWithIndex.drop(1).foldLeft(first) {
      case (acc, (t, i)) =>
        val p = postings.where(col("term") === t)
          .select(col("doc_id").as(s"_d$i"),
            (col("pos") - lit(i.toLong)).as(s"_p$i"))
        acc.join(p, col("doc_id") === col(s"_d$i") &&
            col("pos") === col(s"_p$i"))
          .select(col("doc_id"), col("pos"))
    }
    matched.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_occurrences"))
  }
}
