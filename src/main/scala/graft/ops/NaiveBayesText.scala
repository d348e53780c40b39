package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed multinomial Naive Bayes over text — the workhorse
  * supervised filter of corpus curation (fastText-style quality and
  * language classifiers are linear models of exactly this shape):
  * train per-(label, term) counts in one pass, score documents with
  * Laplace-smoothed log-likelihoods, pick the argmax label.
  *
  * Scale shape: training is ONE map-side-combined aggregate over
  * (label, term) — shuffle rows are vocab-bounded counts, never text.
  * Scoring joins each document's term counts against the model on the
  * term key (broadcast when the model fits, shuffle join otherwise —
  * Spark picks from stats), with the per-label token totals and priors
  * as a broadcast few-row table; the label fan-out is an explicit
  * bounded crossJoin (|labels| rows). The argmax is `row_number <= 1`
  * written to plan as WindowGroupLimit — map tasks pre-prune to their
  * local best per doc before the shuffle.
  *
  * Determinism: per-term log-probabilities ln((c+1)/(tot+V)) and
  * priors ln(n_label/n_docs) quantize to integer micro-nats (floor) —
  * per-doc scores are integer sums, so ranking and tie-breaks
  * (label asc) are partitioning- and engine-independent.
  */
object NaiveBayesText {

  /** The engine-wide tokenization (`Search.tokens`); one row per
    * (doc, term) with the count. */
  private def termCounts(docs: DataFrame, idCol: String,
                         textCol: String): DataFrame =
    Search.tokens(docs, idCol, textCol)
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("cnt"))

  /** Model tables, all integer micro-nats:
    *  - perTerm: (label, term, lp_micro) — Laplace-smoothed
    *  - perLabel: (label, prior_micro, lp0_micro) where lp0 is the
    *    unseen-term fallback ln(1/(tot_label+V)). */
  def train(docs: DataFrame, idCol: String, textCol: String,
            labelCol: String): (DataFrame, DataFrame) = {
    val toks = Search.tokens(docs, idCol, textCol, col(labelCol).as("label"))
    val labelTerm = toks.groupBy(col("label"), col("term"))
      .agg(count(lit(1)).as("c"))
    val labelTot = labelTerm.groupBy(col("label"))
      .agg(sum(col("c")).as("tot"))
    val vocab = labelTerm.select(col("term")).distinct()
      .agg(count(lit(1)).as("v"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val nLabel = docs.groupBy(col(labelCol).as("label"))
      .agg(count(lit(1)).as("n_label"))
    val perTerm = labelTerm
      .join(labelTot, "label")
      .crossJoin(broadcast(vocab))
      .select(col("label"), col("term"),
        floor(log((col("c") + lit(1)).cast("double") /
          (col("tot") + col("v")).cast("double")) * lit(1e6))
          .cast("long").as("lp_micro"))
    val perLabel = nLabel
      .join(labelTot, "label")
      .crossJoin(broadcast(vocab))
      .crossJoin(broadcast(nDocs))
      .select(col("label"),
        floor(log(col("n_label").cast("double") /
          col("n_docs").cast("double")) * lit(1e6))
          .cast("long").as("prior_micro"),
        floor(log(lit(1.0) /
          (col("tot") + col("v")).cast("double")) * lit(1e6))
          .cast("long").as("lp0_micro"))
    (perTerm, perLabel)
  }

  /** Argmax-label prediction per doc: (doc_id, predicted,
    * score_micro). Ties break to the lexicographically smallest
    * label. Docs with no qualifying tokens score on priors alone. */
  def predict(docs: DataFrame, idCol: String, textCol: String,
              perTerm: DataFrame, perLabel: DataFrame): DataFrame = {
    val tc = termCounts(docs, idCol, textCol)
    val perDocLabel = tc
      .crossJoin(broadcast(perLabel.select(col("label"), col("lp0_micro"))))
      .join(perTerm, Seq("term", "label"), "left")
      .groupBy(col("doc_id"), col("label"))
      .agg(sum(col("cnt") *
        coalesce(col("lp_micro"), col("lp0_micro"))).as("ll_micro"))
    // docs with zero qualifying tokens still need a (doc, label) row
    val allDocLabel = docs.select(col(idCol).as("doc_id"))
      .crossJoin(broadcast(perLabel))
      .join(perDocLabel, Seq("doc_id", "label"), "left")
      .select(col("doc_id"), col("label"),
        (coalesce(col("ll_micro"), lit(0L)) + col("prior_micro"))
          .as("score_micro"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score_micro").desc, col("label"))
    allDocLabel
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= 1)
      .select(col("doc_id"), col("label").as("predicted"),
        col("score_micro"))
  }
}
