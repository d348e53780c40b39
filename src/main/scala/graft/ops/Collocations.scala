package graft.ops

import java.util.Locale

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** PMI collocation mining (Church & Hanks 1990, "Word association
  * norms, mutual information, and lexicography") — the corpus-level
  * table of adjacent word pairs that co-occur far more than chance,
  * ranked by pointwise mutual information:
  *
  *   PMI(a,b) = ln( P(a,b) / (P(a)·P(b)) )
  *            = ln( c(ab)·N² / (c(a)·c(b)·B) )
  *
  * with N = total tokens, B = total bigrams. The ln argument is ONE
  * rational evaluated in a pinned order (double products, one double
  * division; see `pmiMicro`) and the score is quantized to FLOOR
  * micro-nats, so both engines produce the identical int64 (same
  * convention as the BM25 idf micro-nats).
  *
  * Scale shape: ONE corpus-pass shuffle — a typed flatMap emits each
  * token once as `(tok, next-or-null)`, aggregated by (a, b). Every
  * downstream input derives from that distinct-pair table (vocab²-
  * bounded, not corpus-bounded): unigram counts are the row-sums over
  * `a` (the null-next row makes each token count exactly once),
  * totals are 1-row aggregates, and the unigram side BROADCASTS onto
  * the bigram side. The pair table is persisted so the corpus is
  * scanned once, not three times.
  *
  * Tokens: `[A-Za-z]+` runs lowered per-token (ASCII-only runs, so
  * locale folding is trivial and engine-independent).
  */
object Collocations {

  private val wordRe = "[A-Za-z]+".r

  /** `floor(1e6 · ln(c·n·n / (n_w1·n_w2·bt)))` as a long. Every operand
    * is cast to double before it is multiplied: long products wrap once
    * n·n passes 2^63, at about 3e9 corpus tokens. Products below 2^53
    * are exact either way. */
  private[graft] def pmiMicro(c: Column, n: Column, nW1: Column, nW2: Column,
      bt: Column): Column = {
    def d(x: Column) = x.cast("double")
    floor(lit(1e6) * log(d(c) * d(n) * d(n) / (d(nW1) * d(nW2) * d(bt)))).cast("long")
  }

  /** Top-k collocations: (w1, w2, n_pair, n_w1, n_w2, pmi_micro),
    * ranked pmi desc with a (w1, w2) tie-break. */
  def pmiTopK(df: DataFrame, textCol: String, minCount: Long = 3L,
              k: Int = 20): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val pairs = df.select(col(textCol).cast("string")).as[String]
      .flatMap { text =>
        val toks = wordRe.findAllIn(Option(text).getOrElse(""))
          .map(_.toLowerCase(Locale.ROOT)).toArray
        toks.indices.iterator.map { i =>
          (toks(i), if (i + 1 < toks.length) toks(i + 1) else null)
        }
      }
      .toDF("a", "b")
    // the single corpus-bounded shuffle; everything below is
    // vocab-bounded, so persist to scan the corpus once
    val pc = pairs.groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("c")).persist()
    val uni = pc.groupBy(col("a")).agg(sum(col("c")).as("ca"))
    val tots = pc.agg(sum(col("c")).as("n"),
      sum(when(col("b").isNotNull, col("c"))).as("bt"))
    val u1 = uni.select(col("a").as("_w1"), col("ca").as("n_w1"))
    val u2 = uni.select(col("a").as("_w2"), col("ca").as("n_w2"))
    pc.where(col("b").isNotNull && col("c") >= minCount)
      .join(broadcast(u1), col("a") === col("_w1"))
      .join(broadcast(u2), col("b") === col("_w2"))
      .crossJoin(broadcast(tots))
      .select(col("a").as("w1"), col("b").as("w2"),
        col("c").cast("long").as("n_pair"),
        col("n_w1").cast("long").as("n_w1"),
        col("n_w2").cast("long").as("n_w2"),
        pmiMicro(col("c"), col("n"), col("n_w1"), col("n_w2"), col("bt")).as("pmi_micro"))
      .orderBy(col("pmi_micro").desc, col("w1"), col("w2"))
      .limit(k)
  }
}
