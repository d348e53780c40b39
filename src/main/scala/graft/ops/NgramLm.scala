package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Corpus-trained bigram language-model scoring — the CCNet-style
  * quality signal (Wenzek et al. 2020 score crawl text with a KenLM
  * trained on a clean reference corpus; docs far from the reference
  * distribution are tail quality). Here the model is a bigram LM with
  * add-one smoothing trained on a designated reference subset, and each
  * document's score is its average bigram log-probability under it:
  *
  *   P(w2 | w1) = (c(w1,w2) + 1) / (c(w1·) + V)
  *
  * where c(w1·) is w1's count AS A BIGRAM HEAD (the proper bigram MLE
  * denominator: sum over w2 of c(w1,w2)) and V the number of distinct
  * head words.
  *
  * Oracle-exactness design: a sum of doubles is summation-ORDER
  * dependent, so per-term log-probs are quantized to integer micro-nats
  * (`floor(1e6 * ln p)` — floor, not round: round-half ties break
  * differently across engines on negative values) and summed as BIGINT,
  * which is order-free and byte-exact on any engine. The double `p`
  * itself is exact: integer counts cast to double, one IEEE division.
  *
  * Scale shape (100 TB): training is ONE pass — a grouping-sets
  * aggregate ((w1,w2),(w1)) over the reference bigram stream, so bigram
  * and head counts share a single scan and a single map-side-combined
  * shuffle of (word[,word], count) rows (vocab-bounded, tiny next to
  * the corpus); the model persists (it is consumed by the bigram join,
  * the head join, and the 1-row vocab aggregate — the same pattern as
  * ann_recall's persisted ground truth). Scoring is an equi-join of the
  * exploded bigram stream against the model on (w1, w2) — AQE
  * broadcasts the model when it fits, else a shuffle join on narrow
  * string keys; the smoothing vocabulary size joins as a broadcast
  * 1-row cross join (never a driver-side collect). Docs with fewer than
  * two tokens have no bigrams and drop from the scored output.
  */
object NgramLm {

  /** Lowercased whitespace tokens, empties dropped (pure column expr). */
  def tokensCol(text: Column): Column =
    filter(split(lower(text), "\\s+"), t => length(t) > 0)

  /** Exploded (id, w1, w2) adjacent-bigram stream. */
  def bigramStream(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = df.select(col(idCol), tokensCol(col(textCol)).as("toks"))
      .where(size(col("toks")) >= 2)
    toks.select(col(idCol),
        explode(expr(
          "transform(slice(toks, 1, size(toks) - 1)," +
          " (w, i) -> struct(w AS w1, element_at(toks, i + 2) AS w2))"))
          .as("bg"))
      .select(col(idCol), col("bg.w1"), col("bg.w2"))
  }

  /** One-pass model: grouping sets ((w1,w2),(w1)) over the reference
    * bigram stream — gid 0 rows are bigram counts, gid 1 rows are
    * head counts. Vocab-bounded; callers persist it. The two sets come
    * from an explode, not `groupingSets`: a cached Expand is matched
    * only by its first consumer in a query (the plan dedup renames the
    * Expand's outputs in the other copies), so the head and vocab
    * consumers would re-train from the corpus. */
  def trainModel(ref: DataFrame, idCol: String, textCol: String): DataFrame =
    bigramStream(ref, idCol, textCol)
      .select(explode(array(
        struct(col("w1"), col("w2"), lit(0L).as("gid")),
        struct(col("w1"), lit(null).cast("string").as("w2"), lit(1L).as("gid")))).as("g"))
      .groupBy(col("g.w1").as("w1"), col("g.w2").as("w2"), col("g.gid").as("gid"))
      .agg(count(lit(1)).as("c"))
      .select(col("w1"), col("w2"), col("c"), col("gid"))

  /** Per-doc LM score against a reference corpus. Emits n_bigrams,
    * n_oov (bigrams unseen in the reference), sum_lp_micro (BIGINT
    * micro-nats, order-free), and the derived avg_logprob. Lower
    * scores = farther from the reference distribution. */
  def scoreDocs(docs: DataFrame, ref: DataFrame,
                idCol: String, textCol: String): DataFrame = {
    val model = trainModel(ref, idCol, textCol)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val bg = model.where(col("gid") === 0)
      .select(col("w1"), col("w2"), col("c").as("c2"))
    val heads = model.where(col("gid") === 1)
      .select(col("w1"), col("c").as("c1"))
    val vocab = heads.agg(count(lit(1)).as("vocab"))
    bigramStream(docs, idCol, textCol)
      .join(bg, Seq("w1", "w2"), "left")
      .join(heads, Seq("w1"), "left")
      .crossJoin(broadcast(vocab))
      .withColumn("p",
        (coalesce(col("c2"), lit(0L)) + 1L).cast("double") /
          (coalesce(col("c1"), lit(0L)) + col("vocab")).cast("double"))
      .withColumn("oov", col("c2").isNull)
      .withColumn("lp_micro", floor(log(col("p")) * 1e6).cast("long"))
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_bigrams"),
        sum(when(col("oov"), 1L).otherwise(0L)).as("n_oov"),
        sum(col("lp_micro")).as("sum_lp_micro"))
      .withColumn("avg_logprob",
        col("sum_lp_micro").cast("double") / col("n_bigrams") / 1e6)
  }
}
