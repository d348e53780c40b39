package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Blocked edit-distance near-duplicate detection over short strings
  * (titles, product names, URL slugs) — the fuzzy companion to exact
  * URL dedup: pagination variants, pluralized titles, and punctuation
  * drift collapse under a small Levenshtein radius.
  *
  * All-pairs Levenshtein is O(N²) and impossible at corpus scale; the
  * standard mitigation is BLOCKING: candidate pairs form only inside a
  * block key (here the lower-cased first six characters — the
  * classic prefix block, which by design misses pairs differing inside
  * the prefix; that tradeoff is the documented contract, as in any
  * record-linkage system). The self-join keys on the block, id1 < id2
  * halves the pairs, and the distance filter runs on block-local
  * candidates only — block sizes bound the quadratic term.
  *
  * The distance is the repo's native BANDED Levenshtein
  * (`graft.functions.LevenshteinBounded`, Ukkonen O(L·k) band instead
  * of the built-in's full O(L²) matrix) — on block-local candidate
  * pairs at radius 2 that's ~L/2 less DP work per pair, and the
  * length-difference pre-check inside the expression rejects most
  * pairs without touching the DP. Semantics are identical to the
  * classic distance whenever it is ≤ maxDist (verified byte-exact
  * against DuckDB's `levenshtein` by the oracle).
  */
object FuzzyTitle {

  private val PrefixLen = 6

  /** (id1, id2, dist) for pairs with distance ≤ maxDist inside shared
    * prefix blocks. */
  def nearDupPairs(df: DataFrame, idCol: String, titleCol: String,
                   maxDist: Int): DataFrame = {
    graft.functions.GraftExtensions.register(df.sparkSession)
    val base = df.select(col(idCol).cast("long").as("_id"),
        col(titleCol).cast("string").as("_title"))
      .withColumn("_block", lower(substring(col("_title"), 1, PrefixLen)))
    val left = base.select(col("_block"), col("_id").as("id1"),
      col("_title").as("t1"))
    val right = base.select(col("_block"), col("_id").as("id2"),
      col("_title").as("t2"))
    left.join(right, Seq("_block"))
      .where(col("id1") < col("id2"))
      .withColumn("dist", call_function("graft_levenshtein_bounded",
        col("t1"), col("t2"), lit(maxDist)))
      .where(col("dist") >= 0)
      .select(col("id1"), col("id2"), col("dist"))
  }
}
