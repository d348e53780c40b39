package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Redirect-chain resolution by POINTER DOUBLING — the classic
  * parallel list-ranking trick (Wyllie 1979): each round joins the
  * pointer table with itself, so after r rounds every source sees the
  * node 2^r hops ahead (or its terminal, wherever reached first).
  * Chains resolve in log-depth self-joins, where the naive walk would
  * need one join PER HOP over the whole table (64-hop chains: 6 joins
  * instead of 64).
  *
  * Each source keeps one out-edge, its smallest `dst`, so a chain is
  * never longer than the edge count n: ⌈log₂ n⌉ rounds resolve every
  * chain, and the rounds stop early once no pointer has an out-edge left.
  *
  * Cycles (including self-loops) never reach a terminal; after the
  * doubling rounds any source whose pointer still has an out-edge is
  * reported `resolved = false` with NULL final/hops — the crawler's
  * signal to drop the redirect family as a trap.
  *
  * Scale shape: the edge table is redirect-cardinality (a small slice
  * of the corpus); every round is one equi-join + coalesce projection,
  * checkpointed so the plan stays one join deep. Deterministic: hops
  * accumulate exactly the chain length for resolved sources.
  */
object Redirects {

  /** (src, final_dst, hops, resolved) for every redirect source. */
  def resolve(edgesIn: DataFrame): DataFrame = {
    val edges = edgesIn.select(col("src").cast("string"),
        col("dst").cast("string"))
      .groupBy(col("src")).agg(min(col("dst")).as("dst"))
      .localCheckpoint()
    val outSrcs = edges.select(col("src").as("dst"))
    // ⌈log₂ n⌉ doublings: 2^rounds hops cover the longest possible chain
    var rounds = 64 - java.lang.Long.numberOfLeadingZeros(math.max(edges.count() - 1, 0L))
    var f = edges.withColumn("hops", lit(1L))
    while (rounds > 0 && !f.join(outSrcs, Seq("dst"), "left_semi").isEmpty) {
      val g = f.select(col("src").as("_gs"), col("dst").as("_gd"),
        col("hops").as("_gh"))
      // localCheckpoint: `f` joins a projection of itself, so without it
      // the plan doubles every round
      f = f.join(g, col("dst") === col("_gs"), "left")
        .select(col("src"),
          coalesce(col("_gd"), col("dst")).as("dst"),
          (col("hops") + coalesce(col("_gh"), lit(0L))).as("hops"))
        .localCheckpoint()
      rounds -= 1
    }
    f.join(outSrcs.withColumn("_has_out", lit(true)), Seq("dst"), "left")
      .select(col("src"),
        when(col("_has_out").isNotNull, lit(null).cast("string"))
          .otherwise(col("dst")).as("final_dst"),
        when(col("_has_out").isNotNull, lit(null).cast("long"))
          .otherwise(col("hops")).as("hops"),
        col("_has_out").isNull.as("resolved"))
  }
}
