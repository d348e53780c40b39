package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Host-level link graph + fixed-iteration PageRank — the web-scale
  * domain-trust signal (Page et al. 1999): spam farms interlink
  * themselves but earn few links from the rest of the web, so a few
  * power-iteration rounds over the HOST graph separate them from
  * organically-linked domains. Crawl curation pipelines use the rank
  * as a per-domain quality prior next to content-level filters.
  *
  * Scale shape: the graph is derived ONCE from the corpus (explode +
  * distinct — document text never enters the graph), and everything
  * after runs at HOST cardinality (millions of rows at web scale,
  * gigabytes — not the corpus's 100 TB). Each iteration is one
  * equi-join of edges against the rank table plus one map-side-combined
  * aggregate keyed on dst; the edge list and out-degree table are
  * persisted so iterations re-read a materialized graph instead of
  * re-deriving it from the corpus scan.
  *
  * Determinism: ranks are integer micro-units end to end — the update
  * is `base + (dampingPct * sum(rank div deg)) div 100`, pure integer
  * arithmetic, so the result is independent of partitioning,
  * summation order, and engine (a DuckDB twin reproduces it
  * byte-exactly). Documented variant: dangling-host mass is dropped,
  * not redistributed (the usual redistribution term needs a global
  * float sum per iteration; ranks here are a relative ordering signal,
  * and the (1-d) base term keeps every host above zero).
  */
object LinkGraph {

  /** Distinct host→host edges from per-doc outlink-host arrays.
    * Self-loops are dropped (a domain linking to itself carries no
    * trust signal and would let link farms self-inflate). */
  def hostEdges(docs: DataFrame, srcHostCol: String,
                targetHostsCol: String): DataFrame =
    docs.select(col(srcHostCol).as("src"),
        explode(col(targetHostsCol)).as("dst"))
      .where(col("src") =!= col("dst"))
      .distinct()

  private val DampingPct = 85
  private val ScaleMicro = 1000000L

  /** `iterations` PageRank power steps over `edges` (`src`,`dst`),
    * all-integer: every host starts at `ScaleMicro` (10⁶), each step gives
    * `base + (DampingPct * Σ_in (rank div out_deg)) div 100` with a
    * damping of 85%. Returns (host, rank_micro). Hosts with no in-links
    * keep the base term. */
  def pageRankMicro(edgesIn: DataFrame, iterations: Int): DataFrame = {
    require(iterations >= 1, "pageRankMicro needs >= 1 iteration")
    // persist: every iteration re-reads the graph; without this the
    // corpus-derived edge plan would recompute per iteration (lazy, so
    // building the plan stays side-effect-free — first action pays it)
    val edges = edgesIn.select(col("src"), col("dst"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nodes = edges.select(col("src").as("host"))
      .union(edges.select(col("dst").as("host")))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val outDeg = edges.groupBy(col("src"))
      .agg(count(lit(1)).as("deg"))
    val base = ScaleMicro * (100 - DampingPct) / 100
    var ranks = nodes.withColumn("rank_micro", lit(ScaleMicro))
    for (_ <- 1 to iterations) {
      val contribs = edges
        .join(ranks.select(col("host").as("src"), col("rank_micro")), "src")
        .join(outDeg, "src")
        .select(col("dst").as("host"),
          expr("rank_micro div deg").as("contrib"))
        .groupBy(col("host"))
        .agg(sum(col("contrib")).as("s"))
      ranks = nodes.join(contribs, Seq("host"), "left")
        .select(col("host"),
          (lit(base) +
            coalesce(expr(s"($DampingPct * s) div 100"), lit(0L)))
            .as("rank_micro"))
    }
    ranks
  }

  /** Per-host link reciprocity — the classic link-farm fingerprint
    * (spam rings interlink MUTUALLY; organic linking is largely
    * one-way, cf. the TrustRank line of work, Gyöngyi et al. 2004):
    * for each host, how many of its out-edges are reciprocated by a
    * reverse edge.
    *
    * Returns (host, out_deg, n_reciprocal, reciprocity_micro) with
    * reciprocity_micro = (10⁶ · n_reciprocal) div out_deg — integer-
    * exact. One self-equi-join of the host-cardinality edge table on
    * the reversed key (left_semi — reciprocated edges only, never a
    * row explosion), plus the out-degree aggregate; nothing
    * corpus-sized moves. */
  def reciprocalStats(edgesIn: DataFrame): DataFrame = {
    val edges = edgesIn.select(col("src"), col("dst"))
    val rev = edges.select(col("dst").as("src"), col("src").as("dst"))
    val recip = edges.join(rev, Seq("src", "dst"), "left_semi")
      .groupBy(col("src")).agg(count(lit(1)).as("n_recip"))
    edges.groupBy(col("src")).agg(count(lit(1)).as("out_deg"))
      .join(recip, Seq("src"), "left")
      .withColumn("n_reciprocal", coalesce(col("n_recip"), lit(0L)))
      .select(col("src").as("host"), col("out_deg"),
        col("n_reciprocal"),
        expr("(1000000 * n_reciprocal) div out_deg")
          .as("reciprocity_micro"))
  }
}
