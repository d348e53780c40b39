package graft
package queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.{Dedup, Similarity}
import Fixtures._
import PlanProp._

/** Near-duplicate detection and similarity search: MinHash, SimHash,
  * connected components, Jaccard twins and the ANN family. */
object NearDup {

  val all: Seq[Query] = Seq(

    Query("minhash_pairs", (s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      // guarantee near-dups: a jittered copy of each doc (id + 1e6)
      val jittered = docs.select((col("doc_id") + 1000000).as("doc_id"),
        concat(col("text"), lit(" tail")).as("text"))
      // auditGuard: the driver surface keeps the dropped-bucket audit on
      // (persisted, so the guard's stats action materializes the banding
      // pass once and the anti-join reuses it); the library default is a
      // pure plan-builder with no eager action
      Dedup.minhashDupPairs(docs.union(jittered).limit(4000), "doc_id", "text",
          numHashes = 64, bands = 16, threshold = 0.5, auditGuard = true)
        .orderBy(col("id_a"), col("id_b"))
    }),

    Query("simhash_pairs", (s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val jittered = docs.select((col("doc_id") + 1000000).as("doc_id"),
        concat(col("text"), lit(" tail")).as("text"))
      Dedup.simhashDupPairs(docs.union(jittered).limit(4000), "doc_id", "text",
          maxHamming = 3, auditGuard = true)
        .orderBy(col("id_a"), col("id_b"))
    }),

    Query("dedup_cluster", (s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val jittered = docs.select((col("doc_id") + 1000000).as("doc_id"),
        concat(col("text"), lit(" tail")).as("text"))
      Dedup.dedupByMinhash(docs.union(jittered).limit(4000), "doc_id", "text",
          threshold = 0.6)
        .select(col("doc_id"))
        .orderBy(col("doc_id"))
    }),

    // connected components over the ORACLE-CHECKED exact-Jaccard edge
    // set (the same 80-doc graph as jaccard_pairs_sql): the DuckDB twin
    // computes the true transitive closure with a recursive CTE, so a
    // green row certifies Dedup.components' min-label fixpoint — the
    // clustering stage of dedupByMinhash — not merely that rows landed.
    Query("cluster_components_sql", (s, dir) => {
      val docs = t(s, dir, "documents").filter(col("doc_id") < 200)
        .select(col("doc_id"),
          array_distinct(split(lower(col("text")), " ", -1)).as("toks"))
      val a = docs.select(col("doc_id").as("id_a"), col("toks").as("toks_a"))
      val b = docs.select(col("doc_id").as("id_b"), col("toks").as("toks_b"))
      val pairs = a.crossJoin(b).filter(col("id_a") < col("id_b"))
        .withColumn("jaccard", round(
          size(array_intersect(col("toks_a"), col("toks_b"))).cast("double") /
            size(array_union(col("toks_a"), col("toks_b"))), 4))
        .filter(col("jaccard") >= 0.9)
        .select(col("id_a"), col("id_b"))
      Dedup.components(pairs)
        .orderBy(col("id"))
    },
      // min reachable id per node == connected component: the recursive
      // CTE's UNION-dedup fixpoint is the ground-truth transitive closure
      // the Spark side's hooking-and-shortcutting fixpoint must agree with
      oracle = Some("""WITH RECURSIVE d AS (
        | SELECT doc_id, list_distinct(string_split(lower(text), ' ')) AS toks
        | FROM documents WHERE doc_id < 200),
        |p AS (
        | SELECT a.doc_id AS id_a, b.doc_id AS id_b
        | FROM d a JOIN d b ON a.doc_id < b.doc_id
        | WHERE ROUND(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
        |   / len(list_distinct(a.toks || b.toks)), 4) >= 0.9),
        |e AS (
        | SELECT id_a AS na, id_b AS nb FROM p
        | UNION ALL SELECT id_b, id_a FROM p),
        |cc AS (
        | SELECT na AS node, na AS label FROM e
        | UNION
        | SELECT e.nb, cc.label FROM cc JOIN e ON e.na = cc.node)
        |SELECT node AS id, MIN(label) AS component
        |FROM cc GROUP BY node ORDER BY id""".stripMargin)),

    // bounded all-pairs token-set Jaccard — the ORACLE-CHECKED exact
    // form of the similarity metric (80 docs => 3160 pairs; the scale
    // path for the same metric is the MinHash-LSH candidate pipeline
    // below, which never goes all-pairs)
    // exact token-shingle (3-gram) Jaccard on the jaccard_pairs_sql doc
    // set — certifies the dedup family's shingle construction
    // (PyText.splitWs lowercase tokens, k-token space-joined windows,
    // below-k whole-string fallback) against an independent DuckDB
    // list-comprehension twin; hash-free string sets on both sides keep
    // the rounded float byte-exact (murmur is the one step not covered)
    Query("shingle_jaccard_sql", (s, dir) => {
      import s.implicits._
      // trim(text) != '' matches the twin's len(toks) > 0: python-split
      // yields zero tokens exactly when the text is all-whitespace, and
      // two zero-token docs would otherwise emit a jaccard=1.0 row
      // (empty-set convention) the DuckDB side excludes
      val docs = t(s, dir, "documents")
        .filter(col("doc_id") < 80 && trim(col("text")) =!= "")
        .select(col("doc_id"), col("text"))
      val a = docs.select(col("doc_id").as("id_a"), col("text").as("text_a"))
      val b = docs.select(col("doc_id").as("id_b"), col("text").as("text_b"))
      a.crossJoin(b).filter(col("id_a") < col("id_b"))
        .as[(Long, String, Long, String)]
        .map { case (ia, ta, ib, tb) => (ia, ib, Dedup.shingleJaccardExact(ta, tb, 3)) }
        .toDF("id_a", "id_b", "jaccard")
        .filter(col("jaccard") > 0)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
        .orderBy(col("id_a"), col("id_b"))
    },
      // same shingle construction as Dedup.shingleStrings: python-split
      // lowercase tokens, 3-token space-joined windows, below-k texts
      // collapse to one whole-string shingle; string-set jaccard
      oracle = Some("""WITH d AS (
        | SELECT doc_id,
        |  list_filter(regexp_split_to_array(lower(text), '[ \t\n\r\f\v]+'), t -> t != '') AS toks
        | FROM documents WHERE doc_id < 80 AND len(text) > 0),
        |s AS (
        | SELECT doc_id,
        |  CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
        |       ELSE list_distinct(list_transform(range(1, len(toks) - 1),
        |         i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) END AS sh
        | FROM d WHERE len(toks) > 0)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        | ROUND(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |   / len(list_distinct(a.sh || b.sh)), 4) AS jaccard
        |FROM s a JOIN s b ON a.doc_id < b.doc_id
        |WHERE len(list_intersect(a.sh, b.sh)) > 0
        |ORDER BY id_a, id_b""".stripMargin)),

    Query("jaccard_pairs_sql", (s, dir) => {
      val docs = t(s, dir, "documents").filter(col("doc_id") < 80)
        .select(col("doc_id"),
          array_distinct(split(lower(col("text")), " ", -1)).as("toks"))
      val a = docs.select(col("doc_id").as("id_a"), col("toks").as("toks_a"))
      val b = docs.select(col("doc_id").as("id_b"), col("toks").as("toks_b"))
      a.crossJoin(b).filter(col("id_a") < col("id_b"))
        .withColumn("jaccard", round(
          size(array_intersect(col("toks_a"), col("toks_b"))).cast("double") /
            size(array_union(col("toks_a"), col("toks_b"))), 4))
        .filter(col("jaccard") >= 0.3)
        .select(col("id_a"), col("id_b"), col("jaccard"))
        .orderBy(col("id_a"), col("id_b"))
    },
      oracle = Some("""WITH d AS (
        | SELECT doc_id, list_distinct(string_split(lower(text), ' ')) AS toks
        | FROM documents WHERE doc_id < 80),
        |p AS (
        | SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  ROUND(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
        |    / len(list_distinct(a.toks || b.toks)), 4) AS jaccard
        | FROM d a JOIN d b ON a.doc_id < b.doc_id)
        |SELECT id_a, id_b, jaccard FROM p
        |WHERE jaccard >= 0.3 ORDER BY id_a, id_b""".stripMargin)),

    Query("ngram_jaccard_pairs", (s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val jittered = docs.select((col("doc_id") + 1000000).as("doc_id"),
        concat(col("text"), lit(" tail")).as("text"))
      Dedup.ngramJaccardDupPairs(docs.union(jittered).limit(4000), "doc_id", "text",
          threshold = 0.6)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // LSH-bucketed near-dup with an EXACT oracle twin: the only pairs at
    // cos>=0.99 are the 500 source/jittered twins (max natural-pair cos at
    // sf0.01 is 0.513), so the DuckDB all-source-vs-jitter scan is the
    // exact expected answer iff LSH recall is total — which the oracle row
    // then certifies. `vec_id < 500` (not limit) keeps the subset
    // deterministic at any SF.
    Query("embedding_neardup", (s, dir) => {
      val emb = t(s, dir, "embeddings").filter(col("vec_id") < 500)
      import s.implicits._
      val jittered = emb.as[(Long, Seq[Float], String)]
        .map { case (id, v, l) => (id + 10000000L, v.updated(0, v.head + 0.01f), l) }
        .toDF("vec_id", "embedding", "label")
      Similarity.cosineDupPairs(emb.union(jittered), threshold = 0.99)
        .withColumn("cos", round(col("cos"), 4))
        .orderBy(col("id_a"), col("id_b"))
    },
      // exact expected answer for the LSH near-dup query: only the
      // source/jittered twins reach cos>=0.99 (max natural-pair cosine at
      // sf0.01 is 0.513), and the jitter (head + 0.01f in float32) is
      // replicated with FLOAT-typed arithmetic before the DOUBLE[] cosine
      oracle = Some("""WITH j AS (
        | SELECT vec_id AS id_a, vec_id + 10000000 AS id_b,
        |  CAST(embedding AS DOUBLE[]) AS semb,
        |  CAST(list_concat(
        |    [CAST(embedding[1] + CAST(0.01 AS FLOAT) AS FLOAT)],
        |    embedding[2:]) AS DOUBLE[]) AS jemb
        | FROM embeddings WHERE vec_id < 500)
        |SELECT id_a, id_b,
        | ROUND(list_cosine_similarity(semb, jemb), 4) AS cos
        |FROM j
        |WHERE list_cosine_similarity(semb, jemb) >= 0.99
        |ORDER BY id_a, id_b""".stripMargin)),

    Query("ann_ivf_topk", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 10)
      Similarity.ivfTopK(emb, queries, k = 5, nCentroids = 16, nProbe = 4)
        .withColumn("cos", round(col("cos"), 4))
        .orderBy(col("query_id"), col("rank"))
    }),

    Query("ann_brute_topk", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 10)
      Similarity.bruteForceTopK(emb, queries, k = 5)
        .withColumn("cos", round(col("cos"), 4))
        .orderBy(col("query_id"), col("rank"))
    },
      // exact cosine top-k — DuckDB list_cosine_similarity over DOUBLE[]
      // casts reproduces Similarity.cosineScalar's sequential double
      // accumulation bit-for-bit (verified); rank cast to INT matches
      // Spark's int32 row_number
      oracle = Some("""WITH q AS (
        | SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS emb_q
        | FROM embeddings WHERE vec_id < 10),
        |c AS (
        | SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS emb_n
        | FROM embeddings),
        |scored AS (
        | SELECT query_id, neighbor_id,
        |  list_cosine_similarity(emb_q, emb_n) AS cos
        | FROM q JOIN c ON query_id <> neighbor_id),
        |ranked AS (
        | SELECT query_id, neighbor_id, cos,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY query_id
        |   ORDER BY cos DESC, neighbor_id) AS INT) AS "rank"
        | FROM scored)
        |SELECT query_id, neighbor_id, ROUND(cos, 4) AS cos, "rank"
        |FROM ranked WHERE "rank" <= 5 ORDER BY query_id, "rank"""".stripMargin)),

    // IVF at nProbe = nCentroids degrades to brute force by construction
    // (every inverted list is probed), so the exact brute-force SQL is its
    // oracle — a driver-checked equivalence the local SimilarityDedupSpec
    // already asserts
    Query("ann_ivf_full_probe", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 10)
      Similarity.ivfTopK(emb, queries, k = 5, nCentroids = 8, nProbe = 8)
        .withColumn("cos", round(col("cos"), 4))
        .orderBy(col("query_id"), col("rank"))
    },
      // IVF with nProbe = nCentroids ≡ brute force — same exact oracle
      oracle = Some("""WITH q AS (
        | SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS emb_q
        | FROM embeddings WHERE vec_id < 10),
        |c AS (
        | SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS emb_n
        | FROM embeddings),
        |scored AS (
        | SELECT query_id, neighbor_id,
        |  list_cosine_similarity(emb_q, emb_n) AS cos
        | FROM q JOIN c ON query_id <> neighbor_id),
        |ranked AS (
        | SELECT query_id, neighbor_id, cos,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY query_id
        |   ORDER BY cos DESC, neighbor_id) AS INT) AS "rank"
        | FROM scored)
        |SELECT query_id, neighbor_id, ROUND(cos, 4) AS cos, "rank"
        |FROM ranked WHERE "rank" <= 5 ORDER BY query_id, "rank"""".stripMargin)),

    Query("ann_lsh_topk", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 10)
      Similarity.lshTopK(emb, queries, k = 5)
        .withColumn("cos", round(col("cos"), 4))
        .orderBy(col("query_id"), col("rank"))
    }),

    // recall@k self-evidence for the APPROXIMATE ANN family: lshTopK and
    // partial-probe ivfTopK scored against bruteForceTopK on the same
    // embeddings and queries. "Rows landed" says nothing about an
    // approximate method's quality; these scalar rows do (round 3's LSH
    // config returned 2 rows at sf0.1 — recall ≈ 0 — and nothing
    // surfaced it). ivf_full_probe rides along as the 1.0000 sanity
    // anchor. Rows-only (the hyperplane/centroid constructions are not
    // DuckDB-expressible); SimilarityDedupSpec pins recall floors.
    Query("ann_recall", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 10)
      val k = 5
      // persisted: the ground-truth top-k feeds one count + three semi-
      // joins below — unpersisted, the brute-force corpus scan (the
      // heaviest job in the bench) re-ran 4x. Q·k = 50 rows cached.
      val brute = Similarity.bruteForceTopK(emb, queries, k)
        .select(col("query_id"), col("neighbor_id"))
        .persist()
      val nTrue = brute.count()
      def recallRow(approx: DataFrame, method: String): DataFrame =
        approx.select(col("query_id"), col("neighbor_id"))
          .join(brute, Seq("query_id", "neighbor_id"), "left_semi")
          .agg(count(lit(1)).as("hits"))
          .select(lit(method).as("method"), lit(k).as("k"), lit(nTrue).as("n_true"),
            col("hits"), round(col("hits") / lit(nTrue.toDouble), 4).as("recall"))
      // ivf partial-probe at nProbe = half the centroids: the round-4
      // registered config (4 of 16) measured recall 0.56 with no floor
      // documented; 8 of 16 is the config whose band the spec pins
      // (recall ≥ 0.7 at sf0.01/sf0.1 — SimilarityDedupSpec)
      recallRow(Similarity.lshTopK(emb, queries, k), "lsh_p8_t8_mp1")
        .union(recallRow(
          Similarity.ivfTopK(emb, queries, k, nCentroids = 16, nProbe = 8),
          "ivf_probe8of16"))
        .union(recallRow(
          Similarity.ivfTopK(emb, queries, k, nCentroids = 8, nProbe = 8),
          "ivf_full_probe"))
        .orderBy(col("method"))
    },
      plan = Seq(has("InMemoryTableScan"))))
}
