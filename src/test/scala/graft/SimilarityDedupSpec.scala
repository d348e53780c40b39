package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.GraftExtensions
import graft.ops.{Dedup, Similarity}

/** New similarity/dedup operators: native codegen'd cosine Expression,
  * IVF ANN, embedding near-dup pairs, exact n-gram-Jaccard dedup. */
class SimilarityDedupSpec extends AnyFunSuite {

  private val spark = SparkTestBase.spark
  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.001"
  private lazy val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")

  test("graft_cosine native Expression equals the higher-order-function form") {
    GraftExtensions.register(spark)
    // fail loudly if the generated code does not compile (no silent
    // interpreted fallback)
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val pairs = emb.as("a").join(emb.as("b"),
          col("a.vec_id") + 1 === col("b.vec_id"))
        .select(col("a.vec_id").as("id"),
          GraftExtensions.cosine(col("a.embedding"), col("b.embedding")).as("native"),
          Similarity.cosineExpr("a.embedding", "b.embedding").as("hof"))
      val rows = pairs.as[(Long, Double, Double)].collect()
      assert(rows.length > 100)
      rows.foreach { case (_, n, h) => assert(math.abs(n - h) < 1e-12) }
      // SQL registration path
      emb.createOrReplaceTempView("emb_cos_test")
      val viaSql = spark.sql(
        "SELECT graft_cosine(embedding, embedding) AS c FROM emb_cos_test LIMIT 5")
        .as[Double].collect()
      viaSql.foreach(c => assert(math.abs(c - 1.0) < 1e-9))
    } finally spark.conf.unset("spark.sql.codegen.fallback")
  }

  test("IVF with nProbe == nCentroids degrades to exact brute force") {
    val queries = emb.filter(col("vec_id") < 5)
    val brute = Similarity.bruteForceTopK(emb, queries, k = 5)
      .select("query_id", "neighbor_id", "rank")
      .as[(Long, Long, Int)].collect().toSet
    val ivfAll = Similarity.ivfTopK(emb, queries, k = 5,
        nCentroids = 8, nProbe = 8)
      .select("query_id", "neighbor_id", "rank")
      .as[(Long, Long, Int)].collect().toSet
    assert(ivfAll == brute)
  }

  test("IVF with partial probes keeps reasonable recall") {
    val queries = emb.filter(col("vec_id") < 20)
    val brute = Similarity.bruteForceTopK(emb, queries, k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ivf = Similarity.ivfTopK(emb, queries, k = 5, nCentroids = 16, nProbe = 4)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (brute intersect ivf).size.toDouble / brute.size
    assert(recall >= 0.5, s"IVF recall@5 too low: $recall")
  }

  test("IVF at nProbe = nCentroids/2 (the registered ann_recall config) holds a 0.7 floor") {
    // the config the driver's ann_recall query reports (ivf_probe8of16):
    // round 4 registered 4/16 which measured 0.56 with no documented
    // band — this pins the raised config's floor on fixed data
    val queries = emb.filter(col("vec_id") < 20)
    val brute = Similarity.bruteForceTopK(emb, queries, k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ivf = Similarity.ivfTopK(emb, queries, k = 5, nCentroids = 16, nProbe = 8)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (brute intersect ivf).size.toDouble / brute.size
    assert(recall >= 0.7, s"IVF 8/16 recall@5 too low: $recall")
  }

  test("shingle fingerprints: the scale path genuinely uses 64 bits") {
    val text = "the quick brown fox jumps over the lazy dog again and again"
    val hs = Dedup.shingleHashes64(text, 3)
    assert(hs.length == Dedup.shingleStrings(text, 3).length)
    // high 32 bits carry information (a 32-bit hash widened to long
    // would leave them all-zero / all-one — the round-4 collision bug)
    assert(hs.exists(h => (h >>> 32) != 0L && (h >>> 32) != 0xFFFFFFFFL))
    assert(hs.distinct.length == hs.length)
  }

  test("LSH topk with multi-probe keeps reasonable recall") {
    // sf0.01 (500 vectors): large enough for stable bucket statistics.
    // True top-5 neighbors sit at cos 0.33-0.45 (per-plane agreement
    // ~0.62) — the regime where round 3's 12-plane/4-table/no-probe
    // config measured recall ~0; the 8-plane/8-table/1-probe default
    // measures 0.74 here (deterministic: fixed seed, fixed data).
    val emb01 = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val queries = emb01.filter(col("vec_id") < 10)
    val brute = Similarity.bruteForceTopK(emb01, queries, k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val lsh = Similarity.lshTopK(emb01, queries, k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (brute intersect lsh).size.toDouble / brute.size
    assert(recall >= 0.7, s"LSH recall@5 too low: $recall")
    // multi-probe is the lever: the same table structure without probes
    // must not beat the probed form
    val noProbe = Similarity.lshTopK(emb01, queries, k = 5, multiProbe = 0)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert((brute intersect noProbe).size <= (brute intersect lsh).size)
  }

  test("embedding-cosine near-dup pairs find planted duplicates") {
    // plant: vec_id+10000 = same vector with one coordinate nudged
    val jittered = emb.limit(200).as[(Long, Seq[Float], String)]
      .map { case (id, v, l) =>
        (id + 10000, v.updated(0, v.head + 0.01f), l)
      }.toDF("vec_id", "embedding", "label")
    val all = emb.limit(200).union(jittered)
    val pairs = Similarity.cosineDupPairs(all, threshold = 0.99)
      .as[(Long, Long, Double)].collect()
    val planted = pairs.filter { case (a, b, _) => b - a == 10000 }
    assert(planted.length >= 150, s"found only ${planted.length}/200 planted pairs")
    pairs.foreach { case (_, _, c) => assert(c >= 0.99) }
  }

  test("connected components + canonical selection collapse near-dup clusters") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text")).limit(300)
    def jitter(offset: Long, tail: String) =
      docs.select((col("doc_id") + offset).as("doc_id"),
        concat(col("text"), lit(tail)).as("text"))
    // clusters of 3: {d, d+1M, d+2M}
    val tripled = docs.union(jitter(1000000, " tail one"))
      .union(jitter(2000000, " tail two"))
    val kept = Dedup.dedupByMinhash(tripled, "doc_id", "text", threshold = 0.6)
    val ids = kept.select("doc_id").as[Long].collect().toSet
    // no planted jitter survives: every cluster's canonical is a base id
    // (base docs may themselves be near-dups of each other, so the count
    // can dip below 300 — that is correct extra deduplication)
    assert(ids.forall(_ < 1000000), "a jittered copy survived dedup")
    assert(kept.count() >= 250 && kept.count() <= 300,
      s"unexpected canonical count ${kept.count()}")
    // components label every member with a cluster minimum no larger
    // than its own base id
    val pairs = Dedup.minhashDupPairs(tripled, "doc_id", "text", threshold = 0.6)
    val comps = Dedup.components(pairs)
      .as[(Long, Long)].collect().toMap
    comps.foreach { case (id, c) => assert(c <= id) }
    comps.filter(_._1 >= 1000000).foreach { case (id, c) =>
      assert(c <= id % 1000000, s"jitter $id labeled $c above its base") }
  }

  test("components propagates min labels across multi-hop chains exactly") {
    // two chains and one isolated pair: label must travel the full chain
    // length (4 hops), not just one neighborhood round
    val pairs = Seq(
      (10L, 11L), (11L, 12L), (12L, 13L), (13L, 14L), // chain -> 10
      (30L, 31L), (31L, 32L),                          // chain -> 30
      (50L, 51L)                                       // pair  -> 50
    ).toDF("id_a", "id_b")
    val got = Dedup.components(pairs).as[(Long, Long)].collect().toMap
    val want = Map(
      10L -> 10L, 11L -> 10L, 12L -> 10L, 13L -> 10L, 14L -> 10L,
      30L -> 30L, 31L -> 30L, 32L -> 30L, 50L -> 50L, 51L -> 50L)
    assert(got == want, s"components mismatch: $got")
  }

  test("components labels a 1,000-node path with shuffled ids by its minimum") {
    val ids = new scala.util.Random(7).shuffle((0L until 1000L).toVector)
    val pairs = ids.zip(ids.tail).toDF("id_a", "id_b")
    val got = Dedup.components(pairs).as[(Long, Long)].collect()
    assert(got.length == 1000)
    assert(got.map(_._2).distinct.toSeq == Seq(0L))
  }

  test("shingleJaccardExact: hash-free metric, python-split semantics, edge cases") {
    assert(Dedup.shingleJaccardExact("", "", 3) == 1.0)
    assert(Dedup.shingleJaccardExact("a b c d", "", 3) == 0.0)
    // below-k texts fall back to the single whole-string shingle
    assert(Dedup.shingleJaccardExact("a b", "a b", 3) == 1.0)
    assert(Dedup.shingleJaccardExact("a b", "a c", 3) == 0.0)
    val t1 = "the quick brown fox jumps over the lazy dog"
    assert(Dedup.shingleJaccardExact(t1, t1, 3) == 1.0)
    // agrees with the fingerprinted form (no murmur collisions here)
    val t2 = "the quick brown fox jumps over the lazy cat"
    assert(math.abs(Dedup.shingleJaccardExact(t1, t2, 3) -
      Dedup.ngramJaccard(t1, t2, 3)) < 1e-12)
    // run-of-whitespace + case normalization match python str.split()
    assert(Dedup.shingleJaccardExact("A  B\tC", "a b c", 3) == 1.0)
  }

  test("exact n-gram Jaccard dedup verifies minhash candidates") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text")).limit(300)
    val jittered = docs.select((col("doc_id") + 1000000).as("doc_id"),
      concat(col("text"), lit(" extra tail words")).as("text"))
    val pairs = Dedup.ngramJaccardDupPairs(docs.union(jittered), "doc_id", "text",
        threshold = 0.6)
      .as[(Long, Long, Double)].collect()
    val planted = pairs.filter { case (a, b, _) => b - a == 1000000 }
    assert(planted.length >= 250, s"found only ${planted.length}/300 planted pairs")
    // jaccard is the exact value, not the signature estimate
    planted.foreach { case (_, _, j) => assert(j >= 0.6 && j <= 1.0) }
  }

  test("duplicate-shingle report finds cross-document repeated n-grams") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "a different text with the quick brown fox inside it"),
      (3L, "nothing shared here at all frankly speaking now")).toDF("doc_id", "text")
    val rep = Dedup.duplicateShingles(docs, "doc_id", "text", k = 3,
        minDocs = 2, hashed = false)
      .as[(String, Long, Long)].collect()
      .map { case (s, d, o) => s -> ((d, o)) }.toMap
    // exactly the shared 3-gram windows cross two docs
    assert(rep("the quick brown") == ((2L, 2L)))
    assert(rep("quick brown fox") == ((2L, 2L)))
    assert(rep.size == 2, s"unexpected report: $rep")
    // the hashed (scale-path) form agrees on the multiset of counts
    val hashed = Dedup.duplicateShingles(docs, "doc_id", "text", k = 3, minDocs = 2)
      .as[(Long, Long, Long)].collect().map { case (_, d, o) => (d, o) }.sorted
    assert(hashed.toSeq == rep.values.toSeq.sorted)
  }

  test("contamination report measures k-gram containment against a corpus") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "pack my box with five dozen liquor jugs")).toDF("doc_id", "text")
    val cands = Seq(
      (10L, "the quick brown fox jumps high"), // 4 of its 4 shingles: 3 in corpus
      (11L, "completely novel words appear here only")).toDF("doc_id", "text")
    val rep = Dedup.contaminationReport(cands, corpus, "doc_id", "text",
        k = 3, hashed = false)
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1)
    // doc 10: shingles {the quick brown, quick brown fox, brown fox jumps,
    // fox jumps high} — first three occur in corpus doc 1
    assert(rep(0) == ((10L, 4L, 3L, 0.75)))
    assert(rep(1)._1 == 11L && rep(1)._3 == 0L && rep(1)._4 == 0.0)
    // hashed (scale-path) form agrees
    val hashed = Dedup.contaminationReport(cands, corpus, "doc_id", "text", k = 3)
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1)
    assert(hashed.toSeq == rep.toSeq)
  }

  test("gopher signals: keep prose, drop repetition and symbol spam") {
    import graft.ops.Quality
    val prose = (1 to 60).map(i => s"word$i").mkString(" ")
    val repeated = Array.fill(10)("this line repeats itself six times").mkString("\n")
    val spam = prose + " " + Array.fill(20)("#").mkString(" ")
    val df = Seq((1L, prose), (2L, repeated), (3L, spam)).toDF("doc_id", "text")
    val out = Quality.withGopherColumns(df)
      .select(col("doc_id"), col("gopher_keep"), col("frac_distinct_lines"),
        col("symbol_word_ratio"))
      .as[(Long, Boolean, Double, Double)].collect().sortBy(_._1)
    assert(out(0)._2, "clean prose must pass")
    assert(!out(1)._2 && out(1)._3 == 0.1, "repeated lines must fail on distinct fraction")
    assert(!out(2)._2 && out(2)._4 > 0.1, "symbol spam must fail on symbol ratio")
  }

  test("simhash mega-bucket guard bounds candidates on a degenerate corpus") {
    // 600 identical docs: every chunk of every doc lands in the same 4
    // buckets. Unguarded that is 4 x 600² /2 candidate pairs; the guard
    // (maxBucketSize = 100 < 600) drops the degenerate buckets entirely.
    val clones = spark.range(600)
      .select(col("id").as("doc_id"), lit("the same boilerplate text").as("text"))
    val guarded = Dedup.simhashDupPairs(clones, "doc_id", "text",
      maxHamming = 3, maxBucketSize = 100)
    assert(guarded.count() == 0, "oversized buckets must be dropped, not joined")
    // and with the guard above the corpus size, the pairs come back
    val open = Dedup.simhashDupPairs(clones.limit(30), "doc_id", "text",
      maxHamming = 3, maxBucketSize = 1000)
    assert(open.count() == 30L * 29 / 2)
  }

  test("LSH bucket guards plan with no sort (groupBy+broadcast anti-join)") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text")).limit(200)
    for ((name, df) <- Seq(
        "minhash" -> Dedup.minhashDupPairs(docs, "doc_id", "text"),
        "simhash" -> Dedup.simhashDupPairs(docs, "doc_id", "text"))) {
      val planStr = df.queryExecution.executedPlan.toString
      assert(!planStr.contains("Window"),
        s"$name guard must not window-sort the banded rows:\n$planStr")
      assert(planStr.contains("BroadcastHashJoin") &&
             planStr.contains("LeftAnti"),
        s"$name guard must be a broadcast anti-join:\n$planStr")
    }
  }
}
