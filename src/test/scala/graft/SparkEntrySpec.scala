package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Driver-contract integration: every registered query runs on
  * sf0.001 and returns sane results; extraction matches the corpus
  * contract end-to-end through Spark (partitioning-invariant). */
class SparkEntrySpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  private val sf = "/root/testdata/sf0.001"

  test("every query runs on sf0.001 and oracle keys are a subset of query keys") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
    assert(SparkEntry.queries.size == graft.queries.Queries.all.size, "duplicate query names")
    SparkEntry.queries.foreach { case (name, fn) =>
      val n = fn(spark, sf).count()
      withClue(s"query $name:") { assert(n >= 0) }
    }
  }

  test("extraction through Spark matches the byte-identity contract") {
    import spark.implicits._
    val n = 120L
    val corpus = graft.corpus.CorpusGen.generate(spark, n, partitions = 7).toDF()
    val results = graft.extract.Pipeline.run(corpus)
      .select(col("url"), col("fullText")).as[(String, String)]
      .collect().toMap
    (0L until n).foreach { i =>
      graft.corpus.CorpusGen.expectedText(i).foreach { expected =>
        assert(results(graft.corpus.CorpusGen.urlOf(i)) == expected,
          s"mismatch at i=$i")
      }
    }
  }

  test("base64 ingest (S2) reproduces the binary-column extraction exactly") {
    import spark.implicits._
    val n = 120L
    val corpus = graft.corpus.CorpusGen.generate(spark, n, partitions = 4).toDF()
    val direct = graft.extract.Pipeline.run(corpus)
      .select(col("url"), col("status"), col("fullText"))
      .as[(String, String, String)].collect().sortBy(_._1).toSeq
    val viaB64 = graft.extract.Pipeline.runBase64(
        corpus.select(col("url"), col("warc_ts"),
          base64(col("html")).as("html_b64"), col("lang")))
      .select(col("url"), col("status"), col("fullText"))
      .as[(String, String, String)].collect().sortBy(_._1).toSeq
    assert(viaB64 == direct)
  }

  test("extraction is partitioning-invariant (distributed equivalence)") {
    import spark.implicits._
    val corpus = graft.corpus.CorpusGen.generate(spark, 60, partitions = 3).toDF()
    val a = graft.extract.Pipeline.run(corpus)
      .select(col("url"), col("sha256"), length(col("fullText")))
      .collect().map(_.toString).sorted.toSeq
    val b = graft.extract.Pipeline.run(corpus.repartition(13))
      .select(col("url"), col("sha256"), length(col("fullText")))
      .collect().map(_.toString).sorted.toSeq
    assert(a == b)
  }

  test("oversize budget tallies failures without truncating in-budget docs") {
    import spark.implicits._
    val corpus = graft.corpus.CorpusGen.generate(spark, 100, partitions = 4).toDF()
    val out = graft.extract.Pipeline.run(corpus, oversizeBudgetBytes = 10000)
    val statuses = out.groupBy(col("status")).count().as[(String, Long)].collect().toMap
    assert(statuses.getOrElse("oversize", 0L) > 0, s"statuses=$statuses")
    assert(statuses.getOrElse("ok", 0L) > 0)
    // the oversize row is exactly this literal, field by field
    val got = out.filter(col("status") === "oversize").head()
    val want = graft.extract.DocResult(got.url, got.warcTs, got.lang, "unknown",
      "", got.sizeBytes, "oversize",
      s"payload ${got.sizeBytes} bytes exceeds budget 10000",
      "", 0, "", Nil, Nil, "unsigned", "other", Nil, Nil, Nil, Nil,
      "", "", Nil, "unknown", "unknown", 0L, 0L, 0.0, "uncertain",
      "poor", "ocr", "2.1")
    got.productElementNames.zip(got.productIterator.zip(want.productIterator))
      .foreach { case (name, (g, w)) => assert(g == w, s"field $name") }
  }

  test("minhash finds the jittered near-duplicates") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text")).limit(50)
    val jit = docs.select((col("doc_id") + 1000000).as("doc_id"),
      concat(col("text"), lit(" tail")).as("text"))
    val pairs = graft.ops.Dedup.minhashDupPairs(docs.union(jit), "doc_id", "text",
      numHashes = 64, bands = 16, threshold = 0.5)
    assert(pairs.count() >= 40, "most jittered copies should pair with their original")
  }

  test("simhash pairs jittered copies at small hamming distance") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text")).limit(50)
    val jit = docs.select((col("doc_id") + 1000000).as("doc_id"),
      concat(col("text"), lit(" tail")).as("text"))
    val pairs = graft.ops.Dedup.simhashDupPairs(docs.union(jit), "doc_id", "text", maxHamming = 6)
    assert(pairs.count() >= 30)
  }

  test("ann brute-force topk is sane and lsh recall is reasonable") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val q = emb.filter(col("vec_id") < 5)
    val brute = graft.ops.Similarity.bruteForceTopK(emb, q, k = 5).collect()
    assert(brute.length == 25)
    assert(brute.forall(r => r.getAs[Double]("cos") <= 1.0001 && r.getAs[Double]("cos") >= -1.0001))
    val lsh = graft.ops.Similarity.lshTopK(emb, q, k = 5).collect()
    assert(lsh.nonEmpty)
  }

  test("exact dedup keeps one row per identical text") {
    import spark.implicits._
    val df = Seq((1L, "same text"), (2L, "same text"), (3L, "other text"))
      .toDF("doc_id", "text")
    val out = graft.ops.Dedup.exactDedup(df, "doc_id", "text")
      .as[(Long, String)].collect().sortBy(_._1)
    assert(out.toSeq == Seq((1L, "same text"), (3L, "other text")))
  }

  test("quality columns populate") {
    val docs = spark.read.parquet(s"$sf/documents.parquet").limit(20)
    val q = graft.ops.Quality.withQualityColumns(docs)
    val rows = q.select(col("quality_score"), col("n_tokens")).collect()
    assert(rows.forall(r => r.getDouble(0) >= 0.0 && r.getDouble(0) <= 1.0))
    assert(rows.forall(_.getInt(1) > 0))
  }

  test("multimodal stub plumbing: features over binary payloads") {
    import spark.implicits._
    val media = Seq(
      graft.ops.Multimodal.MediaRow(1L, Array[Byte](0x89.toByte, 'P', 'N', 'G', 1, 2, 3, 4, 5, 6, 7, 8),
        graft.ops.Multimodal.MediaMeta("image/png", 32, 32, 3, 0L)),
      graft.ops.Multimodal.MediaRow(2L, Array[Byte](0xFF.toByte, 0xD8.toByte, 9, 9, 9, 9, 9, 9, 9, 9, 9, 9),
        graft.ops.Multimodal.MediaMeta("image/jpeg", 32, 32, 3, 0L))).toDS()
    val feats = graft.ops.Multimodal.imageFeatures(media).collect()
    assert(feats.length == 2)
    assert(feats.forall(_.histogram.sum == 32 * 32))
    assert(graft.ops.Multimodal.sniffMime(Array[Byte](0x89.toByte, 'P', 'N', 'G',
      0, 0, 0, 0, 0, 0, 0, 0)) == "image/png")
  }
}
