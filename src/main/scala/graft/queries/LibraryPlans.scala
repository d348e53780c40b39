package graft
package queries

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.extract.Pipeline
import graft.ops.{Checkpoint, Dedup, Similarity}
import PlanProp._

/** Plan properties of library frames that no driver query builds: the
  * extraction contract and its views over a CorpusGen parquet directory
  * `corpus`, and the dedup, ANN and checkpoint operators in their
  * default (scale-path) configurations. Not part of the driver surface:
  * these entries carry no oracle and never reach `SparkEntry`. */
object LibraryPlans {

  def all(corpus: String): Seq[Query] = {
    def extracted(s: SparkSession) =
      Pipeline.run(s.read.parquet(corpus))
    def docs(s: SparkSession, dir: String): DataFrame =
      s.read.parquet(s"$dir/documents.parquet").select(col("doc_id"), col("text"))
    def emb(s: SparkSession, dir: String): DataFrame =
      s.read.parquet(s"$dir/embeddings.parquet")
    def toyEmb(s: SparkSession): DataFrame =
      s.range(60).select(col("id").as("vec_id"),
        expr("transform(sequence(1, 8), k -> cast(pmod(id * k, 7) as float))").as("embedding"))

    Seq(
      Query("extract_contract", (s, _) => Pipeline.contractView(extracted(s)),
        plan = Seq(scanReads("url", "warc_ts", "html", "lang"), exactly("MapPartitions", 1))),

      Query("lang_filter", (s, _) =>
        s.read.parquet(corpus).filter(col("lang") === "en").select(col("url")),
        plan = Seq(pushed("EqualTo(lang,en)"), neverReads("html"))),

      Query("entities_view", (s, _) => Pipeline.entitiesView(extracted(s)),
        plan = Seq(exactly("MapPartitions", 1), has("Generate"))),

      Query("minhash_candidates", (s, dir) =>
        Dedup.minhashDupPairs(docs(s, dir), "doc_id", "text"),
        plan = Seq(planned(has("BroadcastHashJoin", "LeftAnti")), lacks("Window"),
          lacks("SortAggregate"), neverShuffles("text"))),

      Query("simhash_candidates", (s, dir) =>
        Dedup.simhashDupPairs(docs(s, dir), "doc_id", "text"),
        plan = Seq(planned(has("BroadcastHashJoin", "LeftAnti")), has("bit_count"), codegen)),

      Query("contamination_hashed", (s, dir) =>
        Dedup.contaminationReport(docs(s, dir).filter(col("doc_id") >= 40),
          docs(s, dir).filter(col("doc_id") < 40), "doc_id", "text", k = 3),
        plan = Seq(noCartesian, atLeast("HashAggregate", 4), shuffleKey("sh"), neverShuffles("text"))),

      Query("ann_ivf", (s, dir) =>
        Similarity.ivfTopK(emb(s, dir), emb(s, dir).filter(col("vec_id") < 4), k = 5,
          nCentroids = 8, nProbe = 2),
        plan = Seq(has("BroadcastExchange"), calls("graft_cosine"))),

      Query("ann_brute", (s, dir) =>
        Similarity.bruteForceTopK(emb(s, dir), emb(s, dir).filter(col("vec_id") < 4), k = 5),
        plan = Seq(has("MapPartitions"), noCartesian)),

      Query("ann_cosine_lsh", (s, _) =>
        Similarity.lshTopK(toyEmb(s), toyEmb(s).filter(col("vec_id") < 2), k = 3),
        plan = Seq(calls("graft_cosine"))),

      Query("ann_cosine_ivf", (s, _) =>
        Similarity.ivfTopK(toyEmb(s), toyEmb(s).filter(col("vec_id") < 2), k = 3,
          nCentroids = 4, nProbe = 4),
        plan = Seq(calls("graft_cosine"))),

      Query("ann_cosine_pairs", (s, _) =>
        Similarity.cosineDupPairs(toyEmb(s), threshold = 0.5),
        plan = Seq(calls("graft_cosine"))),

      Query("checkpoint_write", (s, _) =>
        Checkpoint.toWrite(s.read.parquet(corpus), done = Set(1), nBuckets = 4),
        plan = Seq(shuffleKey("bucket"))),

      Query("checkpoint_bucket_read", (s, _) => {
        val out = Files.createTempDirectory("graft_plans_ck_").toString
        Checkpoint.runResumable(s.read.parquet(corpus), out, 4, "plans")
        Checkpoint.output(s, out).filter(col("bucket") === 1)
      },
        plan = Seq(has("PartitionFilters: [isnotnull(bucket"))))
  }
}
