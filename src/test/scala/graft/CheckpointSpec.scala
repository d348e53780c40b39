package graft

import java.nio.file.{Files, Path, Paths}

import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.corpus.CorpusGen
import graft.extract.Pipeline
import graft.ops.Checkpoint

/** Resume-from-checkpoint semantics (SURVEY.md §5.5, north rule):
  * partial failure → re-run recomputes only the missing partitions and
  * the final table is identical to a single full run; per-partition
  * lineage rows land in the metrics table. */
class CheckpointSpec extends AnyFunSuite {

  private val spark = SparkTestBase.spark
  import spark.implicits._

  private def freshDir(): String =
    Files.createTempDirectory("graft_ckpt_").toString

  private val N = 300L
  private val Buckets = 8

  private def listDir(p: Path): Vector[Path] = {
    val s = Files.list(p)
    try s.iterator().asScala.toVector finally s.close()
  }

  private def parquetCount(p: Path): Int =
    listDir(p).count(_.getFileName.toString.endsWith(".parquet"))

  /** Committed `_metrics` run files: `run-<uuid>.json`, no temp files. */
  private def runFileCount(p: Path): Int =
    listDir(p).count(f => f.getFileName.toString.matches("run-[0-9a-f-]{36}\\.json"))

  /** `.parquet` files in each `bucket=k` directory of the data table. */
  private def filesPerBucket(out: String): Map[String, Int] =
    listDir(Paths.get(out, "data")).filter(Files.isDirectory(_))
      .map(d => d.getFileName.toString -> parquetCount(d)).toMap

  test("full run commits every bucket with lineage totals that add up") {
    val out = freshDir()
    val corpus = CorpusGen.generate(spark, N, partitions = 8).toDF()
    val report = Checkpoint.runResumable(corpus, out, Buckets, runId = "r1")

    assert(report.skippedBuckets == 0)
    assert(report.processedBuckets == Buckets)
    assert(report.lineage.map(_.docCount).sum == N)

    val m = Checkpoint.metrics(spark, out)
    assert(m.count() == Buckets)
    assert(m.agg(sum("docCount")).as[Long].head() == N)

    // failure tally: corrupt rows (idx%100 in {89, 96}) parse to
    // error/empty without poisoning the run
    val byStatus = Checkpoint.output(spark, out)
      .groupBy("status").count().as[(String, Long)].collect().toMap
    assert(byStatus.getOrElse("ok", 0L) > 0.8 * N)
    assert(byStatus.values.sum == N)
  }

  test("second run over a complete output is a no-op") {
    val out = freshDir()
    val corpus = CorpusGen.generate(spark, N, partitions = 8).toDF()
    Checkpoint.runResumable(corpus, out, Buckets, runId = "r1")
    val again = Checkpoint.runResumable(corpus, out, Buckets, runId = "r2")
    assert(again.skippedBuckets == Buckets)
    assert(again.processedBuckets == 0)
    // no extra metrics rows appended
    assert(Checkpoint.metrics(spark, out).count() == Buckets)
  }

  test("resume recomputes only invalidated buckets; final output byte-identical to a full run") {
    val out = freshDir()
    val corpus = CorpusGen.generate(spark, N, partitions = 8).toDF()
    Checkpoint.runResumable(corpus, out, Buckets, runId = "r1")

    val lost = Seq(1, 4, 6)
    lost.foreach(Checkpoint.invalidateBucket(out, _))

    val resumed = Checkpoint.runResumable(corpus, out, Buckets, runId = "r2")
    assert(resumed.skippedBuckets == Buckets - lost.size)
    assert(resumed.processedBuckets == lost.size)
    assert(resumed.lineage.map(_.bucket).toSet == lost.toSet)

    // lineage: r2 rows exist only for the recomputed buckets
    val r2Buckets = Checkpoint.metrics(spark, out)
      .filter(col("runId") === "r2").select("bucket").as[Int].collect().toSet
    assert(r2Buckets == lost.toSet)

    // final table == direct single-pass extraction, per url
    val direct = Pipeline.run(corpus)
      .select(col("url"), col("fullText"), col("status"), col("sha256"))
      .as[(String, String, String, String)].collect().sortBy(_._1)
    val resumedOut = Checkpoint.output(spark, out)
      .select(col("url"), col("fullText"), col("status"), col("sha256"))
      .as[(String, String, String, String)].collect().sortBy(_._1)
    assert(resumedOut.length == direct.length)
    resumedOut.zip(direct).foreach { case (a, b) => assert(a == b) }
  }

  test("mid-write crash analog: data present but uncommitted bucket is recomputed idempotently") {
    val out = freshDir()
    val corpus = CorpusGen.generate(spark, N, partitions = 8).toDF()
    Checkpoint.runResumable(corpus, out, Buckets, runId = "r1")
    // simulate: manifest for bucket 2 lost AFTER data write (crash between
    // data commit and manifest commit) — the bucket must be overwritten
    // in place without duplicating rows
    Checkpoint.invalidateBucket(out, 2)
    Checkpoint.runResumable(corpus, out, Buckets, runId = "r2")
    val n = Checkpoint.output(spark, out).count()
    assert(n == N, s"dynamic overwrite must not duplicate rows, got $n")
  }

  test("a run commits at most one data file per bucket") {
    val out = freshDir()
    val corpus = CorpusGen.generate(spark, N, partitions = 8).toDF()
    Checkpoint.runResumable(corpus, out, Buckets, runId = "r1")
    val full = filesPerBucket(out)
    assert(full.size == Buckets)
    assert(full.values.forall(_ == 1), s"files per bucket after a full run: $full")

    val lost = Seq(0, 5)
    lost.foreach(Checkpoint.invalidateBucket(out, _))
    Checkpoint.runResumable(corpus, out, Buckets, runId = "r2")
    val resumed = filesPerBucket(out)
    assert(resumed == full, s"files per bucket after a resume: $resumed")
    assert(Checkpoint.output(spark, out).count() == N)
  }

  test("a run over an empty input processes 0 buckets and does not fail") {
    val out = freshDir()
    val empty = CorpusGen.generate(spark, N, partitions = 8).toDF().filter(lit(false))
    val report = Checkpoint.runResumable(empty, out, Buckets, runId = "r1")
    assert(report.skippedBuckets == 0)
    assert(report.processedBuckets == 0)
    assert(report.lineage.isEmpty)
    assert(Checkpoint.completedBuckets(out).isEmpty)
  }

  test("metrics after a run over an empty input has 0 rows") {
    val out = freshDir()
    val empty = CorpusGen.generate(spark, N, partitions = 8).toDF().filter(lit(false))
    Checkpoint.runResumable(empty, out, Buckets, runId = "r1")
    assert(Checkpoint.metrics(spark, out).count() == 0L)
  }

  test("_metrics gets one file per run") {
    val out = freshDir()
    val corpus = CorpusGen.generate(spark, N, partitions = 8).toDF()
    Checkpoint.runResumable(corpus, out, Buckets, runId = "r1")
    Checkpoint.invalidateBucket(out, 3)
    Checkpoint.runResumable(corpus, out, Buckets, runId = "r2")
    val n = runFileCount(Paths.get(out, "_metrics"))
    assert(n == 2, s"_metrics holds $n run files after two runs")
    assert(Checkpoint.metrics(spark, out).count() == Buckets + 1)
  }

  /** Per-bucket (bucket, docs, ok, fail, empty, bytes) of the committed
    * table, read back and counted by status. */
  private def readBack(out: String, buckets: Set[Int]): Seq[(Int, Long, Long, Long, Long, Long)] =
    Checkpoint.output(spark, out)
      .filter(col("bucket").isin(buckets.toSeq: _*))
      .groupBy(col("bucket"))
      .agg(count(lit(1)), count(when(col("status") === "ok", 1)),
        count(when(col("status").isin("error", "oversize", "unsupported"), 1)),
        count(when(col("status") === "empty", 1)), sum(col("sizeBytes")))
      .as[(Int, Long, Long, Long, Long, Long)].collect().toSeq.sortBy(_._1)

  private def observed(r: Checkpoint.ResumeReport): Seq[(Int, Long, Long, Long, Long, Long)] =
    r.lineage.map(l => (l.bucket, l.docCount, l.okCount, l.failCount, l.emptyCount, l.inputBytes))

  test("observed lineage equals a read-back of the committed table (full run and resume)") {
    val out = freshDir()
    val corpus = CorpusGen.generate(spark, N, partitions = 8).toDF()
    val full = Checkpoint.runResumable(corpus, out, Buckets, runId = "r1")
    assert(observed(full) == readBack(out, (0 until Buckets).toSet))
    // the corpus has error, empty and unsupported rows: every tally is live
    assert(full.lineage.map(_.failCount).sum > 0 && full.lineage.map(_.emptyCount).sum > 0)

    val lost = Set(2, 7)
    lost.foreach(Checkpoint.invalidateBucket(out, _))
    val resumed = Checkpoint.runResumable(corpus, out, Buckets, runId = "r2")
    assert(resumed.lineage.map(_.bucket).toSet == lost)
    assert(observed(resumed) == readBack(out, lost))
  }

  test("runs with nothing to write return without waiting on the lineage") {
    val out = freshDir()
    val corpus = CorpusGen.generate(spark, N, partitions = 8).toDF()
    val empty = Future(Checkpoint.runResumable(corpus.filter(lit(false)), out, Buckets, "r1"))
    assert(Await.result(empty, 2.minutes).lineage.isEmpty)
    Checkpoint.runResumable(corpus, out, Buckets, runId = "r2")
    val noop = Future(Checkpoint.runResumable(corpus, out, Buckets, runId = "r3"))
    assert(Await.result(noop, 2.minutes).processedBuckets == 0)
  }

  test("a resume runs 2 Spark jobs: the data write only, no lineage job or read-back") {
    val out = freshDir()
    val corpus = CorpusGen.generate(spark, N, partitions = 8).toDF()
    Checkpoint.runResumable(corpus, out, Buckets, runId = "r1")
    Seq(0, 5).foreach(Checkpoint.invalidateBucket(out, _))
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val fenceSeen = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull match {
          case "ckpt-resume" => jobs.incrementAndGet()
          case "ckpt-fence" => fenceSeen.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("ckpt-resume", "resume")
      Checkpoint.runResumable(corpus, out, Buckets, runId = "r2")
      // the bus delivers events in order: once the fence job's start is
      // seen, every job of the resume has been counted
      sc.setJobGroup("ckpt-fence", "fence")
      spark.range(1).collect()
      assert(fenceSeen.await(1, java.util.concurrent.TimeUnit.MINUTES))
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    assert(jobs.get == 2, s"a resume ran ${jobs.get} jobs")
  }

  test("a run id with a quote, a backslash and a newline round-trips through manifest and metrics") {
    val out = freshDir()
    val runId = "r\"1\\x\n"
    val corpus = CorpusGen.generate(spark, N, partitions = 8).toDF()
    Checkpoint.runResumable(corpus, out, Buckets, runId)
    val manifest = spark.read.option("mode", "FAILFAST")
      .schema("runId STRING, bucket INT, docCount LONG")
      .json(Paths.get(out, "_manifest", "bucket-00003.json").toString)
      .as[(String, Int, Long)].collect().toSeq
    assert(manifest.map(r => (r._1, r._2)) == Seq((runId, 3)))
    assert(Checkpoint.metrics(spark, out).select("runId").distinct().as[String]
      .collect().toSeq == Seq(runId))
  }

  test("temp files a crash leaves in _metrics and _manifest are ignored; the resume redoes their buckets") {
    val out = freshDir()
    val corpus = CorpusGen.generate(spark, N, partitions = 8).toDF()
    val full = Checkpoint.runResumable(corpus, out, Buckets, runId = "r1")
    // a crash between write and move: bucket 3's manifest and the run file
    // of the lineage of the run that redid it were written, never renamed
    Checkpoint.invalidateBucket(out, 3)
    val line = Checkpoint.metrics(spark, out).filter(col("bucket") === 3).toJSON.head()
    Files.write(Paths.get(out, "_manifest", ".bucket-00003.json.tmp"), line.getBytes("UTF-8"))
    Files.write(Paths.get(out, "_metrics", s".run-${java.util.UUID.randomUUID()}.json.tmp"),
      line.replace("r1", "crashed").getBytes("UTF-8"))

    assert(Checkpoint.metrics(spark, out).count() == Buckets)
    assert(Checkpoint.metrics(spark, out).filter(col("runId") === "crashed").count() == 0)
    assert(Checkpoint.completedBuckets(out) == (0 until Buckets).toSet - 3)

    val resumed = Checkpoint.runResumable(corpus, out, Buckets, runId = "r2")
    assert(resumed.lineage.map(_.bucket) == Seq(3))
    assert(observed(resumed) == observed(full).filter(_._1 == 3))
    assert(Checkpoint.completedBuckets(out) == (0 until Buckets).toSet)
    assert(Checkpoint.metrics(spark, out).count() == Buckets + 1)
    assert(runFileCount(Paths.get(out, "_metrics")) == 2)
    assert(Checkpoint.output(spark, out).count() == N)
  }
}
