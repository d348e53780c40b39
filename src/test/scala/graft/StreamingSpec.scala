package graft

import java.nio.file.Files

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.corpus.CorpusGen
import graft.streaming.StreamingExtract

/** Structured-Streaming ingest (SURVEY.md §2.8): new files are picked up
  * incrementally, the streaming checkpoint prevents reprocessing, and the
  * watermarked daily roll-up aggregates event-time windows. */
class StreamingSpec extends AnyFunSuite {

  private val spark = SparkTestBase.spark
  import spark.implicits._

  test("file-source stream extracts a backlog, then only new files on restart") {
    val root = Files.createTempDirectory("graft_stream_").toString
    val in = s"$root/in"; val out = s"$root/out"; val ckpt = s"$root/ckpt"

    // batch 1: rows [0, 200)
    CorpusGen.generate(spark, 200, partitions = 2).toDF()
      .write.mode("append").parquet(in)
    val q1 = StreamingExtract.start(spark, in, out, ckpt)
    q1.awaitTermination()
    val n1 = spark.read.parquet(s"$out/data").count()
    assert(n1 == 200)

    // batch 2: 100 more rows land; restart with the same checkpoint —
    // only the new files process (no duplicates)
    spark.range(200, 300, 1, 2).map(CorpusGen.row(_)).toDF()
      .write.mode("append").parquet(in)
    val q2 = StreamingExtract.start(spark, in, out, ckpt)
    q2.awaitTermination()

    val outDf = spark.read.parquet(s"$out/data")
    assert(outDf.count() == 300)
    assert(outDf.select("url").distinct().count() == 300)

    // per-batch lineage rows in the metrics table cover all docs
    val metrics = spark.read.json(s"$out/_metrics")
    assert(metrics.agg(sum("docCount")).as[Long].head() == 300)
    assert(metrics.select("batchId").distinct().count() >= 2)

    // extracted text identical to the batch pipeline (same engine)
    val streamed = outDf.select("url", "fullText").as[(String, String)]
      .collect().toMap
    val direct = graft.extract.Pipeline.run(
        CorpusGen.generate(spark, 300, partitions = 4).toDF())
      .select("url", "fullText").as[(String, String)].collect()
    direct.foreach { case (url, text) => assert(streamed(url) == text) }
  }

  test("stateful streaming dedup: first-seen per digest across restarts") {
    val root = Files.createTempDirectory("graft_stream_dedup_").toString
    val in = s"$root/in"; val out = s"$root/out"; val ckpt = s"$root/ckpt"

    // batch 1: rows [0, 50) plus an in-batch duplicate of row 0's payload
    val b1 = spark.range(0, 50, 1, 2).map(CorpusGen.row(_)).toDF()
    val dupOfZero = spark.range(0, 1).map { _ =>
      CorpusGen.row(0).copy(url = "https://dup.example/copy-of-0",
        warc_ts = new java.sql.Timestamp(CorpusGen.tsOf(0).getTime + 1))
    }.toDF()
    b1.union(dupOfZero).write.mode("append").parquet(in)
    graft.streaming.StatefulDedup.start(spark, in, out, ckpt).awaitTermination()

    val r1 = spark.read.parquet(out)
    assert(r1.count() == 50) // 51 rows, one duplicate digest absorbed
    val zeroRow = r1.filter(col("url") === CorpusGen.urlOf(0))
    assert(zeroRow.count() == 1, "earliest warc_ts wins as the canonical")
    assert(zeroRow.select("batchDups").as[Long].head() == 1L)

    // batch 2 after restart: a re-crawl of rows [0, 10) (same payloads,
    // new urls) + genuinely new rows [50, 60) — state from the
    // checkpoint suppresses the re-crawled duplicates
    val recrawl = spark.range(0, 10, 1, 1).map { i =>
      CorpusGen.row(i).copy(url = s"https://recrawl.example/$i",
        warc_ts = new java.sql.Timestamp(CorpusGen.tsOf(i).getTime + 99999))
    }.toDF()
    val fresh = spark.range(50, 60, 1, 1).map(CorpusGen.row(_)).toDF()
    recrawl.union(fresh).write.mode("append").parquet(in)
    graft.streaming.StatefulDedup.start(spark, in, out, ckpt).awaitTermination()

    val r2 = spark.read.parquet(out)
    assert(r2.count() == 60, "10 new digests emitted, 10 re-crawls absorbed")
    assert(r2.filter(col("url").startsWith("https://recrawl.example/")).count() == 0)
    assert(r2.select("digest").distinct().count() == 60)
  }

  test("bounded-state dedup: digest state expires past the event-time TTL") {
    import graft.streaming.StatefulDedup
    import graft.streaming.StatefulDedup.DocIn
    val root = Files.createTempDirectory("graft_stream_ttl_").toString
    implicit val sqlCtx = spark.sqlContext
    def t(s: String) = java.sql.Timestamp.valueOf(s)

    val mem = MemoryStream[DocIn]
    val q = StatefulDedup.firstSeenBounded(mem.toDS(),
        watermarkDelay = "0 seconds", ttlMs = 3600 * 1000L)
      .writeStream.format("memory").queryName("ttl_dedup_test")
      .outputMode("append")
      .option("checkpointLocation", s"$root/ckpt")
      .start()
    def emitted(): Seq[(String, String)] =
      spark.table("ttl_dedup_test").select("digest", "url")
        .as[(String, String)].collect().toSeq.sorted

    // b1: first sightings of A and B
    mem.addData(DocIn("A", "u/a1", t("2026-01-01 00:00:00")),
      DocIn("B", "u/b1", t("2026-01-01 00:00:00")))
    q.processAllAvailable()
    assert(emitted() == Seq(("A", "u/a1"), ("B", "u/b1")))

    // b2 (watermark still T0): dup of A within TTL — suppressed
    mem.addData(DocIn("A", "u/a2", t("2026-01-01 00:30:00")),
      DocIn("C", "u/c1", t("2026-01-01 00:30:00")))
    q.processAllAvailable()
    assert(emitted() == Seq(("A", "u/a1"), ("B", "u/b1"), ("C", "u/c1")))

    // b3 pushes the watermark to T0+3h; b4 lets the timeout fire for A
    // (lastSeen T0+30m + 1h TTL < watermark)
    mem.addData(DocIn("D", "u/d1", t("2026-01-01 03:00:00")))
    q.processAllAvailable()
    // E sits past the T0+3h watermark (a row AT the watermark is
    // filtered as late by the stateful operator's pre-filter)
    mem.addData(DocIn("E", "u/e1", t("2026-01-01 03:10:00")))
    q.processAllAvailable()

    // b5: dup of A AFTER state expiry — re-emitted as a new first-seen
    mem.addData(DocIn("A", "u/a3", t("2026-01-01 03:30:00")))
    q.processAllAvailable()
    q.stop()
    assert(emitted() == Seq(("A", "u/a1"), ("A", "u/a3"), ("B", "u/b1"),
      ("C", "u/c1"), ("D", "u/d1"), ("E", "u/e1")))
  }

  test("per-batch lineage row tallies ok, fail and empty like the checkpoint") {
    val root = Files.createTempDirectory("graft_stream_lineage_").toString
    val in = s"$root/in"; val out = s"$root/out"
    CorpusGen.generate(spark, 100, partitions = 1).toDF()
      .write.mode("append").parquet(in)
    StreamingExtract.start(spark, in, out, s"$root/ckpt").awaitTermination()
    val byStatus = spark.read.parquet(s"$out/data")
      .groupBy("status").count().as[(String, Long)].collect().toMap
    def n(statuses: String*): Long = statuses.map(byStatus.getOrElse(_, 0L)).sum
    val lineage = spark.read.json(s"$out/_metrics")
      .select("docCount", "okCount", "failCount", "emptyCount")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(lineage == Seq((100L, n("ok"), n("error", "oversize", "unsupported"), n("empty"))))
    assert(n("empty") > 0)
  }

  test("a micro-batch runs 2 Spark jobs: the emptiness probe and the data write, no lineage job") {
    val root = Files.createTempDirectory("graft_stream_jobs_").toString
    val in = s"$root/in"; val out = s"$root/out"
    CorpusGen.generate(spark, 100, partitions = 1).toDF()
      .write.mode("append").parquet(in)
    val sc = spark.sparkContext
    val jobsByQuery = new java.util.concurrent.ConcurrentHashMap[String, Int]
    val fenceSeen = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = Option(e.properties) match {
        case Some(p) if p.getProperty("spark.jobGroup.id") == "stream-fence" => fenceSeen.countDown()
        case Some(p) if p.getProperty("sql.streaming.queryId") != null =>
          jobsByQuery.merge(p.getProperty("sql.streaming.queryId"), 1, Integer.sum)
        case _ =>
      }
    }
    sc.addSparkListener(listener)
    val q = try {
      val q = StreamingExtract.start(spark, in, out, s"$root/ckpt")
      q.awaitTermination()
      // the bus delivers events in order: once the fence job's start is
      // seen, every job of the stream has been counted
      sc.setJobGroup("stream-fence", "fence")
      spark.range(1).collect()
      assert(fenceSeen.await(1, java.util.concurrent.TimeUnit.MINUTES))
      q
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    val batches = q.recentProgress.count(_.numInputRows > 0)
    assert(batches == 1)
    val jobs = jobsByQuery.getOrDefault(q.id.toString, 0)
    assert(jobs == 2, s"a micro-batch ran $jobs jobs")
  }

  test("watermarked daily roll-up over the results stream") {
    val root = Files.createTempDirectory("graft_stream_wm_").toString
    implicit val sqlCtx = spark.sqlContext

    val mem = MemoryStream[(String, java.sql.Timestamp, Long, String)]
    val day0 = java.sql.Timestamp.valueOf("2026-01-01 10:00:00")
    val day1 = java.sql.Timestamp.valueOf("2026-01-02 03:00:00")
    mem.addData(
      ("u1", day0, 100L, "ok"), ("u2", day0, 50L, "ok"),
      ("u3", day1, 10L, "error"), ("u4", day1, 30L, "ok"))

    val df = mem.toDF().toDF("url", "warcTs", "sizeBytes", "status")
    val agg = StreamingExtract.dailyStats(df)
    val q = agg.writeStream
      .format("memory").queryName("daily_stats_test")
      .outputMode("complete")
      .option("checkpointLocation", s"$root/ckpt")
      .start()
    q.processAllAvailable()
    q.stop()

    val rows = spark.table("daily_stats_test")
      .orderBy("day", "status")
      .select(date_format(col("day"), "yyyy-MM-dd").as("d"), col("status"),
        col("n_docs"), col("total_bytes"))
      .as[(String, String, Long, Long)].collect().toSeq
    assert(rows == Seq(
      ("2026-01-01", "ok", 2L, 150L),
      ("2026-01-02", "error", 1L, 10L),
      ("2026-01-02", "ok", 1L, 30L)))
  }
}
