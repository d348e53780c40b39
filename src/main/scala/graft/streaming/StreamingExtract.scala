package graft.streaming

import scala.concurrent.Await
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.extract.Pipeline
import graft.ops.Checkpoint

/** Structured-Streaming ingest — the Spark re-expression of the
  * reference's work-queue streaming design (SURVEY.md §2.8): the poll
  * loop (`api/pipeline.py:375-400`, `local_queue.py:585-601`) becomes a
  * file-source micro-batch stream (new parquet files = new jobs);
  * visibility-timeout/crash recovery (`local_queue.py:236-269`) becomes
  * the streaming checkpoint + task retries (exactly-once per batch);
  * the append-only events table (`local_queue.py:177-186`) becomes the
  * per-batch lineage append in `foreachBatch`.
  *
  * At cluster scale the same code runs continuously (ProcessingTime
  * trigger) over an Iceberg/file source landing zone; `AvailableNow`
  * drains the backlog and stops — used by tests and by catch-up runs.
  */
object StreamingExtract {

  /** Input schema per BASELINE.json input_hint (file sources need an
    * explicit schema — no inference at stream start). */
  val inputSchema: StructType = StructType(Seq(
    StructField("url", StringType),
    StructField("warc_ts", TimestampType),
    StructField("html", BinaryType),
    StructField("text", StringType),
    StructField("lang", StringType)))

  private val MaxFilesPerTrigger = 64

  /** Start the extraction stream: parquet files arriving under `inputDir`
    * → typed extraction → append to `outDir/data`, with each batch's
    * lineage row in its own JSON-lines file of `outDir/_metrics` (written
    * by `Checkpoint.appendMetrics`). Exactly-once per micro-batch via
    * the streaming checkpoint (re-delivered batches rewrite the same
    * batchId — dedup downstream on batch_id if the sink is reused).
    *
    * `MaxFilesPerTrigger` bounds micro-batch size so one pathological
    * landing burst cannot blow executor memory (the streaming analog of
    * the per-partition size budget, SURVEY.md §4.2). */
  def start(spark: SparkSession, inputDir: String, outDir: String,
      checkpointDir: String, availableNow: Boolean = true): StreamingQuery = {
    val stream = spark.readStream
      .schema(inputSchema)
      .option("maxFilesPerTrigger", MaxFilesPerTrigger)
      .parquet(inputDir)

    val writer = stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          // batchId rides on every data row so a batch replayed after a
          // crash-between-write-and-checkpoint-commit can be deduped
          // downstream (keep max batchId per url, or filter on the
          // committed batch ids from _metrics)
          val results = Pipeline.run(batch)
            .withColumn("batchId", lit(batchId))
          // lineage event row per micro-batch (events-table analog),
          // counted in the data write by an `Observation` and appended to
          // `_metrics` from the driver: no Spark job after the write
          val counts = Checkpoint.lineageCounts :+ max(col("batchId")).as("batchId")
          val lineage = Observation()
          results.observe(lineage, counts.head, counts.tail: _*)
            .write.mode("append").parquet(s"$outDir/data")
          Checkpoint.appendMetrics(outDir, Seq(Await.result(lineage.future, Duration.Inf)))
        }
        ()
      }

    (if (availableNow) writer.trigger(Trigger.AvailableNow()) else writer)
      .start()
  }

  private val memSinkSeq = new java.util.concurrent.atomic.AtomicLong()

  /** Run the per-(day, event_type) roll-up as a Structured-Streaming job
    * over a STATIC parquet directory, to completion: file source with a
    * small maxFilesPerTrigger (forcing multiple micro-batches, so the
    * stateful aggregation actually accumulates across batches),
    * event-time tumbling window, complete-mode memory sink, AvailableNow
    * drain. The checkable invariant is STREAM ≡ BATCH — the returned
    * DataFrame must equal the one-shot batch aggregate over the same
    * files, which the driver's DuckDB twin asserts (`streaming_daily_
    * oracle`). Distinct aggregates are unsupported in streaming, so the
    * roll-up carries count + sum (the batch `events_daily` query keeps
    * the distinct-user column). */
  def dailyEventStats(spark: SparkSession, path: String): DataFrame = {
    val batch = spark.read.parquet(path)
    // the file stream source drains a DIRECTORY of files; stage the input
    // as 16 files so maxFilesPerTrigger=4 yields four genuine micro-
    // batches and the windowed state provably accumulates across them
    val stagedPath = java.nio.file.Files
      .createTempDirectory("graft_stream_daily_in_")
    val staged = stagedPath.toString
    try {
      batch.repartition(16).write.mode("overwrite").parquet(staged)
      val stream = spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", 4)
        .parquet(staged)
      val agg = stream
        .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
      // memory sink name is session-unique (a repeated call in the same
      // session would otherwise collide); the name never reaches output
      val sink = s"graft_stream_daily_${memSinkSeq.incrementAndGet()}"
      val q = agg.writeStream.format("memory").queryName(sink)
        .outputMode("complete").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      val out = spark.table(sink)
        .select(date_format(col("w.start"), "yyyy-MM-dd").as("day"),
          col("event_type"), col("n_events"), col("total_value"))
      // materialize the (bounded: one row per day×event_type) result so
      // the memory-sink view and the staged copy can be released NOW —
      // repeated oracle/verify calls in one session previously leaked a
      // full input copy on disk and a complete-mode sink table in driver
      // memory per invocation
      val rows = out.collect().toSeq
      val local = spark.createDataFrame(rows.asJava, out.schema)
      spark.catalog.dropTempView(sink)
      local
    } finally deleteRecursively(stagedPath)
  }

  private def deleteRecursively(root: java.nio.file.Path): Unit = {
    import java.nio.file.Files
    if (Files.exists(root)) {
      val paths = Files.walk(root)
      try paths.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => Files.deleteIfExists(p): Unit)
      finally paths.close()
    }
  }

  /** Event-time windowed roll-up with a watermark — the streaming form of
    * the daily-stats aggregation (`local_queue.py:222-229`): one row per
    * (day window, status) with doc and byte counts, late data beyond the
    * one-hour watermark dropped. Demonstrates watermark + windowed agg
    * over the extraction results stream. */
  def dailyStats(results: DataFrame): DataFrame = {
    results
      .withWatermark("warcTs", "1 hour")
      .groupBy(window(col("warcTs"), "1 day").as("day"), col("status"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("sizeBytes")).as("total_bytes"))
      .select(col("day.start").as("day"), col("status"),
        col("n_docs"), col("total_bytes"))
  }
}
