package graft.ops

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.UUID

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders, Observation, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

import graft.extract.Pipeline

/** Resumable snapshot-checkpointed extraction (north rule; SURVEY.md §7.1.7,
  * §4.2): the offline stand-in for an Iceberg table commit. The output is
  * partitioned Parquet keyed by `bucket = pmod(hash(url), nBuckets)` plus a
  * manifest directory holding ONE JSON file per completed bucket, written
  * atomically (temp file + ATOMIC_MOVE). A re-run lists the manifest,
  * skips completed buckets at the scan (predicate pushdown on the bucket
  * filter), recomputes only the missing ones, and overwrites exactly those
  * partitions (`partitionOverwriteMode=dynamic` — idempotent under task or
  * driver failure, matching Iceberg's replace-partition commit semantics).
  *
  * Layout: one data file per bucket per commit. Extraction runs in the
  * map stage at full input parallelism; the finished rows are then
  * clustered by bucket (REBALANCE), so each bucket reaches the writer in
  * one task — AQE coalesces small buckets into one task and splits a
  * skewed one into several files; without AQE the hint is a hash
  * repartition by bucket. Writing per input split instead would leave
  * one small file per split in every bucket it touches (splits × buckets
  * files a run), paid again by every later read. The cost is one shuffle
  * of the output rows (a few KB per doc), not of the input payloads.
  *
  * Per-partition lineage (bucket, doc/ok/fail/empty counts, input bytes,
  * run id, duration) is counted while the data is written — an
  * `Observation` on the written rows keeps one tally per bucket in the
  * write tasks, so no job reads the table back. After the data write the
  * driver, as an Iceberg commit writes its metadata, appends it to a
  * metrics table at `outDir/_metrics`, one JSON-lines file per run, then
  * writes the manifest files, with no Spark job. `_metrics` is the analog
  * of the reference's events/stats tables (`job_queue/local_queue.py:165-186,222-229`).
  *
  * On a real cluster the manifest directory is the piece a true Iceberg
  * catalog replaces (snapshot commit + manifest pruning); everything else
  * — bucketed layout, dynamic overwrite, lineage append — carries over
  * unchanged (Iceberg's hash write distribution gives the same one file
  * per bucket). Bucket count scales independently of executor count: at
  * 10^12 docs pick nBuckets so one bucket ≈ a few GB (e.g. 2^17 buckets),
  * keeping recompute-on-resume granular and partition files pruned.
  */
object Checkpoint {

  final case class BucketLineage(
      runId: String, bucket: Int, docCount: Long, okCount: Long,
      failCount: Long, emptyCount: Long, inputBytes: Long, durationMs: Long)

  final case class ResumeReport(
      runId: String, nBuckets: Int, skippedBuckets: Int,
      processedBuckets: Int, lineage: Seq[BucketLineage])

  /** The lineage classification of one extraction result, stated once:
    * per row, one doc, one if ok, one if failed (error, oversize or
    * unsupported), one if empty, and its input bytes. */
  private val lineageTerms: Seq[(String, Column)] = Seq(
    "docCount" -> lit(1L),
    "okCount" -> when(col("status") === "ok", 1L).otherwise(0L),
    "failCount" -> when(col("status").isin("error", "oversize", "unsupported"), 1L)
      .otherwise(0L),
    "emptyCount" -> when(col("status") === "empty", 1L).otherwise(0L),
    "inputBytes" -> col("sizeBytes"))

  /** The lineage tallies over extraction results, as aggregate columns
    * named as in `BucketLineage`. */
  private[graft] val lineageCounts: Seq[Column] =
    lineageTerms.map { case (name, term) => sum(term).as(name) }

  /** The lineage terms summed per bucket, in one map-valued aggregate:
    * bucket → (docCount, okCount, failCount, emptyCount, inputBytes). An
    * `Observation` can only hold global aggregates, so the grouping is
    * the aggregate's own buffer, a map from bucket to its five sums. */
  private object BucketTally extends Aggregator[(Int, Long, Long, Long, Long, Long),
      mutable.HashMap[Int, Array[Long]], Map[Int, Array[Long]]] {
    def zero: mutable.HashMap[Int, Array[Long]] = mutable.HashMap.empty
    def reduce(acc: mutable.HashMap[Int, Array[Long]],
        r: (Int, Long, Long, Long, Long, Long)): mutable.HashMap[Int, Array[Long]] = {
      val t = acc.getOrElseUpdate(r._1, new Array[Long](5))
      t(0) += r._2; t(1) += r._3; t(2) += r._4; t(3) += r._5; t(4) += r._6
      acc
    }
    def merge(a: mutable.HashMap[Int, Array[Long]],
        b: mutable.HashMap[Int, Array[Long]]): mutable.HashMap[Int, Array[Long]] = {
      b.foreach { case (bucket, sums) =>
        val t = a.getOrElseUpdate(bucket, new Array[Long](5))
        var i = 0
        while (i < 5) { t(i) += sums(i); i += 1 }
      }
      a
    }
    def finish(acc: mutable.HashMap[Int, Array[Long]]): Map[Int, Array[Long]] = acc.toMap
    def bufferEncoder: Encoder[mutable.HashMap[Int, Array[Long]]] =
      Encoders.kryo[mutable.HashMap[Int, Array[Long]]]
    def outputEncoder: Encoder[Map[Int, Array[Long]]] = ExpressionEncoder[Map[Int, Array[Long]]]()
  }

  private val bucketTally = udaf(BucketTally)

  private def manifestDir(outDir: String): Path = Paths.get(outDir, "_manifest")
  private def dataDir(outDir: String): String = s"$outDir/data"
  private def metricsDir(outDir: String): Path = Paths.get(outDir, "_metrics")

  private val lineageSchema = Encoders.product[BucketLineage].schema
  private def lineageRow(l: BucketLineage): Row =
    new GenericRowWithSchema(l.productIterator.toArray, lineageSchema)
  private val ManifestFile = """bucket-(\d+)\.json""".r
  private val RunFile = """run-.*\.json""".r

  /** The names of the files in `d`; none when `d` does not exist. */
  private def fileNames(d: Path): Seq[String] =
    if (!Files.isDirectory(d)) Nil
    else {
      val it = Files.list(d)
      try it.iterator().asScala.map(_.getFileName.toString).toList
      finally it.close()
    }

  /** Commits `rows` as the JSON-lines file `dir/name` from the driver,
    * the way an Iceberg commit writes its metadata: to a dot-prefixed temp
    * name (which no reader lists), then moved with ATOMIC_MOVE. A crash
    * between data write and manifest write re-runs the bucket (dynamic
    * overwrite makes that idempotent); a bucket is only ever skipped if its
    * manifest file exists, i.e. its data write completed. */
  private def commitJson(dir: Path, name: String, rows: Seq[Row]): Unit = {
    Files.createDirectories(dir)
    val tmp = dir.resolve(s".$name.tmp")
    Files.write(tmp, rows.map(_.json + "\n").mkString.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, dir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
  }

  /** Appends `rows` (each carrying its schema) to `outDir/_metrics` as one
    * run file: the one writer of every `_metrics` table in the engine. */
  private[graft] def appendMetrics(outDir: String, rows: Seq[Row]): Unit =
    commitJson(metricsDir(outDir), s"run-${UUID.randomUUID()}.json", rows)

  /** Buckets already committed in a previous (possibly partial) run. */
  def completedBuckets(outDir: String): Set[Int] =
    fileNames(manifestDir(outDir)).collect { case ManifestFile(b) => b.toInt }.toSet

  /** The frame `runResumable` writes: the rows of `input` whose bucket is
    * not in `done`, extracted, with their `bucket`, and clustered by bucket
    * so the partitioned write commits one file per bucket. */
  private[graft] def toWrite(input: DataFrame, done: Set[Int], nBuckets: Int): DataFrame = {
    val bucketCol = pmod(hash(col("url")), lit(nBuckets))
    val todo = input
      .withColumn("bucket", bucketCol)
      .filter(if (done.isEmpty) lit(true) else !col("bucket").isin(done.toSeq: _*))
    Pipeline.run(todo)
      .withColumn("bucket", bucketCol)
      .hint("rebalance", col("bucket"))
  }

  /** Run extraction over `input` (input_hint schema), resuming past any
    * previously committed buckets. Returns what was skipped vs processed
    * plus the per-bucket lineage appended to the metrics table. An input
    * with nothing left to do writes no data file and processes 0 buckets.
    *
    * The lineage is counted in the write: an `Observation` on the written
    * frame, after the rebalance, tallies each bucket's rows in the write
    * tasks as they pass, so it counts exactly the rows this run commits
    * and the table is never read back. */
  def runResumable(input: DataFrame, outDir: String, nBuckets: Int,
      runId: String): ResumeReport = {
    val spark = input.sparkSession
    val t0 = System.nanoTime()

    val done = completedBuckets(outDir)
    val tally = Observation()
    val results = toWrite(input, done, nBuckets)
      .observe(tally, bucketTally(col("bucket") +: lineageTerms.map(_._2): _*).as("t"))

    // Replace exactly the recomputed partitions; completed ones untouched.
    val overwriteKey = "spark.sql.sources.partitionOverwriteMode"
    val prevMode = spark.conf.getOption(overwriteKey)
    spark.conf.set(overwriteKey, "dynamic")
    try {
      results.write.mode("overwrite").partitionBy("bucket").parquet(dataDir(outDir))
    } finally {
      // restore OR unset — leaving dynamic set would silently change the
      // semantics of later whole-table overwrites in this session
      prevMode match {
        case Some(v) => spark.conf.set(overwriteKey, v)
        case None => spark.conf.unset(overwriteKey)
      }
    }

    // the write has finished, so the observation is (or is about to be)
    // delivered: get waits for the listener bus, not for another job
    val durationMs = (System.nanoTime() - t0) / 1000000L
    val lineage = tally.get("t").asInstanceOf[collection.Map[Int, collection.Seq[Long]]]
      .toSeq.sortBy(_._1)
      .map { case (bucket, t) =>
        BucketLineage(runId, bucket, t(0), t(1), t(2), t(3), t(4), durationMs)
      }

    // Lineage first, manifests last: a bucket is done once data + metrics are durable.
    if (lineage.nonEmpty) {
      appendMetrics(outDir, lineage.map(lineageRow))
      lineage.foreach(l =>
        commitJson(manifestDir(outDir), f"bucket-${l.bucket}%05d.json", Seq(lineageRow(l))))
    }

    ResumeReport(runId, nBuckets, done.size, lineage.size, lineage)
  }

  /** The per-partition lineage/metrics table (append-only across runs):
    * its committed run files, read with the schema they are written with,
    * so no pass infers one. An output with no run file (a run over empty
    * input commits none) has an empty table, not a missing path. */
  def metrics(spark: SparkSession, outDir: String): DataFrame = {
    val d = metricsDir(outDir)
    if (fileNames(d).exists(RunFile.matches)) spark.read.schema(lineageSchema).json(s"$d/*.json")
    else spark.createDataFrame(java.util.List.of[Row](), lineageSchema)
  }

  /** The committed output table. */
  def output(spark: SparkSession, outDir: String): DataFrame =
    spark.read.parquet(dataDir(outDir))

  /** Drop a bucket's commit so the next run recomputes it (used by tests
    * and by operational backfills — the Iceberg-rollback analog). */
  def invalidateBucket(outDir: String, bucket: Int): Unit = {
    Files.deleteIfExists(manifestDir(outDir).resolve(f"bucket-$bucket%05d.json"))
  }
}
