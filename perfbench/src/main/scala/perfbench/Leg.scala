package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.extract.Pipeline
import graft.ops.Checkpoint

/** The measured legs of one run: a child JVM, pinned by the launcher to
  * `--cores` cores, that writes the workload's input, warms up, measures
  * the N-core leg if asked (traced contract_mix), then runs the workload
  * at local[cores] and checks its output.
  * Prints a single `LEG {...}` line of raw figures. Options:
  *
  *   --workload contract_mix|resume_enhanced --seed N
  *   --cores N --input DIR --files F (input files to write and read)
  *   --work DIR (scratch) --seconds S (timed-pass budget)
  *   --warm-cores C --warm-seconds W (untimed passes first, for the JIT)
  *   --trace 0|1 --t0-ns T (launcher's epoch ns at spawn)
  *   --cpus LIST (the leg's cores) --small-cores N --small-cpus LIST
  *   --small-files F --small-seconds S: the N-core leg (N = 0: none)
  *
  * Every timed pass ends in the `noop` sink, which computes every output
  * column; `.count()` would let Catalyst prune the columns nobody reads.
  */
object Leg {

  /** resume_enhanced: output buckets, and how many of them each resumed
    * pass invalidates. */
  val NBuckets = 8
  val NInvalidated = 2

  /** The `NInvalidated` buckets whose payload bytes come closest to their
    * share of the total. Buckets are url hashes, so a fixed pick would
    * recompute anywhere from 5 to 15 of a run's 40 mega pages, and those
    * cost 60% of the work: the pick keeps that share the same for every
    * seed. */
  def pickInvalidated(bytesByBucket: Map[Int, Long]): Seq[Int] = {
    val target = bytesByBucket.values.sum.toDouble * NInvalidated / NBuckets
    (0 until NBuckets).combinations(NInvalidated).minBy { c =>
      (math.abs(c.map(bytesByBucket.getOrElse(_, 0L)).sum - target), c.mkString(","))
    }
  }

  def main(args: Array[String]): Unit = {
    val o = new Opts(args)
    val t0 = o.long("t0-ns")
    val cores = o.int("cores")
    val work = o("work")
    val workload = o("workload")
    val input = o("input")
    val files = o.int("files")
    val trace = o.flag("trace")
    val seconds = o.double("seconds")
    // Warm-up runs at local[warm-cores] (half the cores): the JIT compiles
    // this engine with ~1.5 cores for its first 30-40 s of passes, and with
    // cores left free it gets further in the warm-up, so the timed passes
    // meet a steadier JIT.
    def phase(name: String): Unit =
      System.err.println(f"perfbench phase $name at ${(Stats.epochNs() - t0) / 1e9}%.1f s")
    var spark = Session.create(cores, work)
    val sessionS = (Stats.epochNs() - t0) / 1e9
    try {
      Inputs.write(spark, o.long("seed"), files, input)
      val (_, resolveS) = resolve(spark, input, files)
      spark.stop()
      phase("input written")
      spark = Session.create(o.int("warm-cores"), work)
      val warmStart = System.nanoTime()
      val (warmDf, _) = resolve(spark, input, files)
      val state = new RunState
      val warmLeg = new Leg(spark, warmDf, o.int("warm-cores"), work, state)
      warmLeg.prepare(workload)
      warmLeg.warm(workload, o.double("warm-seconds") - Stats.secondsSince(warmStart))
      spark.stop()
      phase("warmed up")
      val small = o.int("small-cores")
      val smallFigures = if (small == 0) Nil else {
        // The N-core leg: same JVM, its JIT already warm, every thread
        // pinned to N cores and a new SparkContext at local[N]. A fresh JVM
        // pinned to one core spends its first ~40 s of passes compiling, so
        // it would measure the JIT rather than the engine. It runs before
        // the nproc leg, which then meets a JIT further along.
        pin(o("small-cpus"))
        spark = Session.create(small, work)
        val (df, _) = resolve(spark, input, o.int("small-files"))
        val m = new Leg(spark, df, small, work, new RunState).measure(workload, o.double("small-seconds"))
        spark.stop()
        pin(o("cpus"))
        phase("N-core leg measured")
        Seq("small_cores" -> small, "small_docs" -> m.docs, "small_pass_s" -> m.passS)
      }
      spark = Session.create(cores, work)
      val (df, _) = resolve(spark, input, files)
      val leg = new Leg(spark, df, cores, work, state)
      // a traced run gives these passes 0.3 of its seconds and the layer
      // passes most of the rest (the N-core leg had 0.25)
      val measured = leg.measure(workload, if (trace) seconds * 0.3 else seconds)
      val rss = Session.peakRssMb()
      phase("measured")
      val figures = measured.figures ++ (if (trace) leg.traced(workload, measured, seconds) else Nil) ++
        leg.check(workload)
      phase("checked")
      println("LEG " + Json.obj(Seq("cores" -> cores, "setup_s" -> (sessionS + resolveS),
        "peak_rss_mb" -> rss) ++ figures ++ smallFigures))
    } finally spark.stop()
  }

  /** The input relation and the seconds it took to resolve: file listing
    * and parquet footer. */
  private def resolve(spark: SparkSession, dir: String, files: Int): (DataFrame, Double) = {
    val t = System.nanoTime()
    val df = readInput(spark, dir, files)
    df.schema
    (df, Stats.secondsSince(t))
  }

  /** Pins every thread of this JVM but the JIT compiler's to `cpus`;
    * threads started later inherit the mask of the thread that starts
    * them. The compiler threads keep every core: the JIT is still compiling
    * the engine while the legs run (~70 CPU-seconds in the first minute),
    * and that start-up cost would otherwise land on the N cores whose
    * throughput this leg measures. */
  private def pin(cpus: String): Unit = {
    Files.list(Paths.get("/proc/self/task")).iterator().asScala.foreach { task =>
      val name = scala.util.Try(new String(Files.readAllBytes(task.resolve("comm"))).trim).getOrElse("")
      if (!name.startsWith("C1 CompilerThre") && !name.startsWith("C2 CompilerThre"))
        // a thread that exits meanwhile makes taskset fail; that is harmless
        new ProcessBuilder("taskset", "-p", "-c", cpus, task.getFileName.toString)
          .redirectOutput(ProcessBuilder.Redirect.DISCARD).redirectErrorStream(true).start().waitFor()
    }
    val status = scala.io.Source.fromFile("/proc/self/status")
    val allowed = try status.getLines().collectFirst {
      case l if l.startsWith("Cpus_allowed_list:") => cpuSet(l.split("\t").last)
    } finally status.close()
    require(allowed.contains(cpuSet(cpus)), s"taskset could not pin this JVM to cpus $cpus")
  }

  /** "0-2,5" as a set of cpu ids. */
  private def cpuSet(list: String): Set[Int] = list.trim.split(",").flatMap { r =>
    r.split("-") match {
      case Array(a, b) => a.toInt to b.toInt
      case Array(a) => Seq(a.toInt)
    }
  }.toSet

  /** The first `files` parquet part files of `dir`, in part order. */
  private def readInput(spark: SparkSession, dir: String, files: Int): DataFrame = {
    val parts = Files.list(Paths.get(dir)).iterator().asScala
      .map(_.toString).filter(p => p.endsWith(".parquet") && p.contains("part-"))
      .toVector.sorted
    require(parts.length >= files, s"$dir holds ${parts.length} input files, need $files")
    spark.read.parquet(parts.take(files): _*)
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val all = Files.walk(p).iterator().asScala.toVector.reverse
    all.foreach(Files.delete)
  }
}

/** The timed passes of a leg: docs and payload bytes each pass handled. */
final case class Measured(docs: Double, payloadBytes: Double, passS: Vector[Double],
    extra: Seq[(String, Any)] = Nil) {
  def figures: Seq[(String, Any)] =
    Seq("docs" -> docs, "payload_bytes" -> payloadBytes, "pass_s" -> passS) ++ extra
}

/** What a workload's passes leave for the legs after them, its trace and
  * its check. */
final class RunState {
  // resume_enhanced
  var checkpointDir = ""
  var invalidated = Seq.empty[Int]
  var invalidDocs = 0L
  var recomputed = Vector.empty[(Long, Long, Int)] // docs, bytes, buckets per resume
}

final class Leg(spark: SparkSession, df: DataFrame, cores: Int, work: String, state: RunState) {
  import spark.implicits._

  private val metrics = new SparkMetrics(spark)

  /** Runs `pass` at least `min` times and then while another pass of the
    * median length still fits the budget; returns each pass's seconds. */
  private def timed(budgetS: Double, min: Int)(pass: => Unit): Vector[Double] = {
    val start = System.nanoTime()
    var times = Vector.empty[Double]
    def more: Boolean =
      if (times.length < min) true
      else if (times.isEmpty) budgetS > 0
      else Stats.secondsSince(start) + Stats.median(times) <= budgetS
    while (more) {
      val t = System.nanoTime()
      pass
      times :+= Stats.secondsSince(t)
    }
    times
  }

  private def noop(out: DataFrame): Unit = out.write.format("noop").mode("overwrite").save()

  private def contractPass(analysis: Boolean): Unit =
    noop(Pipeline.contractView(Pipeline.run(df, analysis = analysis)))

  private def htmlBytes: Double =
    df.agg(sum(octet_length(col("html")))).head().getLong(0).toDouble

  /** resume_enhanced: invalidates the fixed buckets and resumes. */
  private def resume(): Unit = {
    state.invalidated.foreach(Checkpoint.invalidateBucket(state.checkpointDir, _))
    val r = Checkpoint.runResumable(df, state.checkpointDir, Leg.NBuckets, s"resume${state.recomputed.length}")
    state.recomputed :+= ((r.lineage.map(_.docCount).sum, r.lineage.map(_.inputBytes).sum,
      r.processedBuckets))
  }

  /** resume_enhanced: writes the full checkpoint its resumes invalidate
    * and picks the buckets they invalidate. */
  def prepare(workload: String): Unit = if (workload == "resume_enhanced") {
    state.checkpointDir = Paths.get(work, "checkpoint").toString
    Leg.deleteTree(Paths.get(state.checkpointDir))
    val full = Checkpoint.runResumable(df, state.checkpointDir, Leg.NBuckets, "full")
    state.invalidated = Leg.pickInvalidated(full.lineage.map(l => l.bucket -> l.inputBytes).toMap)
    state.invalidDocs = full.lineage.filter(l => state.invalidated.contains(l.bucket))
      .map(_.docCount).sum
  }

  /** Untimed passes for `seconds`, at least one. */
  def warm(workload: String, seconds: Double): Unit = workload match {
    case "contract_mix" => timed(seconds, 1)(contractPass(analysis = false))
    case "resume_enhanced" => timed(seconds, 1)(resume())
    case w => sys.error(s"unknown workload $w")
  }

  /** One untimed pass in this session, then timed passes for `budgetS`.
    * The peak-memory mark is reset in between, so `peak_rss_mb` leaves out
    * input generation and warm-up. */
  def measure(workload: String, budgetS: Double): Measured = {
    warm(workload, 0)
    Session.resetPeakRss()
    workload match {
      case "contract_mix" =>
        val passS = metrics.tagged("timed")(timed(budgetS, 3)(contractPass(analysis = false)))
        Measured(df.count().toDouble, htmlBytes, passS)
      case "resume_enhanced" =>
        state.recomputed = Vector.empty
        val passS = metrics.tagged("timed")(timed(budgetS, 3)(resume()))
        val r = state.recomputed
        Measured(Stats.median(r.map(_._1.toDouble)), Stats.median(r.map(_._2.toDouble)), passS,
          Seq("resume_s" -> Stats.median(passS)))
    }
  }

  // --------------------------------------------------------------- trace

  /** Per-layer figures: listener counters of the timed passes, then the
    * workload's traced passes, within about `seconds`. */
  def traced(workload: String, m: Measured, seconds: Double): Seq[(String, Any)] = {
    val counters = sparkFigures("timed", m)
    workload match {
      case "contract_mix" =>
        counters ++ layerFigures(analysis = false, seconds * 0.45)
      case "resume_enhanced" =>
        val readMs = (0 until 3).map { _ =>
          val t = System.nanoTime()
          Checkpoint.metrics(spark, state.checkpointDir).collect()
          Stats.secondsSince(t) * 1000
        }
        counters ++ Seq(
          "checkpoint.buckets_recomputed" -> Stats.median(state.recomputed.map(_._3.toDouble)),
          "checkpoint.recompute_ratio" -> m.docs / state.invalidDocs,
          "checkpoint.metrics_read_ms" -> Stats.median(readMs)) ++
          layerFigures(analysis = true, seconds * 0.6)
    }
  }

  /** Task-metric figures of the passes tagged `tag`. */
  private def sparkFigures(tag: String, m: Measured): Seq[(String, Any)] = {
    val t = metrics.read(tag)
    val passes = m.passS.length.toDouble
    val tasks = t.taskMs.sorted
    Seq(
      "spark.gc_share" -> (if (t.runMs > 0) t.gcMs / t.runMs else 0.0),
      "spark.core_busy_share" -> t.runMs / (m.passS.sum * 1000 * cores),
      "spark.task_ms_p50" -> (if (tasks.isEmpty) 0.0 else Stats.median(tasks.toSeq)),
      "spark.task_ms_max" -> (if (tasks.isEmpty) 0.0 else tasks.last),
      "spark.tasks_per_pass" -> t.tasks / passes,
      "spark.scan_ms_per_pass" -> t.scanMs / passes,
      "spark.output_bytes_per_doc" -> t.outputBytes / (m.docs * passes),
      "spark.spill_bytes" -> t.spillBytes / passes)
  }

  /** Seconds of passes of `a` and of `b`, run A-B-B-A (at least once
    * through) while another round fits `budgetS`. */
  private def alternate(budgetS: Double)(a: => Unit, b: => Unit): (Vector[Double], Vector[Double]) = {
    def time(pass: => Unit): Double = { val t = System.nanoTime(); pass; Stats.secondsSince(t) }
    var as, bs = Vector.empty[Double]
    val start = System.nanoTime()
    while (as.length < 2 ||
        Stats.secondsSince(start) + 2 * (Stats.median(as) + Stats.median(bs)) <= budgetS) {
      as :+= time(a); bs :+= time(b); bs :+= time(b); as :+= time(a)
    }
    (as, bs)
  }

  /** The layer passes ([[Layers.replayPass]]) against untraced passes of
    * the same extraction, A-B-B-A within `budgetS`: the per-layer figures
    * come from every layer pass, and the tracing overhead is measured on
    * those same passes. */
  private def layerFigures(analysis: Boolean, budgetS: Double): Seq[(String, Any)] = {
    val docs = df.count().toDouble
    Tracer.drain()
    val (plain, traced) = alternate(budgetS)(contractPass(analysis), Layers.replayPass(df, analysis))
    val traces = Tracer.drain()
    Layers.writeSpans(traces, Paths.get(work, "spans.tsv"))
    val untracedRate = docs / Stats.median(plain)
    val tracedRate = docs / Stats.median(traced)
    Layers.summarize(traces, traced.length).toSeq ++ Seq(
      "trace.untraced_docs_per_s" -> untracedRate, "trace.traced_docs_per_s" -> tracedRate,
      "trace.overhead_share" -> (1.0 - tracedRate / untracedRate))
  }

  // --------------------------------------------------------------- check

  /** (rows attempted, rows failed) of the workload's output check. */
  def check(workload: String): Seq[(String, Any)] = {
    val (attempted, failed) = workload match {
      case "contract_mix" =>
        checkContract(Pipeline.contractView(Pipeline.run(df, analysis = false)))
      case "resume_enhanced" =>
        checkContract(Checkpoint.output(spark, state.checkpointDir)
          .select(col("url"), col("status"), col("fullText").as("text")))
    }
    Seq("check_attempted" -> attempted, "check_failed" -> failed)
  }

  /** Compares each input url's (status, md5 of text) in `out` with its
    * row class; a url missing, repeated or unknown fails. */
  private def checkContract(out: DataFrame): (Long, Long) = {
    val urls = df.select(col("url")).as[String].collect()
    val got = out.select(col("url"), col("status"), md5(col("text").cast("binary")))
      .as[(String, String, String)].collect()
    val byUrl = got.groupBy(_._1)
    val expected = urls.toSet
    val extra = got.count(r => !expected.contains(r._1)).toLong
    val wrong = urls.toSeq.flatMap { u =>
      val i = Inputs.indexOfUrl(u)
      val problem = byUrl.get(u) match {
        case Some(Array((_, status, m))) =>
          if (!Inputs.allowedStatuses(i).contains(status)) Some(s"status $status")
          else if (!Inputs.expectedMd5(i).forall(_ == m)) Some("text differs")
          else None
        case Some(rows) => Some(s"written ${rows.length} times")
        case None => Some("missing")
      }
      problem.map(p => s"row class ${i % 100}: $p")
    }
    report(wrong ++ Seq.fill(extra.toInt)("unexpected url"))
    (urls.length.toLong, extra + wrong.length)
  }

  /** Failures go to stderr, counted by kind, so a finding names its rows. */
  private def report(failures: Seq[String]): Unit =
    failures.groupBy(identity).toSeq.sortBy(_._1).foreach { case (what, n) =>
      System.err.println(s"perfbench check failed: $what (${n.length} rows)")
    }
}
