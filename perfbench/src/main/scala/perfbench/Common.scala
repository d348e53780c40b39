package perfbench

import org.apache.spark.sql.SparkSession

/** `--key value` command-line options. */
final class Opts(args: Array[String]) {
  private val m: Map[String, String] = args.toSeq.grouped(2).map {
    case Seq(k, v) if k.startsWith("--") => k.drop(2) -> v
    case other => sys.error(s"bad option pair: ${other.mkString(" ")}")
  }.toMap
  def apply(k: String): String = m.getOrElse(k, sys.error(s"missing --$k"))
  def int(k: String): Int = apply(k).toInt
  def long(k: String): Long = apply(k).toLong
  def double(k: String): Double = apply(k).toDouble
  def flag(k: String): Boolean = m.get(k).contains("1")
}

/** Just enough JSON to print one flat result object per leg. */
object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    (sb += '"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) sys.error(s"non-finite value $d") else d.toString
  def obj(fields: Seq[(String, Any)]): String = fields.map { case (k, v) =>
    val js = v match {
      case s: String => str(s)
      case i: Int => i.toString
      case l: Long => l.toString
      case d: Double => num(d)
      case ds: Seq[_] => ds.map { case d: Double => num(d); case x => x.toString }
        .mkString("[", ",", "]")
      case other => sys.error(s"unsupported JSON value $other")
    }
    s"${str(k)}:$js"
  }.mkString("{", ",", "}")
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }
  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9
  /** Wall-clock epoch nanoseconds, comparable with the launcher's clock. */
  def epochNs(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000000L + i.getNano
  }
}

object Session {
  /** A local session sized to `cores`, one task per input file, with every
    * scratch byte kept under `workDir`. */
  def create(cores: Int, workDir: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.shuffle.partitions", (4 * cores).toString)
      // openCost = maxPartitionBytes: every input file is its own task, so
      // the task count is the file count at any core count
      .config("spark.sql.files.maxPartitionBytes", (128L << 20).toString)
      .config("spark.sql.files.openCostInBytes", (128L << 20).toString)
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Sets this process's peak-memory mark (VmHWM) back to its current
    * resident memory. Heap the JVM committed earlier and still holds stays
    * resident, so it still counts. */
  def resetPeakRss(): Unit =
    java.nio.file.Files.write(java.nio.file.Paths.get("/proc/self/clear_refs"), "5".getBytes)

  /** Peak resident memory of this process since the last reset (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024
    }.getOrElse(sys.error("no VmHWM in /proc/self/status"))
    finally src.close()
  }
}
