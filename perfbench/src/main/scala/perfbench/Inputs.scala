package perfbench

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.SparkSession

import graft.corpus.CorpusGen

/** The benchmark's inputs, all made from the workload seed with
  * `graft.corpus.CorpusGen`. The engine sees only the parquet files the
  * generator writes; the expectations below are known by construction and
  * never come from the engine under test. */
object Inputs {

  /** Rows per input file: two whole 100-row blocks of the CorpusGen mix,
    * so every file (and every prefix of files) carries the same payload mix. */
  val RowsPerFile = 200

  /** Row-index offset for a seed. A multiple of 100 keeps the payload mix
    * unchanged while every page differs; seeds below 10^6 get disjoint row
    * ranges for corpora up to 100k rows. */
  def offset(seed: Long): Long = 100000L * java.lang.Math.floorMod(seed, 1000000L)

  def indexOfUrl(url: String): Long = url.substring(url.lastIndexOf('/') + 1).toLong

  /** Payloads of at least this many bytes form the "mega" page-size class
    * (CorpusGen's 1-in-100 mega page is ~218 KB; every other row is < 20 KB). */
  val MegaBytes = 64 * 1024

  /** The statuses each CorpusGen row class may extract to. Truncated PDF
    * and HTML rows (89, 96) carry no contract beyond a machine-readable
    * status (FIXTURES.md); every other class has exactly one. */
  def allowedStatuses(i: Long): Set[String] = (i % 100).toInt match {
    case 89 | 96 => Set("ok", "error", "empty", "unsupported")
    case 90 | 91 => Set("empty")              // empty / whitespace-only payload
    case 92 | 93 | 94 => Set("unsupported")   // png / jpg / gif
    case _ => Set("ok")
  }

  /** md5 hex of the expected text, when the row has a text contract. */
  def expectedMd5(i: Long): Option[String] = CorpusGen.expectedText(i).map(md5Hex)

  def md5Hex(s: String): String = {
    val d = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes(StandardCharsets.UTF_8))
    d.map(b => f"${b & 0xff}%02x").mkString
  }

  /** Writes `files` CorpusGen input files for `seed` to `out`. */
  def write(spark: SparkSession, seed: Long, files: Int, out: String): Unit = {
    import spark.implicits._
    val from = offset(seed)
    spark.range(from, from + files.toLong * RowsPerFile, 1, files)
      .map(CorpusGen.row(_)).toDF()
      .write.mode("overwrite").parquet(out)
  }
}
