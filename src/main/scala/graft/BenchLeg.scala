package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** One confined measurement leg of the scaling bench: created as a child
  * JVM by graft.Bench under `taskset -c 0..N-1`, so GC, JIT and Spark
  * internals are all confined to the same N cores — the faithful
  * sandbox stand-in for an N-core cluster. (In a single shared JVM the
  * small leg's GC/JIT ride free on the idle cores, inflating its
  * throughput and understating the scaling ratio.)
  *
  * args: <cores> <corpusPath> — runs `WarmPasses` unmeasured passes
  * (JIT plateau) then ONE timed pass, the same for every leg (best-of-k
  * would expose the legs to unequal amounts of VM weather and bias the
  * ratio); prints the single line `LEG {"sec":S,"docs":N}` on stdout. */
object BenchLeg {
  private val WarmPasses = 2

  def main(args: Array[String]): Unit = {
    val cores = args(0).toInt
    val corpusPath = args(1)
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.files.maxPartitionBytes", (4 * 1024 * 1024).toString)
      .config("spark.sql.files.openCostInBytes", (4 * 1024 * 1024).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def pass(): (Double, Long) = {
      val t0 = System.nanoTime()
      val n = graft.extract.Pipeline.contractView(
          graft.extract.Pipeline.run(spark.read.parquet(corpusPath), analysis = false))
        .filter(col("status") =!= "error").count()
      ((System.nanoTime() - t0) / 1e9, n)
    }
    (0 until WarmPasses).foreach(_ => pass())
    val (sec, n) = pass()
    println(s"""LEG {"sec":$sec,"docs":$n}""")
    spark.stop()
  }
}
