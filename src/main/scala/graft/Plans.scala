package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.queries.{LibraryPlans, PlanView, Queries}

/** Writes PLANS.md: every plan property in the registry (driver queries
  * and `LibraryPlans`), checked against one run on sf0.001 and a
  * 200-doc corpus, as a table of query, property and pass/fail. The plan
  * of an entry is printed only when one of its properties fails.
  * PlanQualitySpec asserts the same properties. Run whenever plans are
  * touched: `sbt -batch "runMain graft.Plans"`. */
object Plans {

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sf = "/root/testdata/sf0.001"
    val corpusPath = Files.createTempDirectory("graft_plans_").toString + "/corpus"
    corpus.CorpusGen.generate(spark, 200, 4).toDF()
      .write.mode("overwrite").parquet(corpusPath)

    val results = (Queries.all ++ LibraryPlans.all(corpusPath)).filter(_.plan.nonEmpty).map { q =>
      val view = PlanView.of(q.build(spark, sf))
      (q.name, view, q.plan.map(p => p.what -> p.holds(view)))
    }
    val md = new StringBuilder(
      """# PLANS — plan properties (generated by `graft.Plans`)
        |
        |Each row is one property a registry entry declares, checked on
        |sf0.001 and a 200-doc corpus. Scan counts and pushdown read the plan
        |before execution; every other property reads the AQE final plan.
        |PlanQualitySpec asserts the same properties. Regenerate with
        |`sbt -batch "runMain graft.Plans"`.
        |
        || query | must hold | status |
        ||---|---|---|
        |""".stripMargin)
    for ((name, _, checks) <- results; (what, ok) <- checks)
      md.append(s"| `$name` | $what | ${if (ok) "pass" else "FAIL"} |\n")
    for ((name, view, checks) <- results if checks.exists(!_._2))
      md.append(s"\n## `$name` (failing)\n\n```\n${view.text.trim}\n```\n")
    Files.writeString(Paths.get("PLANS.md"), md.toString)
    val failed = results.map(_._3.count(!_._2)).sum
    println(s"wrote PLANS.md (${results.map(_._3.size).sum} properties, $failed failing)")
    spark.stop()
  }
}
