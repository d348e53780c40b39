package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One driver query: how to build it over a testdata directory, its
  * DuckDB twin where the semantics are ANSI-SQL-expressible, and the
  * physical-plan properties it must keep.
  *
  * Oracle determinism rules: every query has a total ORDER BY; money
  * aggregates go through DECIMAL casts (exact, no float summation-order
  * drift); ratios are rounded then cast to double identically on both
  * sides; aliases match exactly. */
final case class Query(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: Option[String] = None,
    plan: Seq[PlanProp] = Nil)

/** The registry: every driver query, one operator family per object. */
object Queries {
  val all: Seq[Query] =
    Relational.all ++ Documents.all ++ NearDup.all ++ Extraction.all ++
      Html.all ++ Urls.all ++ Frontier.all ++ Curation.all ++ TextStats.all
}
