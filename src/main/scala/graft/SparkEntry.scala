package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries.Queries

/** Driver contract (SURVEY.md §7.0): one `queries` entry per implemented
  * operator family, with DuckDB-equivalent `oracleSql` where the
  * semantics are ANSI-SQL-expressible. Non-SQL operators (extraction,
  * MinHash/SimHash, ANN, quality UDFs) are rows-only checks. Both maps
  * are views over the registry, `graft.queries.Queries.all`. */
object SparkEntry {

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Queries.all.map(q => q.name -> q.build).toMap

  def oracleSql: Map[String, String] =
    Queries.all.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
