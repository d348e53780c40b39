package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Inputs the queries share: the testdata table reader and synthesized
  * HTML pages whose expected extraction the DuckDB twins restate from
  * `doc_id` alone. */
object Fixtures {

  def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Synthesized HTML page for the anchor oracles — exercises
    * uppercase tags, single/double quotes, an entity in a href, nested
    * inline markup, a relative link, and a dangling (never-closed)
    * anchor, all derived from doc_id so the DuckDB twin can state the
    * expected extraction without parsing. */
  def anchorTestPage: Column = {
    val id = col("doc_id")
    concat(
      lit("<html><body><A HREF=\"https://www.Example"),
      (id % 7).cast("string"),
      lit(".com/a?x=1&amp;y=2\">Link "), id.cast("string"),
      lit(" here</a><p>filler <b>text</b></p><a href='http://site"),
      (id % 5).cast("string"),
      lit(".org/p'>second <i>link</i></a>"),
      when(id % 3 === 0, lit("<a href=\"/relative/path\">rel</a>"))
        .otherwise(lit("")),
      when(id % 4 === 0,
        lit("<a href=\"https://dangling.net/x\">never closed"))
        .otherwise(lit("")),
      lit("</body></html>"))
  }

  /** Synthesized head-metadata page: entity-bearing title (plus a
    * duplicate-title trap), branchy description/robots/canonical/
    * charset/og:title, a non-hreflang alternate trap, and id%3
    * language alternates — all derived from doc_id so the DuckDB twin
    * states the expected fields without parsing. */
  def metaTestPage: Column = {
    val id = col("doc_id")
    concat(
      lit("<html><head><TITLE>Page &amp; "), id.cast("string"),
      lit("</title>"),
      when(id % 5 === 0, lit("<title>dup ignored</title>"))
        .otherwise(lit("")),
      lit("<base href=\"http://w"), (id % 7).cast("string"),
      lit(".example/dir/\">"),
      when(id % 3 =!= 0,
        concat(lit("<meta name=Description content=\"Desc "),
          id.cast("string"), lit("\">")))
        .otherwise(lit("")),
      when(id % 4 === 0, lit("<meta name=robots content=\"noindex, follow\">"))
        .when(id % 4 === 1, lit("<meta name=ROBOTS content=NONE>"))
        .when(id % 4 === 2, lit("<meta name=robots content=all>"))
        .otherwise(lit("")),
      when(id % 2 === 0,
        concat(lit("<link rel=canonical href=\"http://c"),
          (id % 7).cast("string"), lit(".example/p"), id.cast("string"),
          lit("\">")))
        .otherwise(lit("<meta charset=UTF-8>")),
      when(id % 3 === 1,
        concat(lit("<meta property=\"og:title\" content=\"Og "),
          id.cast("string"), lit("\">")))
        .otherwise(lit("")),
      lit("<link rel=\"alternate stylesheet\" href=\"/s.css\">"),
      when(id % 3 >= 1, lit("<link rel=alternate hreflang=fr href=\"/fr\">"))
        .otherwise(lit("")),
      when(id % 3 === 2, lit("<link rel=ALTERNATE hreflang=de href=\"/de\">"))
        .otherwise(lit("")),
      lit("</head><body>content</body></html>"))
  }
}
