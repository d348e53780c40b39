package graft.html

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** JSON-LD structured-data extraction — the schema.org metadata block
  * (`<script type="application/ld+json">`) news sites and shops embed;
  * the standard source for article headline / publication date /
  * author in web-corpus pipelines (complementary to `html.Meta`'s
  * plain meta tags and `html.PubDate`'s cascade).
  *
  * Split of labor is deliberately Spark-first:
  *   - the TYPED MAP does only what Catalyst can't — tokenizer-driven
  *     extraction of the raw script payloads (script is a raw-text
  *     element, so the payload arrives as one text node; the type
  *     attribute matches case-insensitively after trimming);
  *   - JSON-path evaluation stays in CODEGEN `get_json_object`
  *     expressions on the extracted blob column — no JSON parser of
  *     ours on the hot path, and malformed JSON degrades to NULL
  *     fields (never throws), with the raw blob length kept for audit.
  *
  * Scale shape: one typed flatMap per document (0..n blocks out),
  * map-only; the JSON-path projection rides the same stage.
  */
object JsonLd {

  /** Raw payloads of ld+json script blocks, in document order. */
  def blocks(html: String): Vector[String] = {
    val out = Vector.newBuilder[String]
    var inLd = false
    val sb = new StringBuilder
    HtmlTokenizer.tokenize(Option(html).getOrElse("")).foreach {
      case HtmlTokenizer.StartTag("script", attrs, selfClosing) =>
        val t = attrs.collectFirst { case ("type", v) => v }.getOrElse("")
        if (!selfClosing &&
          t.trim.equalsIgnoreCase("application/ld+json")) {
          inLd = true; sb.setLength(0)
        }
      case HtmlTokenizer.EndTag("script") =>
        if (inLd) { out += sb.toString.trim; inLd = false }
      case HtmlTokenizer.Text(t) if inLd => sb.append(t)
      case _ => ()
    }
    out.result()
  }

  /** One row per ld+json block: (idCol, block_idx, blob) — one typed
    * flatMap, map-only; documents without a block emit no row. */
  def blockRows(df: DataFrame, idCol: String, htmlCol: String): DataFrame =
    pageRows(df, idCol, htmlCol) { (id, h) =>
      blocks(h).zipWithIndex.map { case (b, i) => (id, i.toLong, b) }
    }.toDF(idCol, "block_idx", "blob")

  /** Blocks + the article fields as codegen JSON-path projections:
    * `@type`, headline, datePublished, author.name — NULL when the
    * path is absent or the JSON is malformed; blob_len for audit. */
  def articleRows(df: DataFrame, idCol: String, htmlCol: String): DataFrame =
    blockRows(df, idCol, htmlCol).select(
      col(idCol), col("block_idx"),
      get_json_object(col("blob"), "$['@type']").as("ld_type"),
      get_json_object(col("blob"), "$.headline").as("headline"),
      get_json_object(col("blob"), "$.datePublished").as("date_published"),
      get_json_object(col("blob"), "$.author.name").as("author_name"),
      length(col("blob")).cast("long").as("blob_len"))
}
