package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Crawl-frontier URL rules — the pre-fetch filter every crawl
  * pipeline runs before spending bandwidth: scheme allowlist, length
  * and path-depth caps, query-parameter caps, and crawler-trap
  * patterns (session ids, calendar pages, tag indexes — the classic
  * infinite-URL-space generators). Emits a keep flag plus the FIRST
  * failing rule as a drop reason, so frontier stats explain what the
  * filter is discarding.
  *
  * Scale shape: every rule is a pure column expression (startswith /
  * length / regexp_count / rlike — all codegen, map-only, rides the
  * scan); the rule set is fixed at plan time, nothing joins.
  *
  * Engine parity: patterns stay in the RE2-compatible subset and the
  * rule precedence is a single CASE chain, so a DuckDB twin reproduces
  * reason strings exactly.
  */
object UrlFilter {

  /** Crawler-trap patterns (RE2-safe). */
  val TrapPatterns: Seq[String] = Seq(
    "/tag/", "sessionid=", "/calendar/[0-9]{4}", "replytocom=")

  private val MaxLen = 2048
  private val MaxDepth = 8
  private val MaxParams = 8

  /** Path depth proxy: '/' count minus the scheme's two. */
  def pathDepth(url: Column): Column =
    regexp_count(url, lit("/")) - lit(2)

  /** Query parameters: `key=` occurrences introduced by ? or &. */
  def queryParams(url: Column): Column =
    regexp_count(url, lit("[?&][^?&=]+="))

  /** Adds `url_drop_reason` (null = kept) and `url_keep`. Reasons in
    * precedence order: scheme, too_long (over 2,048 chars), too_deep
    * (over 8 levels), too_many_params (over 8), trap_pattern. */
  def withUrlRules(df: DataFrame, urlCol: String): DataFrame = {
    val u = col(urlCol)
    val trap = TrapPatterns.map(u.rlike).reduce(_ || _)
    val reason =
      when(!(u.startsWith("http://") || u.startsWith("https://")),
        lit("scheme"))
      .when(length(u) > MaxLen, lit("too_long"))
      .when(pathDepth(u) > MaxDepth, lit("too_deep"))
      .when(queryParams(u) > MaxParams, lit("too_many_params"))
      .when(trap, lit("trap_pattern"))
      .otherwise(lit(null).cast("string"))
    df.withColumn("url_drop_reason", reason)
      .withColumn("url_keep", col("url_drop_reason").isNull)
  }
}
