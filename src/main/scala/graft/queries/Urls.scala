package graft
package queries

import org.apache.spark.sql.functions._

import Fixtures._
import PlanProp._

/** URL-keyed operators: canonicalization, dedup, frontier rules, SURT
  * keys, trap detection, registrable domains, redirects, the seen-set
  * and snapshot deltas. */
object Urls {

  val all: Seq[Query] = Seq(

    // URL canonicalization — the url-level dedup key every CC-style
    // curation pipeline computes first (CCNet/RefinedWeb dedupe by
    // normalized URL before any content hashing). Pure column exprs
    // (codegen, runnable in the scan projection); messy URLs are
    // synthesized deterministically from doc_id IDENTICALLY on both
    // sides so the DuckDB twin checks the normalization itself.
    Query("url_canonical", (s, dir) => {
      val raw = concat(
        when(col("doc_id") % 2 === 0, "HTTPS").otherwise("http"),
        lit("://WWW.Example"), (col("doc_id") % 7).cast("string"), lit(".COM"),
        when(col("doc_id") % 2 === 0, ":443").otherwise(":80"),
        lit("/Path/"), col("doc_id").cast("string"),
        when(col("doc_id") % 3 === 0, lit("?b=2&a=1&c=3")).otherwise(lit("")),
        when(col("doc_id") % 4 === 0, lit("#Frag")).otherwise(lit("")))
      t(s, dir, "documents")
        .select(col("doc_id"), raw.as("url_raw"))
        .withColumn("url", ops.UrlNorm.canonicalizeUrl(col("url_raw")))
        .orderBy(col("doc_id"))
    },
      // independent re-implementation of UrlNorm.canonicalizeUrl in
      // DuckDB SQL over the identically-synthesized raw URLs
      oracle = Some("""WITH raw AS (
        |  SELECT doc_id,
        |    (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS' ELSE 'http' END)
        |    || '://WWW.Example' || CAST(doc_id % 7 AS VARCHAR) || '.COM'
        |    || (CASE WHEN doc_id % 2 = 0 THEN ':443' ELSE ':80' END)
        |    || '/Path/' || CAST(doc_id AS VARCHAR)
        |    || (CASE WHEN doc_id % 3 = 0 THEN '?b=2&a=1&c=3' ELSE '' END)
        |    || (CASE WHEN doc_id % 4 = 0 THEN '#Frag' ELSE '' END) AS url_raw
        |  FROM documents),
        |p1 AS (
        |  SELECT doc_id, url_raw, split_part(url_raw, '#', 1) AS nofrag FROM raw),
        |p2 AS (
        |  SELECT doc_id, url_raw,
        |    split_part(nofrag, '?', 1) AS preq,
        |    CASE WHEN contains(nofrag, '?') THEN split_part(nofrag, '?', 2)
        |         ELSE '' END AS query
        |  FROM p1),
        |p3 AS (
        |  SELECT doc_id, url_raw, query,
        |    lower(split_part(preq, '://', 1)) AS scheme,
        |    split_part(split_part(preq, '://', 2), '/', 1) AS hostport,
        |    substr(split_part(preq, '://', 2),
        |      length(split_part(split_part(preq, '://', 2), '/', 1)) + 1) AS path
        |  FROM p2),
        |p4 AS (
        |  SELECT doc_id, url_raw, query, scheme, path,
        |    CASE WHEN scheme = 'https' THEN regexp_replace(lower(hostport), ':443$', '')
        |         WHEN scheme = 'http'  THEN regexp_replace(lower(hostport), ':80$', '')
        |         ELSE lower(hostport) END AS host
        |  FROM p3),
        |p5 AS (
        |  SELECT doc_id, url_raw, scheme, host, path,
        |    array_to_string(list_sort(string_split(query, '&')), '&') AS sortedq
        |  FROM p4)
        |SELECT doc_id, url_raw,
        |  scheme || '://' || host || path ||
        |  (CASE WHEN sortedq = '' THEN '' ELSE '?' || sortedq END) AS url
        |FROM p5 ORDER BY doc_id""".stripMargin),
      plan = Seq(scans(1), noUdf, codegen)),

    // URL-level dedup — canonicalization as the dedup KEY: raw forms
    // that differ only in host case / explicit default port / fragment /
    // query-param order collapse to one canonical url; keep the smallest
    // doc_id as canonical. Path is doc_id % 50 so ~10 raw variants share
    // each canonical key. One hash aggregate on the (short) canonical
    // string — the url-grain first pass before any content hashing.
    Query("url_dedup", (s, dir) => {
      val raw = concat(lit("https://"),
        when(col("doc_id") % 2 === 0, "WWW.Example").otherwise("www.example"),
        (col("doc_id") % 7).cast("string"), lit(".COM"),
        when(col("doc_id") % 2 === 0, ":443").otherwise(""),
        lit("/path/"), (col("doc_id") % 50).cast("string"),
        when(col("doc_id") % 3 === 0, lit("?b=2&a=1"))
          .when(col("doc_id") % 3 === 1, lit("?a=1&b=2"))
          .otherwise(lit("?a=1&b=2")),
        when(col("doc_id") % 4 === 0, lit("#Frag")).otherwise(lit("")))
      t(s, dir, "documents")
        .select(col("doc_id"), ops.UrlNorm.canonicalizeUrl(raw).as("url"))
        .groupBy(col("url"))
        .agg(min(col("doc_id")).as("canonical_doc_id"),
          count(lit(1)).as("n_variants"))
        .orderBy(col("url"))
    },
      // url-grain dedup over the canonical key; the collision-rich raw
      // construction (host case / default port / fragment / param order
      // vary, path is doc_id % 50) mirrors the Spark side exactly
      oracle = Some("""WITH raw AS (
        |  SELECT doc_id,
        |    'https://'
        |    || (CASE WHEN doc_id % 2 = 0 THEN 'WWW.Example' ELSE 'www.example' END)
        |    || CAST(doc_id % 7 AS VARCHAR) || '.COM'
        |    || (CASE WHEN doc_id % 2 = 0 THEN ':443' ELSE '' END)
        |    || '/path/' || CAST(doc_id % 50 AS VARCHAR)
        |    || (CASE WHEN doc_id % 3 = 0 THEN '?b=2&a=1' ELSE '?a=1&b=2' END)
        |    || (CASE WHEN doc_id % 4 = 0 THEN '#Frag' ELSE '' END) AS u
        |  FROM documents),
        |p1 AS (SELECT doc_id, split_part(u, '#', 1) AS nofrag FROM raw),
        |p2 AS (
        |  SELECT doc_id, split_part(nofrag, '?', 1) AS preq,
        |    CASE WHEN contains(nofrag, '?') THEN split_part(nofrag, '?', 2)
        |         ELSE '' END AS query
        |  FROM p1),
        |p3 AS (
        |  SELECT doc_id, query,
        |    lower(split_part(preq, '://', 1)) AS scheme,
        |    split_part(split_part(preq, '://', 2), '/', 1) AS hostport,
        |    substr(split_part(preq, '://', 2),
        |      length(split_part(split_part(preq, '://', 2), '/', 1)) + 1) AS path
        |  FROM p2),
        |p4 AS (
        |  SELECT doc_id, query, scheme, path,
        |    CASE WHEN scheme = 'https' THEN regexp_replace(lower(hostport), ':443$', '')
        |         WHEN scheme = 'http'  THEN regexp_replace(lower(hostport), ':80$', '')
        |         ELSE lower(hostport) END AS host
        |  FROM p3),
        |canon AS (
        |  SELECT doc_id,
        |    scheme || '://' || host || path ||
        |    (CASE WHEN array_to_string(list_sort(string_split(query, '&')), '&') = ''
        |          THEN ''
        |          ELSE '?' || array_to_string(list_sort(string_split(query, '&')), '&')
        |     END) AS url
        |  FROM p4)
        |SELECT url, MIN(doc_id) AS canonical_doc_id, COUNT(*) AS n_variants
        |FROM canon GROUP BY url ORDER BY url""".stripMargin)),

    // crawl-frontier URL rules — scheme/length/depth/params/trap
    // checks as pure column exprs, first-failing-rule reasons;
    // synthesized urls exercise every rule. Output: per-reason tally
    // with doc_id checksum (certifies WHICH docs each rule caught).
    Query("url_rules", (s, dir) => {
      val url = when(col("doc_id") % 13 === 0,
          lit("ftp://www.example.com/x"))
        .otherwise(concat(
          when(col("doc_id") % 2 === 0, lit("https")).otherwise(lit("http")),
          lit("://www.example"), (col("doc_id") % 7).cast("string"),
          lit(".com"),
          expr("repeat('/p', cast(doc_id % 12 as int))"),
          when(col("doc_id") % 17 === 0,
            concat(lit("/"), expr("repeat('z', 2100)"))).otherwise(lit("")),
          when(col("doc_id") % 5 === 0, lit("?sessionid=abc123"))
            .otherwise(lit("")),
          when(col("doc_id") % 11 === 0,
            lit("?a=1&b=2&c=3&d=4&e=5&f=6&g=7&h=8&i=9"))
            .otherwise(lit(""))))
      ops.UrlFilter.withUrlRules(
          t(s, dir, "documents").select(col("doc_id"), url.as("url")),
          "url")
        .groupBy(coalesce(col("url_drop_reason"), lit("kept"))
          .as("reason"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("doc_id")).cast("long").as("doc_checksum"))
        .orderBy(col("reason"))
    },
      // url-rules twin: same synthesis, same CASE precedence
      oracle = Some("""WITH u AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 13 = 0 THEN 'ftp://www.example.com/x'
        |    ELSE
        |      (CASE WHEN doc_id % 2 = 0 THEN 'https' ELSE 'http' END)
        |      || '://www.example' || CAST(doc_id % 7 AS VARCHAR) || '.com'
        |      || repeat('/p', CAST(doc_id % 12 AS INT))
        |      || (CASE WHEN doc_id % 17 = 0 THEN '/' || repeat('z', 2100)
        |          ELSE '' END)
        |      || (CASE WHEN doc_id % 5 = 0 THEN '?sessionid=abc123'
        |          ELSE '' END)
        |      || (CASE WHEN doc_id % 11 = 0
        |          THEN '?a=1&b=2&c=3&d=4&e=5&f=6&g=7&h=8&i=9'
        |          ELSE '' END)
        |    END AS url
        |  FROM documents),
        |r AS (
        |  SELECT doc_id,
        |    CASE
        |      WHEN NOT (url LIKE 'http://%' OR url LIKE 'https://%')
        |        THEN 'scheme'
        |      WHEN length(url) > 2048 THEN 'too_long'
        |      WHEN length(regexp_extract_all(url, '/')) - 2 > 8
        |        THEN 'too_deep'
        |      WHEN length(regexp_extract_all(url, '[?&][^?&=]+=')) > 8
        |        THEN 'too_many_params'
        |      WHEN regexp_matches(url, '/tag/')
        |        OR regexp_matches(url, 'sessionid=')
        |        OR regexp_matches(url, '/calendar/[0-9]{4}')
        |        OR regexp_matches(url, 'replytocom=')
        |        THEN 'trap_pattern'
        |      ELSE 'kept' END AS reason
        |  FROM u)
        |SELECT reason, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(doc_id) AS BIGINT) AS doc_checksum
        |FROM r GROUP BY reason ORDER BY reason""".stripMargin),
      plan = Seq(scans(1), noUdf)),

    // SURT archive-index keys — six synthesized URL branches walk
    // every rule: case folding, www strip, default-port strip,
    // non-default port kept, query sort, fragment drop, bare-host
    // root path, empty-query ?, percent-encoding left undecoded.
    // Pure codegen expressions; the oracle states the key per branch.
    Query("surt_keys", (s, dir) => {
      val id = col("doc_id")
      val d = (id % 4).cast("string")
      val url = (when(id % 6 === 0, concat(
          lit("HTTPS://WWW.Example"), d, lit(".COM:443/Path/Page?b=2&a="),
          id.cast("string"), lit("#frag")))
        .when(id % 6 === 1, concat(lit("http://sub.blog.example"), d,
          lit(".org/post/"), id.cast("string")))
        .when(id % 6 === 2, concat(lit("http://example"), d,
          lit(".net:8080/?z=1&y=2")))
        .when(id % 6 === 3, concat(lit("http://www.example"), d,
          lit(".com/a%2Fb?x=%4A")))
        .when(id % 6 === 4, concat(lit("https://Example"), d,
          lit(".com")))
        .otherwise(concat(lit("http://example"), d, lit(".com/x?"))))
      t(s, dir, "documents").select(id, url.as("url"))
        .withColumn("surt", ops.UrlNorm.surtKey(col("url")))
        .orderBy(id)
    },
      // surt twin: url + key stated per branch — no URL logic
      // oracle-side
      oracle = Some("""SELECT doc_id,
        |  CASE doc_id % 6
        |    WHEN 0 THEN 'HTTPS://WWW.Example' || (doc_id % 4) ||
        |      '.COM:443/Path/Page?b=2&a=' || doc_id || '#frag'
        |    WHEN 1 THEN 'http://sub.blog.example' || (doc_id % 4) ||
        |      '.org/post/' || doc_id
        |    WHEN 2 THEN 'http://example' || (doc_id % 4) ||
        |      '.net:8080/?z=1&y=2'
        |    WHEN 3 THEN 'http://www.example' || (doc_id % 4) ||
        |      '.com/a%2Fb?x=%4A'
        |    WHEN 4 THEN 'https://Example' || (doc_id % 4) || '.com'
        |    ELSE 'http://example' || (doc_id % 4) || '.com/x?'
        |  END AS url,
        |  CASE doc_id % 6
        |    WHEN 0 THEN 'com,example' || (doc_id % 4) ||
        |      ')/path/page?a=' || doc_id || '&b=2'
        |    WHEN 1 THEN 'org,example' || (doc_id % 4) ||
        |      ',blog,sub)/post/' || doc_id
        |    WHEN 2 THEN 'net,example' || (doc_id % 4) ||
        |      ':8080)/?y=2&z=1'
        |    WHEN 3 THEN 'com,example' || (doc_id % 4) || ')/a%2fb?x=%4a'
        |    WHEN 4 THEN 'com,example' || (doc_id % 4) || ')/'
        |    ELSE 'com,example' || (doc_id % 4) || ')/x'
        |  END AS surt
        |FROM documents ORDER BY doc_id""".stripMargin),
      plan = Seq(scans(1), noUdf, lacks("SerializeFromObject"))),

    // crawl-trap detection — six path/query branches hit each rule
    // plus the ok case; the oracle REIMPLEMENTS every rule in DuckDB
    // (nested list lambdas + RE2) rather than stating answers.
    Query("crawl_traps", (s, dir) => {
      val id = col("doc_id")
      val path = when(id % 6 === 0, lit("/a/b/a/c/a"))
        .when(id % 6 === 1, lit("/1/2/3/4/5/6/7/8/9/10/11/12/13"))
        .when(id % 6 === 2, lit("/p"))
        .when(id % 6 === 3, lit("/p"))
        .when(id % 6 === 4, lit("/archive/1901/01/"))
        .otherwise(lit("/a/b/c"))
      val query = when(id % 6 === 0, lit("x=1"))
        .when(id % 6 === 2,
          lit("a=1&b=2&c=3&d=4&e=5&f=6&g=7&h=8&i=9"))
        .when(id % 6 === 3,
          lit("sid=0123456789abcdef0123456789abcdef&x=2"))
        .when(id % 6 === 5, concat(lit("x=1&y="), id.cast("string")))
        .otherwise(lit(""))
      ops.TrapDetect.withTrapReason(
          t(s, dir, "documents").select(id, path.as("path"),
            query.as("query")),
          "path", "query")
        .select(col("doc_id"), col("path"), col("query"),
          col("trap_reason"))
        .orderBy(col("doc_id"))
    },
      // trap twin: every rule reimplemented (nested list lambdas + RE2)
      oracle = Some("""WITH f AS (
        |  SELECT doc_id,
        |    CASE doc_id % 6
        |      WHEN 0 THEN '/a/b/a/c/a'
        |      WHEN 1 THEN '/1/2/3/4/5/6/7/8/9/10/11/12/13'
        |      WHEN 2 THEN '/p' WHEN 3 THEN '/p'
        |      WHEN 4 THEN '/archive/1901/01/'
        |      ELSE '/a/b/c' END AS path,
        |    CASE doc_id % 6
        |      WHEN 0 THEN 'x=1'
        |      WHEN 2 THEN 'a=1&b=2&c=3&d=4&e=5&f=6&g=7&h=8&i=9'
        |      WHEN 3 THEN 'sid=0123456789abcdef0123456789abcdef&x=2'
        |      WHEN 5 THEN 'x=1&y=' || doc_id
        |      ELSE '' END AS query
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, path, query,
        |    list_filter(string_split(path, '/'), x -> x != '') AS segs,
        |    list_filter(string_split(query, '&'), x -> x != '')
        |      AS params,
        |    regexp_extract(path, '/((?:19|20)[0-9]{2})(?:/|$)', 1) AS y
        |  FROM f)
        |SELECT doc_id, path, query,
        |  CASE
        |    WHEN len(list_filter(list_distinct(segs),
        |      d -> len(list_filter(segs, x -> x = d)) >= 3)) > 0
        |      THEN 'repeat_segment'
        |    WHEN len(segs) > 12 THEN 'depth'
        |    WHEN len(params) > 8 THEN 'query_blowup'
        |    WHEN len(list_filter(params,
        |      p -> regexp_matches(p, '=[0-9a-f]{32}'))) > 0
        |      THEN 'session_id'
        |    WHEN y != '' AND (CAST(y AS INT) < 1995
        |      OR CAST(y AS INT) > 2030) THEN 'calendar'
        |    ELSE 'ok' END AS trap_reason
        |FROM g ORDER BY doc_id""".stripMargin),
      plan = Seq(scans(1), noUdf, lacks("SerializeFromObject"))),

    // eTLD+1 registrable domains — suffix-list branches; the oracle
    // reimplements the label logic with string_split.
    Query("registrable_domains", (s, dir) => {
      val id = col("doc_id")
      val d = (id % 3).cast("string")
      val host = when(id % 6 === 0, concat(lit("a.example"), d,
          lit(".co.uk")))
        .when(id % 6 === 1, lit("www.example.com"))
        .when(id % 6 === 2, lit("x.y.z.example.com.au"))
        .when(id % 6 === 3, lit("localhost"))
        .when(id % 6 === 4, lit("example.org"))
        .otherwise(concat(lit("deep.sub.example"), d, lit(".net")))
      t(s, dir, "documents").select(id, host.as("host"))
        .withColumn("registrable",
          ops.Etld.registrableDomain(col("host")))
        .orderBy(id)
    },
      // etld twin: label logic reimplemented with string_split
      oracle = Some("""WITH f AS (
        |  SELECT doc_id,
        |    CASE doc_id % 6
        |      WHEN 0 THEN 'a.example' || (doc_id % 3) || '.co.uk'
        |      WHEN 1 THEN 'www.example.com'
        |      WHEN 2 THEN 'x.y.z.example.com.au'
        |      WHEN 3 THEN 'localhost'
        |      WHEN 4 THEN 'example.org'
        |      ELSE 'deep.sub.example' || (doc_id % 3) || '.net'
        |    END AS host
        |  FROM documents),
        |g AS (SELECT doc_id, host, string_split(host, '.') AS l,
        |        len(string_split(host, '.')) AS n
        |      FROM f)
        |SELECT doc_id, host,
        |  CASE WHEN n <= 1 THEN host
        |    WHEN n = 2 THEN l[n - 1] || '.' || l[n]
        |    WHEN (l[n - 1] || '.' || l[n]) IN ('co.uk', 'org.uk',
        |      'ac.uk', 'gov.uk', 'com.au', 'net.au', 'co.jp', 'ne.jp',
        |      'com.br', 'co.in', 'co.nz', 'com.cn')
        |      THEN l[n - 2] || '.' || l[n - 1] || '.' || l[n]
        |    ELSE l[n - 1] || '.' || l[n] END AS registrable
        |FROM g ORDER BY doc_id""".stripMargin),
      plan = Seq(scans(1), noUdf, lacks("SerializeFromObject"))),

    // redirect-chain resolution by pointer doubling — a 4-hop chain,
    // a 3-cycle, a self-loop, and no-edge hosts; the oracle resolves
    // the same edges with a recursive CTE walk and the same terminal
    // rule (unresolved -> NULLs).
    Query("redirect_chains", (s, dir) => {
      val k = col("k")
      val kdf = t(s, dir, "documents")
        .select((col("doc_id") % 12).as("k")).distinct()
      val src = when(k <= 3, concat(lit("r"), k.cast("string")))
        .when(k.between(5, 7), concat(lit("c"), (k - 5).cast("string")))
        .when(k === 8, lit("s0"))
      val dst = when(k < 3, concat(lit("r"), (k + 1).cast("string")))
        .when(k === 3, lit("end.example"))
        .when(k.between(5, 7),
          concat(lit("c"), ((k - 4) % 3).cast("string")))
        .when(k === 8, lit("s0"))
      ops.Redirects.resolve(
          kdf.select(src.as("src"), dst.as("dst"))
            .where(col("src").isNotNull))
        .orderBy(col("src"))
    },
      // redirect twin: the same one-edge-per-source reduction, a
      // recursive CTE walk bounded by the edge count (no chain is longer;
      // only cycles reach the bound) and the same terminal rule
      oracle = Some("""WITH RECURSIVE kk AS (
        |  SELECT DISTINCT doc_id % 12 AS k FROM documents),
        |e0 AS (
        |  SELECT 'r' || k AS src,
        |    CASE WHEN k < 3 THEN 'r' || (k + 1)
        |      ELSE 'end.example' END AS dst
        |  FROM kk WHERE k <= 3
        |  UNION ALL
        |  SELECT 'c' || (k - 5), 'c' || ((k - 4) % 3)
        |  FROM kk WHERE k BETWEEN 5 AND 7
        |  UNION ALL SELECT 's0', 's0' FROM kk WHERE k = 8),
        |e AS (SELECT src, min(dst) AS dst FROM e0 GROUP BY src),
        |walk AS (
        |  SELECT src, dst, 1 AS hops FROM e
        |  UNION ALL
        |  SELECT w.src, e.dst, w.hops + 1
        |  FROM walk w JOIN e ON w.dst = e.src
        |  WHERE w.hops < (SELECT count(*) FROM e)),
        |term AS (
        |  SELECT w.src, w.dst, w.hops FROM walk w
        |  WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.src = w.dst))
        |SELECT s.src, term.dst AS final_dst,
        |  CAST(term.hops AS BIGINT) AS hops,
        |  term.src IS NOT NULL AS resolved
        |FROM (SELECT DISTINCT src FROM e) s
        |LEFT JOIN term ON s.src = term.src
        |ORDER BY s.src""".stripMargin),
      plan = Seq(noCartesian, noUdf)),

    // Bloom-filter crawl seen-set — build over the seen keys (docs
    // with doc_id%3 != 2), probe every doc plus a disjoint unseen
    // band (+1e6). The (truly_seen, maybe_seen) contingency table is
    // the contract: the (true,false) cell must be ABSENT (no false
    // negatives by construction) and the FP band is whatever the
    // identical modular double-hash yields — the oracle recomputes
    // every bit.
    Query("bloom_seen", (s, dir) => {
      val docs = t(s, dir, "documents")
      val seen = docs.filter(col("doc_id") % 3 =!= 2)
        .select(col("doc_id").as("key"))
      val bitmap = ops.Bloom.build(seen, "key", mBits = 2048, k = 3)
      val candidates = docs.select(col("doc_id").as("key"))
        .union(docs.select((col("doc_id") + lit(1000000L)).as("key")))
      ops.Bloom.probe(candidates, bitmap, "key", mBits = 2048, k = 3)
        .withColumn("truly_seen",
          col("key") % 3 =!= 2 && col("key") < 1000000L)
        .groupBy(col("truly_seen"), col("maybe_seen"))
        .agg(count(lit(1)).as("n_keys"),
          sum(col("key")).cast("long").as("key_checksum"))
        .orderBy(col("truly_seen"), col("maybe_seen"))
    },
      // bloom twin: the identical Kirsch–Mitzenmacher modular double
      // hash recomputed bit for bit in SQL — integer-exact
      oracle = Some("""WITH seen AS (
        |  SELECT doc_id AS key FROM documents WHERE doc_id % 3 <> 2),
        |ii AS (SELECT unnest([0, 1, 2]) AS i),
        |bits AS (
        |  SELECT DISTINCT
        |    ((key * 2654435761) % 2048
        |      + i * (1 + (key * 40503) % 2047)) % 2048 AS pos
        |  FROM seen CROSS JOIN ii),
        |cand AS (
        |  SELECT doc_id AS key FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000 FROM documents),
        |cpos AS (
        |  SELECT key,
        |    ((key * 2654435761) % 2048
        |      + i * (1 + (key * 40503) % 2047)) % 2048 AS pos
        |  FROM cand CROSS JOIN ii),
        |probe AS (
        |  SELECT key, bool_and(b.pos IS NOT NULL) AS maybe_seen
        |  FROM cpos LEFT JOIN bits b ON cpos.pos = b.pos
        |  GROUP BY key)
        |SELECT (key % 3 <> 2 AND key < 1000000) AS truly_seen,
        |  maybe_seen, CAST(COUNT(*) AS BIGINT) AS n_keys,
        |  CAST(SUM(key) AS BIGINT) AS key_checksum
        |FROM probe GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
      plan = Seq(has("BroadcastHashJoin"), noUdf, lacks("SerializeFromObject"))),

    // incremental snapshot delta — diff a new crawl against the previous
    // snapshot by digest so only added/changed rows reprocess. Snapshots
    // are synthesized deterministically from documents on BOTH sides:
    // old = docs except doc_id%10==0 (those become "added"), with text
    // revised for doc_id%7==3 ("changed"); new = docs except doc_id%10==5
    // ("removed"). Per-row status oracle.
    Query("snapshot_delta", (s, dir) => {
      val base = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val old = base.where(col("doc_id") % 10 =!= 0)
        .withColumn("text",
          when(col("doc_id") % 7 === 3, concat(col("text"), lit(" v1")))
            .otherwise(col("text")))
      val neu = base.where(col("doc_id") % 10 =!= 5)
      ops.Snapshot.delta(
          old.select(col("doc_id"), sha2(col("text"), 256).as("digest")),
          neu.select(col("doc_id"), sha2(col("text"), 256).as("digest")),
          "doc_id", "digest")
        .select(col("doc_id"), col("status"))
        .orderBy(col("doc_id"))
    },
      // independent snapshot-delta twin: DuckDB diffs the same synthesized
      // snapshots on the RAW text (same equivalence classes as the Spark
      // side's sha-256 digest)
      oracle = Some("""WITH old AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 3 THEN text || ' v1' ELSE text END AS t
        |  FROM documents WHERE doc_id % 10 != 0),
        |neu AS (
        |  SELECT doc_id, text AS t FROM documents WHERE doc_id % 10 != 5)
        |SELECT COALESCE(old.doc_id, neu.doc_id) AS doc_id,
        |  CASE WHEN old.doc_id IS NULL THEN 'added'
        |       WHEN neu.doc_id IS NULL THEN 'removed'
        |       WHEN old.t = neu.t THEN 'unchanged'
        |       ELSE 'changed' END AS status
        |FROM old FULL OUTER JOIN neu ON old.doc_id = neu.doc_id
        |ORDER BY doc_id""".stripMargin),
      plan = Seq(neverShuffles("text"), neverShuffles("t"), noUdf,
        PlanProp("at most 1 shuffled join",
          v => v.count("SortMergeJoin") + v.count("ShuffledHashJoin") <= 1))))
}
