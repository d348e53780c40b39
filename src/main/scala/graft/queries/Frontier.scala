package graft
package queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import Fixtures._
import PlanProp._

/** Host-keyed crawl operators: domain stats and caps, blocklists,
  * PageRank, robots, outliers, assignment, reciprocity, recrawl and
  * politeness schedules, fetch waves and shard offsets. */
object Frontier {

  val all: Seq[Query] = Seq(

    // per-domain curation stats — the domain-mix report every curation
    // pipeline runs (host = group key, doc count + byte mass per
    // domain); same deterministic raw-url construction as url_dedup
    Query("domain_stats", (s, dir) => {
      val raw = concat(lit("https://"),
        when(col("doc_id") % 2 === 0, "WWW.Example").otherwise("www.example"),
        (col("doc_id") % 7).cast("string"), lit(".COM"),
        when(col("doc_id") % 2 === 0, ":443").otherwise(""),
        lit("/path/"), (col("doc_id") % 50).cast("string"))
      t(s, dir, "documents")
        .select(col("doc_id"), ops.UrlNorm.hostOf(raw).as("host"),
          length(col("text")).cast("long").as("n_chars"))
        .groupBy(col("host"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"),
          min(col("doc_id")).as("first_doc"))
        .orderBy(col("host"))
    },
      // domain-mix roll-up over the independently-extracted host
      oracle = Some("""WITH raw AS (
        |  SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
        |    'https://'
        |    || (CASE WHEN doc_id % 2 = 0 THEN 'WWW.Example' ELSE 'www.example' END)
        |    || CAST(doc_id % 7 AS VARCHAR) || '.COM'
        |    || (CASE WHEN doc_id % 2 = 0 THEN ':443' ELSE '' END)
        |    || '/path/' || CAST(doc_id % 50 AS VARCHAR) AS u
        |  FROM documents),
        |h AS (
        |  SELECT doc_id, n_chars,
        |    lower(split_part(split_part(split_part(split_part(
        |      split_part(u, '#', 1), '?', 1), '://', 2), '/', 1), ':', 1)) AS host
        |  FROM raw)
        |SELECT host, COUNT(*) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
        |  MIN(doc_id) AS first_doc
        |FROM h GROUP BY host ORDER BY host""".stripMargin)),

    // per-host document cap (domain rate limiting): keep the 20 longest
    // docs per host (doc_id breaks ties totally); written as
    // row_number<=k so Catalyst plans a WindowGroupLimit — map tasks
    // pre-prune to local top-k per host before the shuffle
    Query("host_cap", (s, dir) => {
      val raw = concat(lit("https://www.example"),
        (col("doc_id") % 7).cast("string"), lit(".com/path/"),
        col("doc_id").cast("string"))
      ops.HostCap.capPerHost(
          t(s, dir, "documents")
            .select(col("doc_id"), ops.UrlNorm.hostOf(raw).as("host"),
              length(col("text")).cast("long").as("n_chars")),
          "host", 20,
          col("n_chars").desc, col("doc_id").asc)
        .select(col("doc_id"), col("host"), col("n_chars"),
          col("host_rank").cast("long").as("host_rank"))
        .orderBy(col("host"), col("host_rank"))
    },
      // per-host cap twin: same synthesized hosts, same total order
      oracle = Some("""WITH d AS (
        |  SELECT doc_id,
        |    'www.example' || CAST(doc_id % 7 AS VARCHAR) || '.com' AS host,
        |    CAST(length(text) AS BIGINT) AS n_chars
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, host, n_chars,
        |    row_number() OVER (PARTITION BY host
        |      ORDER BY n_chars DESC, doc_id) AS host_rank
        |  FROM d)
        |SELECT doc_id, host, n_chars, host_rank
        |FROM r WHERE host_rank <= 20
        |ORDER BY host, host_rank""".stripMargin),
      plan = Seq(has("WindowGroupLimit"), noUdf)),

    // domain blocklist derive + apply — per-host mean quality (doc
    // length) below the median of host means blocklists the host; the
    // anti-join drops its docs. Output: per-host survivor roll-up with
    // checksum (blocked hosts vanish), certifying both the derivation
    // and the application.
    Query("domain_blocklist", (s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"),
          concat(lit("www.example"), (col("doc_id") % 7).cast("string"),
            lit(".com")).as("host"),
          length(col("text")).cast("long").as("n_chars"))
      val stats = ops.DomainFilter.hostStats(docs, "host", "n_chars")
      val kept = ops.DomainFilter.applyBlocklist(
        docs, ops.DomainFilter.deriveBlocklist(stats), "host")
      kept.groupBy(col("host"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("doc_id")).cast("long").as("doc_checksum"))
        .orderBy(col("host"))
    },
      // domain blocklist twin: same host synthesis, same median-of-means
      // rule (7 hosts -> odd count, median is the exact middle mean; the
      // strict < keeps the median host)
      oracle = Some("""WITH d AS (
        |  SELECT doc_id,
        |    'www.example' || CAST(doc_id % 7 AS VARCHAR) || '.com' AS host,
        |    CAST(length(text) AS BIGINT) AS n_chars
        |  FROM documents),
        |stats AS (
        |  SELECT host, COUNT(*) AS n_docs,
        |    CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS mean_q
        |  FROM d GROUP BY host),
        |m AS (SELECT median(mean_q) AS med FROM stats),
        |blocked AS (
        |  SELECT host FROM stats CROSS JOIN m WHERE mean_q < med)
        |SELECT host, COUNT(*) AS n_docs,
        |  CAST(SUM(doc_id) AS BIGINT) AS doc_checksum
        |FROM d WHERE host NOT IN (SELECT host FROM blocked)
        |GROUP BY host ORDER BY host""".stripMargin),
      plan = Seq(has("BroadcastHashJoin", "LeftAnti"), noUdf)),

    // host link graph + 3-iteration integer PageRank — outlink hosts
    // synthesized deterministically from doc_id (3 targets per doc over
    // an 11-host universe); ranks are pure integer micro-units, so the
    // DuckDB twin (unrolled power steps) reproduces them byte-exactly.
    Query("host_pagerank", (s, dir) => {
      val h  = (e: org.apache.spark.sql.Column) =>
        concat(lit("h"), e.cast("string"))
      val docs = t(s, dir, "documents")
        .select(col("doc_id"),
          h(col("doc_id") % 11).as("host"),
          array(
            h((col("doc_id") * 3 + 1) % 11),
            h((col("doc_id") * 7 + 2) % 11),
            h((col("doc_id") + 5) % 11)).as("out_hosts"))
      val edges = ops.LinkGraph.hostEdges(docs, "host", "out_hosts")
      val deg = edges.groupBy(col("src").as("host"))
        .agg(count(lit(1)).as("out_deg"))
      ops.LinkGraph.pageRankMicro(edges, iterations = 3)
        .join(deg, Seq("host"), "left")
        .select(col("host"),
          coalesce(col("out_deg"), lit(0L)).as("out_deg"),
          col("rank_micro"))
        .orderBy(col("host"))
    },
      // PageRank twin: same edge synthesis, three unrolled integer power
      // steps (`//` = `div` on positive BIGINTs; sums cast back to BIGINT
      // because DuckDB widens SUM to HUGEINT)
      oracle = Some("""WITH d AS (
        |  SELECT doc_id,
        |    'h' || CAST(doc_id % 11 AS VARCHAR) AS src,
        |    ['h' || CAST((doc_id*3+1) % 11 AS VARCHAR),
        |     'h' || CAST((doc_id*7+2) % 11 AS VARCHAR),
        |     'h' || CAST((doc_id+5) % 11 AS VARCHAR)] AS targets
        |  FROM documents),
        |e AS (
        |  SELECT DISTINCT src, dst FROM
        |    (SELECT src, unnest(targets) AS dst FROM d)
        |  WHERE src <> dst),
        |nodes AS (SELECT src AS host FROM e UNION SELECT dst FROM e),
        |od AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY src),
        |r0 AS (SELECT host, CAST(1000000 AS BIGINT) AS r FROM nodes),
        |c1 AS (SELECT e.dst AS host, CAST(SUM(r0.r // od.deg) AS BIGINT) AS s
        |       FROM e JOIN r0 ON e.src = r0.host JOIN od ON e.src = od.src
        |       GROUP BY e.dst),
        |r1 AS (SELECT n.host,
        |         CAST(150000 + COALESCE((85 * c1.s) // 100, 0) AS BIGINT) AS r
        |       FROM nodes n LEFT JOIN c1 ON n.host = c1.host),
        |c2 AS (SELECT e.dst AS host, CAST(SUM(r1.r // od.deg) AS BIGINT) AS s
        |       FROM e JOIN r1 ON e.src = r1.host JOIN od ON e.src = od.src
        |       GROUP BY e.dst),
        |r2 AS (SELECT n.host,
        |         CAST(150000 + COALESCE((85 * c2.s) // 100, 0) AS BIGINT) AS r
        |       FROM nodes n LEFT JOIN c2 ON n.host = c2.host),
        |c3 AS (SELECT e.dst AS host, CAST(SUM(r2.r // od.deg) AS BIGINT) AS s
        |       FROM e JOIN r2 ON e.src = r2.host JOIN od ON e.src = od.src
        |       GROUP BY e.dst),
        |r3 AS (SELECT n.host,
        |         CAST(150000 + COALESCE((85 * c3.s) // 100, 0) AS BIGINT) AS r
        |       FROM nodes n LEFT JOIN c3 ON n.host = c3.host)
        |SELECT n.host, COALESCE(od.deg, 0) AS out_deg, r3.r AS rank_micro
        |FROM nodes n
        |LEFT JOIN od ON n.host = od.src
        |JOIN r3 ON n.host = r3.host
        |ORDER BY n.host""".stripMargin),
      plan = Seq(has("InMemoryTableScan"), lacks("CartesianProduct"), noUdf)),

    // robots.txt permission evaluation (RFC 9309) — synthesized
    // frontier exercises group selection (graftbot-specific deny vs
    // the * group), /private/ prefix rules, the longest-match
    // allow override, wildcard+anchor patterns, and a host with no
    // robots at all; the oracle states expected outcomes per branch.
    Query("robots_allowed", (s, dir) => {
      import s.implicits._
      val m5 = col("doc_id") % 5
      val frontier = t(s, dir, "documents").select(
        concat(lit("h"), (col("doc_id") % 4).cast("string"), lit(".com"))
          .as("host"),
        when(m5 === 0, lit("/private/data/1"))
          .when(m5 === 1, lit("/private/pubfile"))
          .when(m5 === 2, lit("/docs/file.pdf"))
          .when(m5 === 3, lit("/docs/file.pdfx"))
          .otherwise(lit("/open/page")).as("path"))
      val starTxt = "User-agent: *\nDisallow: /private/\n" +
        "Allow: /private/pub*\nDisallow: /*.pdf$\n"
      val botTxt = "User-agent: graftbot\nDisallow: /\n\n" +
        "User-agent: *\nAllow: /\n"
      val robots = Seq(("h0.com", starTxt), ("h1.com", starTxt),
        ("h3.com", botTxt)).toDF("host", "robots_txt")
      ops.Robots.allowedFlags(frontier, robots, "host", "path",
          "robots_txt", "graftbot")
        .groupBy(col("host"), col("path"), col("allowed"))
        .agg(count(lit(1)).as("n_urls"))
        .orderBy(col("host"), col("path"), col("allowed"))
    },
      // robots twin: expected permission per synthesis branch — no
      // robots parsing on the oracle side
      oracle = Some("""WITH f AS (
        |  SELECT doc_id,
        |    'h' || CAST(doc_id % 4 AS VARCHAR) || '.com' AS host,
        |    CASE doc_id % 5
        |      WHEN 0 THEN '/private/data/1'
        |      WHEN 1 THEN '/private/pubfile'
        |      WHEN 2 THEN '/docs/file.pdf'
        |      WHEN 3 THEN '/docs/file.pdfx'
        |      ELSE '/open/page' END AS path
        |  FROM documents)
        |SELECT host, path,
        |  CASE
        |    WHEN doc_id % 4 = 2 THEN TRUE
        |    WHEN doc_id % 4 = 3 THEN FALSE
        |    WHEN doc_id % 5 = 0 THEN FALSE
        |    WHEN doc_id % 5 = 2 THEN FALSE
        |    ELSE TRUE END AS allowed,
        |  CAST(COUNT(*) AS BIGINT) AS n_urls
        |FROM f GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin),
      plan = Seq(has("BroadcastHashJoin"), exactly("SerializeFromObject", 1))),

    // per-host robust outliers over REAL text lengths — lower-median
    // + MAD (never interpolated, all int64), outlier gate
    // cross-multiplied to integers. Same host synthesis as
    // domain_blocklist. The oracle reimplements both window medians
    // and the gate independently.
    Query("host_outliers", (s, dir) =>
      ops.Outliers.hostMadOutliers(
          t(s, dir, "documents").select(col("doc_id"),
            concat(lit("www.example"), (col("doc_id") % 7).cast("string"),
              lit(".com")).as("host"),
            length(col("text")).cast("long").as("v")),
          "doc_id", "host", "v")
        .orderBy(col("host")),
      // host-outlier twin: lower medians by row_number rank, identical
      // integer gate
      oracle = Some("""WITH d AS (
        |  SELECT doc_id,
        |    'www.example' || CAST(doc_id % 7 AS VARCHAR) || '.com' AS host,
        |    CAST(length(text) AS BIGINT) AS v
        |  FROM documents),
        |m1 AS (
        |  SELECT host, v,
        |    row_number() OVER (PARTITION BY host ORDER BY v, doc_id) AS rn,
        |    COUNT(*) OVER (PARTITION BY host) AS n
        |  FROM d),
        |med AS (SELECT host, v AS med_v FROM m1 WHERE rn = (n + 1) // 2),
        |a AS (
        |  SELECT d.doc_id, d.host, abs(d.v - med.med_v) AS av, med.med_v
        |  FROM d JOIN med USING (host)),
        |m2 AS (
        |  SELECT host, av,
        |    row_number() OVER (PARTITION BY host ORDER BY av, doc_id) AS rn,
        |    COUNT(*) OVER (PARTITION BY host) AS n
        |  FROM a),
        |mad AS (SELECT host, av AS mad_v FROM m2 WHERE rn = (n + 1) // 2)
        |SELECT a.host, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(MAX(a.med_v) AS BIGINT) AS med_v,
        |  CAST(MAX(mad.mad_v) AS BIGINT) AS mad_v,
        |  CAST(SUM(CASE WHEN 10000 * a.av > 44478 * mad.mad_v
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        |FROM a JOIN mad USING (host)
        |GROUP BY 1 ORDER BY a.host""".stripMargin),
      plan = Seq(shuffleKey("host"), has("BroadcastHashJoin"), lacks("CartesianProduct"))),

    // rendezvous (HRW) fetcher assignment — 50 hosts sharded onto 8
    // fetchers by highest-random-weight over the pinned 31-bit
    // polynomial hash; assignment computed on the DISTINCT host table
    // and broadcast back to the docs. The oracle recomputes every
    // (host, worker) weight with the identical list_reduce polynomial
    // and the same larger-worker tie-break.
    Query("rendezvous_assign", (s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"),
        concat(lit("h"), (col("doc_id") % 50).cast("string")).as("host"))
      val assigned = ops.Rendezvous.assign(
        docs.select(col("host")).distinct(), "host",
        (0 until 8).map(i => s"f$i"))
      docs.join(broadcast(assigned), Seq("host"))
        .groupBy(col("worker"))
        .agg(countDistinct(col("host")).as("n_hosts"),
          count(lit(1)).as("n_docs"),
          sum(col("doc_id")).cast("long").as("doc_checksum"))
        .orderBy(col("worker"))
    },
      // rendezvous twin: identical polynomial weights + larger-worker
      // tie-break via struct max
      oracle = Some("""WITH hosts AS (
        |  SELECT DISTINCT 'h' || CAST(doc_id % 50 AS VARCHAR) AS host
        |  FROM documents),
        |h0 AS (
        |  SELECT host, w,
        |    list_reduce(list_transform(
        |      range(1, length(w || '|' || host) + 1),
        |      i -> CAST(ord(substr(w || '|' || host, i, 1)) AS BIGINT)),
        |      (a, b) -> (a * 131 + b) % 2147483647) AS hr
        |  FROM hosts,
        |    (SELECT unnest(['f0','f1','f2','f3','f4','f5','f6','f7'])
        |       AS w)),
        |hw AS (SELECT host, w, hr * hr % 2147483647 AS h FROM h0),
        |best AS (
        |  SELECT host, w AS worker,
        |    row_number() OVER (PARTITION BY host
        |      ORDER BY h DESC, w DESC) AS rn
        |  FROM hw),
        |d AS (
        |  SELECT doc_id, 'h' || CAST(doc_id % 50 AS VARCHAR) AS host
        |  FROM documents)
        |SELECT b.worker,
        |  CAST(COUNT(DISTINCT d.host) AS BIGINT) AS n_hosts,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(d.doc_id) AS BIGINT) AS doc_checksum
        |FROM d JOIN best b ON d.host = b.host AND b.rn = 1
        |GROUP BY 1 ORDER BY worker""".stripMargin),
      plan = Seq(has("BroadcastHashJoin"), noUdf)),

    // link reciprocity — a 12-host synthetic web where hosts 0-3 form
    // a link-farm clique (mutual edges) on top of a one-way ring:
    // clique members read ~1.0 reciprocity, ring-only hosts 0. Edges
    // derive through hostEdges (explode+distinct, self-loops dropped);
    // the oracle rebuilds the same edge set and reciprocity
    // independently.
    Query("reciprocal_links", (s, dir) => {
      val k = (col("doc_id") % 12).cast("long")
      val ring = (k + 1) % 12
      val targets = when(k < 4,
        array_distinct(filter(
          array(ring, lit(0L), lit(1L), lit(2L), lit(3L)),
          x => x =!= k)))
        .otherwise(array(ring))
      val docs = t(s, dir, "documents").select(
        concat(lit("h"), k.cast("string")).as("src_host"),
        transform(targets,
          x => concat(lit("h"), x.cast("string"))).as("target_hosts"))
      ops.LinkGraph.reciprocalStats(
          ops.LinkGraph.hostEdges(docs, "src_host", "target_hosts"))
        .orderBy(col("host"))
    },
      // reciprocity twin: same synthetic edges, independent reverse-join
      oracle = Some("""WITH kk AS (SELECT DISTINCT doc_id % 12 AS k FROM documents),
        |e0 AS (
        |  SELECT k, unnest(CASE WHEN k < 4 THEN
        |      list_distinct(list_filter(
        |        [(k + 1) % 12, 0, 1, 2, 3], x -> x != k))
        |    ELSE [(k + 1) % 12] END) AS d
        |  FROM kk),
        |e AS (
        |  SELECT DISTINCT 'h' || CAST(k AS VARCHAR) AS src,
        |    'h' || CAST(d AS VARCHAR) AS dst
        |  FROM e0 WHERE k != d),
        |r AS (
        |  SELECT e1.src, COUNT(*) AS n_recip
        |  FROM e e1 JOIN e e2 ON e1.src = e2.dst AND e1.dst = e2.src
        |  GROUP BY 1)
        |SELECT e.src AS host, CAST(COUNT(*) AS BIGINT) AS out_deg,
        |  CAST(COALESCE(MAX(r.n_recip), 0) AS BIGINT) AS n_reciprocal,
        |  CAST((1000000 * COALESCE(MAX(r.n_recip), 0)) // COUNT(*)
        |    AS BIGINT) AS reciprocity_micro
        |FROM e LEFT JOIN r ON e.src = r.src
        |GROUP BY 1 ORDER BY host""".stripMargin),
      plan = Seq(has("LeftSemi"), lacks("CartesianProduct"))),

    // robots Sitemap: lines — global per RFC 9309 (collected inside
    // and outside UA groups): in-group lines, case-insensitive field,
    // no-space colon, inline comments, empty values, comment-only
    // files. The oracle states each (host, idx, url) per branch.
    Query("robots_sitemaps", (s, dir) => {
      import s.implicits._
      val robots = t(s, dir, "documents")
        .select((col("doc_id") % 6).cast("long").as("k"))
        .distinct().as[Long]
        .map { k =>
          val txt = k match {
            case 0 => "User-agent: *\nDisallow: /x/\n" +
              "Sitemap: http://h0.example/s1.xml\n"
            case 1 => "Sitemap: http://h1.example/a.xml # discovery\n" +
              "User-agent: g\nSITEMAP: http://h1.example/b.xml\n"
            case 2 => "User-agent: *\nAllow: /\n"
            case 3 => "sitemap:http://h3.example/c.xml\n"
            case 4 => "Sitemap:   \nSitemap: http://h4.example/d.xml\n"
            case _ => "# only comments\n"
          }
          (s"h$k", txt)
        }.toDF("host", "robots_txt")
      ops.Robots.sitemapRows(robots, "host", "robots_txt")
        .orderBy(col("host"), col("sitemap_idx"))
    },
      // robots-sitemap twin: rows stated per branch
      oracle = Some("""WITH hosts AS (SELECT DISTINCT doc_id % 6 AS k FROM documents),
        |r AS (
        |  SELECT 'h0' AS host, 0 AS sitemap_idx,
        |    'http://h0.example/s1.xml' AS sitemap_url
        |  FROM hosts WHERE k = 0
        |  UNION ALL SELECT 'h1', 0, 'http://h1.example/a.xml'
        |    FROM hosts WHERE k = 1
        |  UNION ALL SELECT 'h1', 1, 'http://h1.example/b.xml'
        |    FROM hosts WHERE k = 1
        |  UNION ALL SELECT 'h3', 0, 'http://h3.example/c.xml'
        |    FROM hosts WHERE k = 3
        |  UNION ALL SELECT 'h4', 0, 'http://h4.example/d.xml'
        |    FROM hosts WHERE k = 4)
        |SELECT host, CAST(sitemap_idx AS BIGINT) AS sitemap_idx,
        |  sitemap_url
        |FROM r ORDER BY host, sitemap_idx""".stripMargin)),

    // adaptive recrawl schedule over the events table — Cho &
    // Garcia-Molina revisit policy: per user_id (standing in for a
    // url), a change is an observation whose event_type differs from
    // the previous one (ts + payload tie-broken total order); the
    // interval is the integer inter-change estimate clamped to
    // [1h, 7d]. The oracle reimplements the lag window and the clamp.
    Query("recrawl_schedule", (s, dir) =>
      ops.Recrawl.schedule(
          t(s, dir, "events").select(col("user_id"), col("ts"),
            col("event_type")),
          "user_id", "ts", "event_type")
        .orderBy(col("user_id")),
      // recrawl twin: identical lag window, integer clamp
      oracle = Some("""WITH o AS (
        |  SELECT user_id,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS e, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_type) AS prev
        |  FROM events),
        |a AS (
        |  SELECT user_id, COUNT(*) AS n_obs,
        |    SUM(CASE WHEN prev IS NOT NULL AND event_type <> prev
        |      THEN 1 ELSE 0 END) AS n_changes,
        |    MAX(e) - MIN(e) AS span_sec, MAX(e) AS last_e
        |  FROM o GROUP BY 1)
        |SELECT user_id, CAST(n_obs AS BIGINT) AS n_obs,
        |  CAST(n_changes AS BIGINT) AS n_changes,
        |  CAST(span_sec AS BIGINT) AS span_sec,
        |  CAST(least(greatest(span_sec // greatest(1, n_changes),
        |    3600), 604800) AS BIGINT) AS interval_sec,
        |  CAST(last_e + least(greatest(
        |    span_sec // greatest(1, n_changes), 3600), 604800)
        |    AS BIGINT) AS next_fetch_epoch
        |FROM a ORDER BY user_id""".stripMargin),
      plan = Seq(shuffleKey("user_id"), noUdf)),

    // robots-aware politeness schedule — the crawl-delay each host's
    // robots.txt grants graftbot (specific group beats *, absent
    // delay defaults to 1s, hosts with no robots default too) drives
    // the per-host fetch waves. Composes Robots.crawlDelays with the
    // wave window end to end; the oracle states the delay per branch
    // and recomputes the schedule envelope.
    Query("polite_schedule", (s, dir) => {
      import s.implicits._
      val robots = (0 until 6).map { h =>
        val txt = (h % 3) match {
          case 0 => s"User-agent: graftbot\nDisallow: /tmp/\n" +
            s"Crawl-delay: ${h + 1}\n\nUser-agent: *\nCrawl-delay: 9\n"
          case 1 => s"User-agent: *\nCrawl-delay: ${h + 2}\n"
          case _ => "User-agent: *\nDisallow: /x/\n"
        }
        (s"h$h", txt)
      }.toDF("host", "robots_txt")
      val delays = ops.Robots.crawlDelays(robots, "host", "robots_txt",
        "graftbot", defaultDelay = 1L)
      val frontier = t(s, dir, "documents").select(col("doc_id"),
        concat(lit("h"), (col("doc_id") % 9).cast("string")).as("host"))
      val w = Window.partitionBy(col("host")).orderBy(col("doc_id"))
      frontier.join(broadcast(delays), Seq("host"), "left")
        .withColumn("delay_sec", coalesce(col("delay_sec"), lit(1L)))
        .withColumn("wave0", row_number().over(w).cast("long") - 1)
        .withColumn("fetch_at_sec", col("wave0") * col("delay_sec"))
        .groupBy(col("host"), col("delay_sec"))
        .agg(count(lit(1)).as("n_urls"),
          max(col("fetch_at_sec")).as("makespan_sec"),
          sum(col("fetch_at_sec")).cast("long").as("schedule_checksum"))
        .orderBy(col("host"))
    },
      // polite-schedule twin: RFC-derived delay per host branch + the
      // identical wave schedule
      oracle = Some("""WITH f AS (
        |  SELECT doc_id, 'h' || CAST(doc_id % 9 AS VARCHAR) AS host,
        |    CAST(CASE doc_id % 9
        |      WHEN 0 THEN 1 WHEN 1 THEN 3 WHEN 2 THEN 1
        |      WHEN 3 THEN 4 WHEN 4 THEN 6 WHEN 5 THEN 1
        |      ELSE 1 END AS BIGINT) AS delay_sec
        |  FROM documents),
        |w AS (SELECT host, delay_sec,
        |        CAST(row_number() OVER (PARTITION BY host
        |          ORDER BY doc_id) AS BIGINT) - 1 AS wave0
        |      FROM f)
        |SELECT host, delay_sec, CAST(COUNT(*) AS BIGINT) AS n_urls,
        |  CAST(MAX(wave0 * delay_sec) AS BIGINT) AS makespan_sec,
        |  CAST(SUM(wave0 * delay_sec) AS BIGINT) AS schedule_checksum
        |FROM w GROUP BY 1, 2 ORDER BY host""".stripMargin),
      plan = Seq(has("BroadcastHashJoin"), shuffleKey("host"))),

    // byte-balanced shard assignment — global running offsets via the
    // two-level prefix sum (per-bucket totals -> tiny exclusive-cumsum
    // window -> broadcast bases -> per-bucket local windows), never a
    // corpus-wide single-partition window. Oracle recomputes with the
    // naive single window (correct at oracle scale, not at ours).
    Query("shard_assign", (s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), length(col("text")).cast("long").as("b"))
      ops.Shards.shardStats(
        ops.Shards.assign(docs, "doc_id", "b",
          targetBytes = 100000L, bucketSize = 64L), "doc_id")
    },
      // shard twin: the naive single-window cumsum — fine at oracle
      // scale, exactly what the two-level prefix sum must reproduce
      oracle = Some("""WITH d AS (
        |  SELECT doc_id, CAST(length(text) AS BIGINT) AS bytes
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, bytes,
        |    CAST(SUM(bytes) OVER (ORDER BY doc_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) - bytes AS start_off
        |  FROM d)
        |SELECT start_off // 100000 AS shard,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(bytes) AS BIGINT) AS shard_bytes,
        |  MIN(doc_id) AS first_id, MAX(doc_id) AS last_id
        |FROM c GROUP BY 1 ORDER BY shard""".stripMargin),
      plan = Seq(shuffleKey("_bucket"), has("BroadcastHashJoin"),
        atMost("Exchange SinglePartition", 1))),

    // politeness fetch scheduling — per-host crawl waves under a
    // per-host delay: wave k fetches at (k-1)*delay. The window keys
    // on host (the same partitioning the fetcher shards by); output is
    // the per-host schedule envelope with a checksum over every
    // assigned fetch time.
    Query("fetch_waves", (s, dir) => {
      val f = t(s, dir, "documents").select(col("doc_id"),
        concat(lit("h"), (col("doc_id") % 9).cast("string")).as("host"),
        ((col("doc_id") % 9) % 3 + 1).cast("long").as("delay_sec"))
      val w = Window.partitionBy(col("host")).orderBy(col("doc_id"))
      f.withColumn("wave0", row_number().over(w).cast("long") - 1)
        .withColumn("fetch_at_sec", col("wave0") * col("delay_sec"))
        .groupBy(col("host"), col("delay_sec"))
        .agg(count(lit(1)).as("n_urls"),
          max(col("fetch_at_sec")).as("makespan_sec"),
          sum(col("fetch_at_sec")).cast("long").as("schedule_checksum"))
        .orderBy(col("host"))
    },
      // fetch-waves twin: same per-host sequence and envelope
      oracle = Some("""WITH f AS (
        |  SELECT doc_id, 'h' || CAST(doc_id % 9 AS VARCHAR) AS host,
        |    CAST((doc_id % 9) % 3 + 1 AS BIGINT) AS delay_sec
        |  FROM documents),
        |w AS (SELECT host, delay_sec,
        |        CAST(row_number() OVER (PARTITION BY host
        |          ORDER BY doc_id) AS BIGINT) - 1 AS wave0
        |      FROM f)
        |SELECT host, delay_sec, CAST(COUNT(*) AS BIGINT) AS n_urls,
        |  CAST(MAX(wave0 * delay_sec) AS BIGINT) AS makespan_sec,
        |  CAST(SUM(wave0 * delay_sec) AS BIGINT) AS schedule_checksum
        |FROM w GROUP BY 1, 2 ORDER BY host""".stripMargin)))
}
