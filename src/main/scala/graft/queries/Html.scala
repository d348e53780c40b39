package graft
package queries

import org.apache.spark.sql.functions._

import Fixtures._
import PlanProp._

/** Page-level HTML operators: anchors, templates, titles, dates,
  * markdown, JSON-LD, feeds, outlines, head metadata, alternates,
  * pagination, outlinks and sitemaps. */
object Html {

  val all: Seq[Query] = Seq(

    // anchor extraction through the REAL streaming HTML tokenizer —
    // the synthesized pages exercise uppercase tags, single/double
    // quotes, entities in hrefs, nested inline markup, implicit-close,
    // and dangling anchors; the oracle re-derives the expected
    // (href, text) rows directly from doc_id, independently certifying
    // the tokenizer path end to end.
    Query("anchor_rows", (s, dir) =>
      html.Anchors.anchorRows(
          t(s, dir, "documents")
            .select(col("doc_id"), anchorTestPage.as("page_html")),
          "doc_id", "page_html")
        .orderBy(col("doc_id"), col("href")),
      // anchor twin: expected rows derived straight from doc_id — no
      // HTML parsing on the oracle side, so it independently pins what
      // the tokenizer must produce (entity-decoded href, collapsed text)
      oracle = Some("""SELECT * FROM (
        |  SELECT doc_id,
        |    'https://www.Example' || CAST(doc_id % 7 AS VARCHAR)
        |      || '.com/a?x=1&y=2' AS href,
        |    'Link ' || CAST(doc_id AS VARCHAR) || ' here' AS anchor_text
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id,
        |    'http://site' || CAST(doc_id % 5 AS VARCHAR) || '.org/p',
        |    'second link'
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id, '/relative/path', 'rel'
        |  FROM documents WHERE doc_id % 3 = 0
        |  UNION ALL
        |  SELECT doc_id, 'https://dangling.net/x', 'never closed'
        |  FROM documents WHERE doc_id % 4 = 0)
        |ORDER BY doc_id, href""".stripMargin),
      plan = Seq(scans(1), exactly("SerializeFromObject", 1))),

    // per-target-host anchor roll-up — composes the tokenizer-based
    // anchor stream with UrlNorm.hostOf (relative hrefs drop: no
    // host); certifies the extraction->link-graph plumbing end to end.
    Query("anchor_host_stats", (s, dir) => {
      val anchors = html.Anchors.anchorRows(
        t(s, dir, "documents")
          .select(col("doc_id"), anchorTestPage.as("page_html")),
        "doc_id", "page_html")
      anchors
        .where(col("href").startsWith("http://") ||
          col("href").startsWith("https://"))
        .select(col("doc_id"), ops.UrlNorm.hostOf(col("href")).as("target_host"))
        .groupBy(col("target_host"))
        .agg(count(lit(1)).as("n_links"),
          countDistinct(col("doc_id")).as("n_src_docs"),
          sum(col("doc_id")).cast("long").as("doc_checksum"))
        .orderBy(col("target_host"))
    },
      // anchor-host twin: expected hosts derived from doc_id; the
      // relative link contributes no host
      oracle = Some("""WITH a AS (
        |  SELECT doc_id,
        |    'www.example' || CAST(doc_id % 7 AS VARCHAR) || '.com' AS target_host
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id, 'site' || CAST(doc_id % 5 AS VARCHAR) || '.org'
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id, 'dangling.net'
        |  FROM documents WHERE doc_id % 4 = 0)
        |SELECT target_host, CAST(COUNT(*) AS BIGINT) AS n_links,
        |  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_src_docs,
        |  CAST(SUM(doc_id) AS BIGINT) AS doc_checksum
        |FROM a GROUP BY target_host ORDER BY target_host""".stripMargin)),

    // DOM template clustering — three synthesized CMS templates with
    // per-doc varying text, attribute values, and tag case (all
    // invariant traps: they must not move the fingerprint); pages
    // group by the rolling tag-structure hash. The oracle recomputes
    // the identical polynomial over the literal structure strings.
    Query("template_clusters", (s, dir) => {
      val id = col("doc_id")
      val page = when(id % 3 === 0, concat(
          lit("<html><head><title>T"), id.cast("string"),
          lit("</title></head><body class=c"), id.cast("string"),
          lit("><p>text "), id.cast("string"), lit("</p></body></html>")))
        .when(id % 3 === 1, concat(
          lit("<HTML><BODY><div id=d"), id.cast("string"),
          lit("><ul><li>item "), id.cast("string"),
          lit("</li></ul></div></BODY></HTML>")))
        .otherwise(concat(
          lit("<html><body><table><tr><td><span>"), id.cast("string"),
          lit("</span></td></tr></table></body></html>")))
      html.Template.templateRows(
          t(s, dir, "documents").select(id, page.as("page_html")),
          "doc_id", "page_html")
        .groupBy(col("template_hash"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("doc_id")).cast("long").as("doc_checksum"),
          max(col("n_tags")).as("n_tags"))
        .orderBy(col("template_hash"))
    },
      // template twin: the identical rolling hash via list_reduce over
      // the literal structure strings — integer-exact
      oracle = Some("""WITH fp AS (
        |  SELECT doc_id,
        |    CASE doc_id % 3
        |      WHEN 0 THEN
        |        'html>head>title>/title>/head>body>p>/p>/body>/html'
        |      WHEN 1 THEN
        |        'html>body>div>ul>li>/li>/ul>/div>/body>/html'
        |      ELSE 'html>body>table>tr>td>span>/span>/td>/tr>'
        |        || '/table>/body>/html' END AS s,
        |    CAST(CASE doc_id % 3 WHEN 2 THEN 6 ELSE 5 END AS BIGINT)
        |      AS n_tags
        |  FROM documents),
        |h AS (
        |  SELECT doc_id, n_tags,
        |    list_reduce(list_transform(range(1, length(s) + 1),
        |        i -> CAST(ord(substr(s, i, 1)) AS BIGINT)),
        |      (a, b) -> (a * 131 + b) % 2147483647) AS template_hash
        |  FROM fp)
        |SELECT template_hash, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(doc_id) AS BIGINT) AS doc_checksum, MAX(n_tags) AS n_tags
        |FROM h GROUP BY 1 ORDER BY template_hash""".stripMargin),
      plan = Seq(scans(1), noUdf, exactly("SerializeFromObject", 1))),

    // blocked fuzzy title dedup — eight deterministic title variants
    // per 8-doc group behind a zero-padded 6-char group prefix (the
    // block key); candidate pairs form ONLY inside the block, and
    // survive at native Levenshtein distance <= 2. The oracle
    // reimplements blocking + levenshtein independently in DuckDB
    // (identical classic edit-distance semantics both engines).
    Query("fuzzy_titles", (s, dir) => {
      val id = col("doc_id")
      val title = concat(
        lpad(expr("doc_id div 8").cast("string"), 6, "0"),
        when(id % 8 === 0, lit(" widget pro"))
          .when(id % 8 === 1, lit(" widget pros"))
          .when(id % 8 === 2, lit(" widget pro x"))
          .when(id % 8 === 3, lit(" widget deluxe kit"))
          .when(id % 8 === 4, lit(" gadget pro"))
          .when(id % 8 === 5, lit(" gadget pros"))
          .when(id % 8 === 6, lit(" alpha beta gamma"))
          .otherwise(lit(" alpha beta gamm")))
      ops.FuzzyTitle.nearDupPairs(
          t(s, dir, "documents").select(id, title.as("title")),
          "doc_id", "title", maxDist = 2)
        .withColumn("dist", col("dist").cast("long"))
        .orderBy(col("id1"), col("id2"))
    },
      // fuzzy-title twin: independent blocking + DuckDB's native
      // levenshtein (classic edit distance, same semantics as Spark's)
      oracle = Some("""WITH ttl AS (
        |  SELECT doc_id,
        |    lpad(CAST(doc_id // 8 AS VARCHAR), 6, '0') ||
        |    CASE doc_id % 8
        |      WHEN 0 THEN ' widget pro'
        |      WHEN 1 THEN ' widget pros'
        |      WHEN 2 THEN ' widget pro x'
        |      WHEN 3 THEN ' widget deluxe kit'
        |      WHEN 4 THEN ' gadget pro'
        |      WHEN 5 THEN ' gadget pros'
        |      WHEN 6 THEN ' alpha beta gamma'
        |      ELSE ' alpha beta gamm' END AS title
        |  FROM documents),
        |b AS (SELECT doc_id, title, lower(substr(title, 1, 6)) AS blk
        |      FROM ttl)
        |SELECT x.doc_id AS id1, y.doc_id AS id2,
        |  CAST(levenshtein(x.title, y.title) AS BIGINT) AS dist
        |FROM b x JOIN b y ON x.blk = y.blk AND x.doc_id < y.doc_id
        |WHERE levenshtein(x.title, y.title) <= 2
        |ORDER BY id1, id2""".stripMargin),
      plan = Seq(noCartesian, noUdf, calls("graft_levenshtein_bounded"))),

    // publication-date extraction — seven synthesized branches walk
    // the whole htmldate-style precedence chain (og article >
    // microdata > meta date > time element > URL path > none) with
    // validation-fallthrough traps: invalid month 13, non-leap
    // 2021-02-29, first-wins duplicate metas, attr-less <time>,
    // slash-format dates, month-only URL day default. The oracle
    // states date + winning source per branch with no date logic
    // oracle-side.
    Query("pub_dates", (s, dir) => {
      import s.implicits._
      val rows = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .map { id =>
          val dd = f"${id % 28 + 1}%02d"
          val (url, page) = (id % 7) match {
            case 0 => (s"http://h0.example/a$id",
              "<html><head><meta property=\"article:published_time\" " +
                s"""content="2023-07-${dd}T08:30:00Z"></head>""" +
                "<body>x</body></html>")
            case 1 => (s"http://h1.example/a$id",
              """<meta property="article:published_time" content="2023-13-05">""" +
                """<meta itemprop="datePublished" content="2021-02-28">""" +
                """<meta itemprop="datePublished" content="1999-01-01">""")
            case 2 => (s"http://h2.example/a$id",
              """<meta name="DATE" content="2019/03/09">""" +
                """<meta name="date" content="2001-01-01">""")
            case 3 => (s"http://h3.example/a$id",
              "<time>not this</time>" +
                """<time datetime="2020-02-29T12:00:00">leap</time>""")
            case 4 => (s"http://h4.example/blog/2018/11/$dd/post-$id.html",
              "<p>plain page</p>")
            case 5 => (s"http://h5.example/page?id=$id",
              """<meta property="article:published_time" content="not a date">""" +
                """<time datetime="2021-02-29">bad leap</time>""")
            case _ => (s"http://h6.example/archive/2017/06/",
              "<time>2000-01-01</time>")
          }
          (id, url, page)
        }
        .toDF("doc_id", "url", "page_html")
      html.PubDate.pubDateRows(rows, "doc_id", "url", "page_html")
        .orderBy(col("doc_id"))
    },
      // pub-date twin: expected date + winning source per branch — no
      // date parsing or precedence logic oracle-side
      oracle = Some("""SELECT doc_id,
        |  CASE doc_id % 7
        |    WHEN 0 THEN '2023-07-' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0')
        |    WHEN 1 THEN '2021-02-28'
        |    WHEN 2 THEN '2019-03-09'
        |    WHEN 3 THEN '2020-02-29'
        |    WHEN 4 THEN '2018-11-' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0')
        |    WHEN 5 THEN ''
        |    ELSE '2017-06-01' END AS pub_date,
        |  CASE doc_id % 7
        |    WHEN 0 THEN 'og_article'
        |    WHEN 1 THEN 'microdata'
        |    WHEN 2 THEN 'meta_date'
        |    WHEN 3 THEN 'time_elem'
        |    WHEN 4 THEN 'url_path'
        |    WHEN 5 THEN 'none'
        |    ELSE 'url_path' END AS source
        |FROM documents ORDER BY doc_id""".stripMargin),
      plan = Seq(scans(1), noUdf, atMost("Exchange", 1))),

    // HTML -> Markdown rendering — six synthesized branches cover the
    // whole pinned dialect: headings + inline markup + links (with a
    // head-drop trap), nested lists, blockquote + hr, fenced raw pre
    // (entity trap), GFM pipe table, and script/style/br/img traps.
    // The oracle states the expected markdown byte-exact per branch
    // with chr(10) joins — no HTML logic oracle-side.
    Query("html_markdown", (s, dir) => {
      import s.implicits._
      val rows = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .map { id =>
          val page = (id % 6) match {
            case 0 => "<html><head><title>drop me</title></head><body>" +
              s"<h1>Doc $id</h1><p>Hello <strong>bold</strong> and " +
              "<em>it</em> plus <code>x=1</code>, see " +
              "<a href=\"http://e/1\">link</a>.</p><h2>Sect</h2></body></html>"
            case 1 => "<ol><li>first</li><li>second<ul><li>sub a</li>" +
              s"<li>sub b</li></ul></li><li>third $id</li></ol>"
            case 2 => "<blockquote><p>quoted one</p><p>quoted two " +
              s"$id</p></blockquote><hr><p>after</p>"
            case 3 => s"<pre>if (a &lt; b) {\n  run($id);\n}</pre>"
            case 4 => "<table><thead><tr><th>k</th><th>v</th></tr>" +
              s"</thead><tbody><tr><td>a</td><td>$id</td></tr>" +
              "<tr><td>b</td><td>9</td></tr></tbody></table>"
            case _ => "<script>var x = \"<p>no</p>\";</script>" +
              "<style>p{}</style><p>line one<br>line two</p>" +
              s"<p><img src=\"http://e/i.png\" alt=\"pic $id\"> tail</p>"
          }
          (id, page)
        }
        .toDF("doc_id", "page_html")
      html.Markdown.markdownRows(rows, "doc_id", "page_html")
        .orderBy(col("doc_id"))
    },
      // markdown twin: expected markdown stated byte-exact per branch
      // (chr(10) line joins) — no HTML logic oracle-side
      oracle = Some("""SELECT doc_id,
        |  CASE doc_id % 6
        |    WHEN 0 THEN '# Doc ' || doc_id || chr(10) || chr(10) ||
        |      'Hello **bold** and *it* plus `x=1`, see ' ||
        |      '[link](http://e/1).' || chr(10) || chr(10) || '## Sect'
        |    WHEN 1 THEN '1. first' || chr(10) || '2. second' || chr(10) ||
        |      '  - sub a' || chr(10) || '  - sub b' || chr(10) ||
        |      '3. third ' || doc_id
        |    WHEN 2 THEN '> quoted one' || chr(10) || '>' || chr(10) ||
        |      '> quoted two ' || doc_id || chr(10) || chr(10) ||
        |      '---' || chr(10) || chr(10) || 'after'
        |    WHEN 3 THEN '```' || chr(10) || 'if (a < b) {' || chr(10) ||
        |      '  run(' || doc_id || ');' || chr(10) || '}' ||
        |      chr(10) || '```'
        |    WHEN 4 THEN '| k | v |' || chr(10) || '| --- | --- |' ||
        |      chr(10) || '| a | ' || doc_id || ' |' || chr(10) ||
        |      '| b | 9 |'
        |    ELSE 'line one' || chr(10) || 'line two' || chr(10) ||
        |      chr(10) || '![pic ' || doc_id || '](http://e/i.png) tail'
        |    END AS markdown
        |FROM documents ORDER BY doc_id""".stripMargin),
      plan = Seq(scans(1), noUdf, atMost("Exchange", 1))),

    // JSON-LD structured data — five branches: NewsArticle block,
    // two blocks in order (Product + NewsArticle), case-insensitive
    // type attr with a non-ld application/json decoy, no block (no
    // rows), malformed JSON (NULL fields, row survives). JSON paths
    // evaluate in codegen get_json_object; the oracle states every
    // field per branch and computes blob_len from the literal string
    // — no JSON parsing oracle-side.
    Query("jsonld_meta", (s, dir) => {
      import s.implicits._
      val rows = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .map { id =>
          def ld(body: String) =
            s"""<script type="application/ld+json">$body</script>"""
          val page = (id % 5) match {
            case 0 => "<html><body>" + ld(
              s"""{"@type":"NewsArticle","headline":"Story $id",""" +
                """"datePublished":"2022-05-06",""" +
                """"author":{"name":"A. Writer"}}""") +
              "<p>body</p></body></html>"
            case 1 => ld("""{"@type":"Product","name":"Widget"}""") +
              ld(s"""{"@type":"NewsArticle","headline":"Second $id",""" +
                """"author":{"name":"B"}}""")
            case 2 => """<script type="application/json">{"not":"ld"}""" +
              "</script>" +
              "<script type=\" APPLICATION/LD+JSON \">" +
              s"""{"@type":"BlogPosting","headline":"Up $id",""" +
              """"datePublished":"2021-01-02","author":{"name":"C"}}""" +
              "</script>"
            case 3 => "<p>no structured data</p>"
            case _ => ld("{broken")
          }
          (id, page)
        }
        .toDF("doc_id", "page_html")
      html.JsonLd.articleRows(rows, "doc_id", "page_html")
        .orderBy(col("doc_id"), col("block_idx"))
    },
      // jsonld twin: fields stated per branch; blob_len computed from
      // the literal blob string — no JSON parsing oracle-side
      oracle = Some("""WITH b AS (
        |  SELECT doc_id, 0 AS block_idx,
        |    '{"@type":"NewsArticle","headline":"Story ' || doc_id ||
        |      '","datePublished":"2022-05-06","author":{"name":"A. Writer"}}'
        |      AS blob,
        |    'NewsArticle' AS ld_type, 'Story ' || doc_id AS headline,
        |    '2022-05-06' AS date_published, 'A. Writer' AS author_name
        |  FROM documents WHERE doc_id % 5 = 0
        |  UNION ALL
        |  SELECT doc_id, 0, '{"@type":"Product","name":"Widget"}',
        |    'Product', NULL, NULL, NULL
        |  FROM documents WHERE doc_id % 5 = 1
        |  UNION ALL
        |  SELECT doc_id, 1,
        |    '{"@type":"NewsArticle","headline":"Second ' || doc_id ||
        |      '","author":{"name":"B"}}',
        |    'NewsArticle', 'Second ' || doc_id, NULL, 'B'
        |  FROM documents WHERE doc_id % 5 = 1
        |  UNION ALL
        |  SELECT doc_id, 0,
        |    '{"@type":"BlogPosting","headline":"Up ' || doc_id ||
        |      '","datePublished":"2021-01-02","author":{"name":"C"}}',
        |    'BlogPosting', 'Up ' || doc_id, '2021-01-02', 'C'
        |  FROM documents WHERE doc_id % 5 = 2
        |  UNION ALL
        |  SELECT doc_id, 0, '{broken', NULL, NULL, NULL, NULL
        |  FROM documents WHERE doc_id % 5 = 4)
        |SELECT doc_id, CAST(block_idx AS BIGINT) AS block_idx, ld_type,
        |  headline, date_published, author_name,
        |  CAST(length(blob) AS BIGINT) AS blob_len
        |FROM b ORDER BY doc_id, block_idx""".stripMargin),
      plan = Seq(scans(1), noUdf, has("get_json_object"))),

    // RSS/Atom feed items — three branches: RSS with CDATA titles +
    // entity-escaped links + a channel-title no-leak trap, Atom with
    // rel=self decoy links beaten by rel=alternate href, and a
    // non-feed page (no rows). The oracle states every item row per
    // branch with no XML parsing.
    Query("feed_items", (s, dir) => {
      import s.implicits._
      val rows = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .map { id =>
          val h = s"http://s${id % 5}"
          val xml = (id % 3) match {
            case 0 => "<?xml version=\"1.0\"?><rss version=\"2.0\">" +
              s"<channel><title>C</title><link>$h/</link>" +
              s"<item><title><![CDATA[Post A $id]]></title>" +
              s"<link>$h/a?x=1&amp;y=$id</link>" +
              "<pubDate>Mon, 02 Jan 2023 10:00:00 GMT</pubDate></item>" +
              s"<item><title>Post B</title><link>$h/b</link></item>" +
              "</channel></rss>"
            case 1 => "<feed xmlns=\"http://www.w3.org/2005/Atom\">" +
              s"""<title>F</title><link href="$h/feed" rel="self"/>""" +
              s"<entry><title>Entry $id</title>" +
              s"""<link rel="self" href="$h/e.atom"/>""" +
              s"""<link rel="alternate" href="$h/e$id"/>""" +
              "<updated>2024-03-04T05:06:07Z</updated></entry>" +
              s"""<entry><title>Two</title><link href="$h/two"/>""" +
              "</entry></feed>"
            case _ => s"<html><body><p>page $id</p></body></html>"
          }
          (id, xml)
        }
        .toDF("doc_id", "xml")
      html.Feeds.itemRows(rows, "doc_id", "xml")
        .orderBy(col("doc_id"), col("item_idx"))
    },
      // feed twin: every item row stated per branch — no XML parsing
      // oracle-side
      oracle = Some("""WITH h AS (SELECT doc_id,
        |    'http://s' || CAST(doc_id % 5 AS VARCHAR) AS b
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, 'rss' AS kind, 0 AS item_idx,
        |    'Post A ' || doc_id AS title,
        |    b || '/a?x=1&y=' || doc_id AS link,
        |    'Mon, 02 Jan 2023 10:00:00 GMT' AS item_date
        |  FROM h WHERE doc_id % 3 = 0
        |  UNION ALL
        |  SELECT doc_id, 'rss', 1, 'Post B', b || '/b', ''
        |  FROM h WHERE doc_id % 3 = 0
        |  UNION ALL
        |  SELECT doc_id, 'atom', 0, 'Entry ' || doc_id,
        |    b || '/e' || doc_id, '2024-03-04T05:06:07Z'
        |  FROM h WHERE doc_id % 3 = 1
        |  UNION ALL
        |  SELECT doc_id, 'atom', 1, 'Two', b || '/two', ''
        |  FROM h WHERE doc_id % 3 = 1)
        |SELECT doc_id, kind, CAST(item_idx AS BIGINT) AS item_idx,
        |  title, link, item_date
        |FROM r ORDER BY doc_id, item_idx""".stripMargin),
      plan = Seq(scans(1), noUdf, atMost("Exchange", 1))),

    // document outline — four synthesized heading trees walk the
    // numbering rules: full hierarchy with deeper-counter reset,
    // skipped-level zero component, inline markup flattening, empty
    // heading advancing the outline. The oracle states every row.
    Query("doc_outline", (s, dir) => {
      import s.implicits._
      val rows = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .map { id =>
          val page = (id % 4) match {
            case 0 => s"<h1>One $id</h1><h2>A</h2><h3>i</h3><h2>B</h2>" +
              "<h1>Two</h1><h2>C</h2>"
            case 1 => "<h2>starts deep</h2><h1>then top</h1>"
            case 2 => s"<h1>  The <b>Big</b>\n <em>Title $id</em> </h1>"
            case _ => "<p>no headings</p>"
          }
          (id, page)
        }.toDF("doc_id", "page_html")
      html.Outline.headingRows(rows, "doc_id", "page_html")
        .orderBy(col("doc_id"), col("heading_idx"))
    },
      // outline twin: every heading row stated per branch
      oracle = Some("""WITH r AS (
        |  SELECT doc_id, 0 AS heading_idx, 1 AS level, '1' AS section,
        |    'One ' || doc_id AS heading_text
        |  FROM documents WHERE doc_id % 4 = 0
        |  UNION ALL SELECT doc_id, 1, 2, '1.1', 'A'
        |    FROM documents WHERE doc_id % 4 = 0
        |  UNION ALL SELECT doc_id, 2, 3, '1.1.1', 'i'
        |    FROM documents WHERE doc_id % 4 = 0
        |  UNION ALL SELECT doc_id, 3, 2, '1.2', 'B'
        |    FROM documents WHERE doc_id % 4 = 0
        |  UNION ALL SELECT doc_id, 4, 1, '2', 'Two'
        |    FROM documents WHERE doc_id % 4 = 0
        |  UNION ALL SELECT doc_id, 5, 2, '2.1', 'C'
        |    FROM documents WHERE doc_id % 4 = 0
        |  UNION ALL SELECT doc_id, 0, 2, '0.1', 'starts deep'
        |    FROM documents WHERE doc_id % 4 = 1
        |  UNION ALL SELECT doc_id, 1, 1, '1', 'then top'
        |    FROM documents WHERE doc_id % 4 = 1
        |  UNION ALL SELECT doc_id, 0, 1, '1',
        |    'The Big Title ' || doc_id
        |    FROM documents WHERE doc_id % 4 = 2)
        |SELECT doc_id, CAST(heading_idx AS BIGINT) AS heading_idx,
        |  CAST(level AS BIGINT) AS level, section, heading_text
        |FROM r ORDER BY doc_id, heading_idx""".stripMargin),
      plan = Seq(scans(1), noUdf, atMost("Exchange", 1))),

    // meta-refresh soft redirects — plain, quoted+case, delay-only,
    // invalid-delay (no row), and absent branches; oracle states the
    // surviving rows.
    Query("meta_refresh", (s, dir) => {
      import s.implicits._
      val rows = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .map { id =>
          val page = (id % 5) match {
            case 0 => "<meta http-equiv=\"refresh\" " +
              s"""content="0;url=http://h/next$id">"""
            case 1 => "<meta HTTP-EQUIV=\"Refresh\" " +
              s"""content="5; URL='http://h/q?a=$id'">"""
            case 2 => """<meta http-equiv="refresh" content="30">"""
            case 3 => "<meta http-equiv=\"refresh\" " +
              """content="abc;url=http://h/x">"""
            case _ => "<p>no refresh</p>"
          }
          (id, page)
        }.toDF("doc_id", "page_html")
      html.Meta.refreshRows(rows, "doc_id", "page_html")
        .orderBy(col("doc_id"))
    },
      // refresh twin: surviving rows stated per branch
      oracle = Some("""WITH r AS (
        |  SELECT doc_id, 0 AS delay_sec,
        |    'http://h/next' || doc_id AS target_url
        |  FROM documents WHERE doc_id % 5 = 0
        |  UNION ALL
        |  SELECT doc_id, 5, 'http://h/q?a=' || doc_id
        |  FROM documents WHERE doc_id % 5 = 1
        |  UNION ALL
        |  SELECT doc_id, 30, '' FROM documents WHERE doc_id % 5 = 2)
        |SELECT doc_id, CAST(delay_sec AS BIGINT) AS delay_sec,
        |  target_url
        |FROM r ORDER BY doc_id""".stripMargin)),

    // hreflang alternates — ordered pairs with rel-token/case traps,
    // canonical decoys, and missing-attr skips; oracle states rows.
    Query("hreflang_pairs", (s, dir) => {
      import s.implicits._
      val rows = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .map { id =>
          val h = s"http://s${id % 5}"
          val page = (id % 3) match {
            case 0 =>
              s"""<link rel="alternate" hreflang="en" href="$h/en/$id">""" +
                s"""<link rel="Alternate" hreflang="de" href="$h/de/$id">""" +
                s"""<link rel="alternate" hreflang="x-default" href="$h/">"""
            case 1 =>
              s"""<link rel="canonical" hreflang="es" href="$h/es">""" +
                s"""<link rel="alternate" href="$h/feed.xml">""" +
                s"""<link rel="alternate stylesheet" hreflang="fr" href="$h/fr/$id">"""
            case _ => "<p>no alternates</p>"
          }
          (id, page)
        }.toDF("doc_id", "page_html")
      html.Meta.alternateRows(rows, "doc_id", "page_html")
        .orderBy(col("doc_id"), col("alt_idx"))
    },
      // hreflang twin: rows stated per branch
      oracle = Some("""WITH h AS (SELECT doc_id,
        |    'http://s' || CAST(doc_id % 5 AS VARCHAR) AS b
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, 0 AS alt_idx, 'en' AS hreflang,
        |    b || '/en/' || doc_id AS href
        |  FROM h WHERE doc_id % 3 = 0
        |  UNION ALL SELECT doc_id, 1, 'de', b || '/de/' || doc_id
        |    FROM h WHERE doc_id % 3 = 0
        |  UNION ALL SELECT doc_id, 2, 'x-default', b || '/'
        |    FROM h WHERE doc_id % 3 = 0
        |  UNION ALL SELECT doc_id, 0, 'fr', b || '/fr/' || doc_id
        |    FROM h WHERE doc_id % 3 = 1)
        |SELECT doc_id, CAST(alt_idx AS BIGINT) AS alt_idx, hreflang,
        |  href
        |FROM r ORDER BY doc_id, alt_idx""".stripMargin)),

    // pagination-chain assembly — rel=next extraction COMPOSED with
    // pointer-doubling resolution: 4-page article groups chain
    // p0->p1->p2->p3 (terminal), group 0's last page links back to
    // its first (gallery-trap cycle -> unresolved). The oracle
    // derives the same edges and resolves them with a recursive CTE
    // walk bounded by the edge count.
    Query("pagination_chains", (s, dir) => {
      import s.implicits._
      val pages = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .map { id =>
          val g = id / 4
          val p = id % 4
          val url = s"http://s/a$g/p$p"
          val page =
            if (p < 3)
              s"""<link rel="next" href="http://s/a$g/p${p + 1}">"""
            else if (g == 0)
              s"""<link rel="NEXT" href="http://s/a$g/p0">"""
            else "<p>last part</p>"
          (url, page)
        }.toDF("url", "page_html")
      val edges = pages.as[(String, String)]
        .flatMap { case (u, h) =>
          val n = html.Meta.nextLink(h)
          if (n.isEmpty) None else Some((u, n))
        }.toDF("src", "dst")
      ops.Redirects.resolve(edges).orderBy(col("src"))
    },
      // pagination twin: same derived edges + the recursive-CTE resolver
      oracle = Some("""WITH RECURSIVE d AS (
        |  SELECT doc_id, doc_id // 4 AS g, doc_id % 4 AS p
        |  FROM documents),
        |e AS (
        |  SELECT 'http://s/a' || g || '/p' || p AS src,
        |    'http://s/a' || g || '/p' ||
        |      CASE WHEN p < 3 THEN p + 1 ELSE 0 END AS dst
        |  FROM d WHERE p < 3 OR g = 0),
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
        |ORDER BY s.src""".stripMargin)),

    // page-level outlink profiles — four branches: mixed internal/
    // external with a nofollow and a same-host-absolute (port+case
    // traps), all-relative, external-only with skipped mailto/
    // javascript, and no links. The oracle states counts per branch.
    Query("outlink_profiles", (s, dir) => {
      import s.implicits._
      val rows = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .map { id =>
          val host = s"site${id % 5}.com"
          val page = (id % 4) match {
            case 0 => "<a href=\"/about\">a</a>" +
              s"""<a href="http://Site${id % 5}.COM:80/deep">c</a>""" +
              "<a href=\"https://other.net/x\" rel=\"NoFollow\">d</a>" +
              s"""<a href="https://other.net/y?id=$id">e</a>"""
            case 1 => "<a href=\"p1.html\">x</a><a href=\"p2.html\">y" +
              "</a><a href=\"/z\">z</a>"
            case 2 => "<a href=\"mailto:x@y.z\">m</a>" +
              "<a href=\"javascript:void(0)\">j</a>" +
              s"""<a href="http://spam.example/$id" rel="nofollow">s</a>""" +
              "<a href=\"http://farm.example/\">f</a>"
            case _ => "<p>no links</p>"
          }
          (id, page, host)
        }.toDF("doc_id", "page_html", "host")
      html.Anchors.outlinkProfileRows(rows, "doc_id", "page_html",
          "host")
        .orderBy(col("doc_id"))
    },
      // outlink twin: counts stated per branch
      oracle = Some("""SELECT doc_id,
        |  CAST(CASE doc_id % 4 WHEN 0 THEN 4 WHEN 1 THEN 3
        |    WHEN 2 THEN 2 ELSE 0 END AS BIGINT) AS n_links,
        |  CAST(CASE doc_id % 4 WHEN 0 THEN 2 WHEN 1 THEN 3
        |    ELSE 0 END AS BIGINT) AS n_internal,
        |  CAST(CASE doc_id % 4 WHEN 0 THEN 2 WHEN 2 THEN 2
        |    ELSE 0 END AS BIGINT) AS n_external,
        |  CAST(CASE doc_id % 4 WHEN 0 THEN 1 WHEN 2 THEN 1
        |    ELSE 0 END AS BIGINT) AS n_nofollow
        |FROM documents ORDER BY doc_id""".stripMargin),
      plan = Seq(scans(1), noUdf, atMost("Exchange", 1))),

    // sitemap parsing through the streaming tokenizer — one quarter of
    // the docs carry a <sitemapindex> (kind=sitemap children), the
    // rest a <urlset> with a full entry (entity-escaped loc, lastmod,
    // changefreq, priority), an optional loc-only entry, and a
    // loc-less trap entry that must drop. Oracle reconstructs every
    // row from doc_id with no XML parsing.
    Query("sitemap_entries", (s, dir) => {
      val id = col("doc_id")
      val host = concat(lit("http://s"), (id % 7).cast("string"),
        lit(".example/"))
      val xml = when(id % 4 === 3,
        concat(lit("<?xml version=\"1.0\"?><sitemapindex><sitemap><loc>"),
          host, lit("s1.xml</loc><lastmod>2026-02-0"),
          (id % 9 + 1).cast("string"),
          lit("</lastmod></sitemap><sitemap><loc>"), host,
          lit("s2.xml</loc></sitemap></sitemapindex>")))
        .otherwise(concat(
          lit("<?xml version=\"1.0\"?><urlset><url><loc>"), host,
          lit("p?x=1&amp;y="), id.cast("string"),
          lit("</loc><lastmod>2026-01-0"), (id % 9 + 1).cast("string"),
          lit("</lastmod><changefreq>"),
          when(id % 3 === 0, lit("daily"))
            .when(id % 3 === 1, lit("weekly")).otherwise(lit("monthly")),
          lit("</changefreq><priority>0."), (id % 10).cast("string"),
          lit("</priority></url>"),
          when(id % 2 === 0,
            concat(lit("<url><loc>"), host, lit("q</loc></url>")))
            .otherwise(lit("")),
          lit("<url><lastmod>2026-01-01</lastmod></url></urlset>")))
      html.Sitemap.entryRows(
          t(s, dir, "documents").select(id, xml.as("sitemap_xml")),
          "doc_id", "sitemap_xml")
        .orderBy(col("doc_id"), col("loc"))
    },
      // sitemap twin: expected entries per synthesis branch — no XML
      // parsing oracle-side (certifies the real tokenizer path)
      oracle = Some("""WITH h AS (
        |  SELECT doc_id,
        |    'http://s' || CAST(doc_id % 7 AS VARCHAR) || '.example/'
        |      AS host
        |  FROM documents),
        |e AS (
        |  SELECT doc_id, 'sitemap' AS kind, host || 's1.xml' AS loc,
        |    '2026-02-0' || CAST(doc_id % 9 + 1 AS VARCHAR) AS lastmod,
        |    '' AS changefreq, '' AS priority
        |  FROM h WHERE doc_id % 4 = 3
        |  UNION ALL
        |  SELECT doc_id, 'sitemap', host || 's2.xml', '', '', ''
        |  FROM h WHERE doc_id % 4 = 3
        |  UNION ALL
        |  SELECT doc_id, 'url',
        |    host || 'p?x=1&y=' || CAST(doc_id AS VARCHAR),
        |    '2026-01-0' || CAST(doc_id % 9 + 1 AS VARCHAR),
        |    CASE doc_id % 3 WHEN 0 THEN 'daily' WHEN 1 THEN 'weekly'
        |      ELSE 'monthly' END,
        |    '0.' || CAST(doc_id % 10 AS VARCHAR)
        |  FROM h WHERE doc_id % 4 <> 3
        |  UNION ALL
        |  SELECT doc_id, 'url', host || 'q', '', '', ''
        |  FROM h WHERE doc_id % 4 <> 3 AND doc_id % 2 = 0)
        |SELECT doc_id, kind, loc, lastmod, changefreq, priority
        |FROM e ORDER BY doc_id, loc""".stripMargin),
      plan = Seq(scans(1), noUdf, exactly("SerializeFromObject", 1))),

    // head-metadata extraction through the real streaming tokenizer —
    // title (RCDATA, entity-decoded, duplicate-title trap), meta
    // description/robots (none shorthand), canonical, base, charset,
    // og:title, hreflang alternate count. The oracle reconstructs
    // every field from doc_id with no parsing oracle-side.
    Query("page_meta", (s, dir) =>
      html.Meta.metaRows(
          t(s, dir, "documents")
            .select(col("doc_id"), metaTestPage.as("page_html")),
          "doc_id", "page_html")
        .orderBy(col("doc_id")),
      // page-meta twin: expected head fields per synthesis branch — no
      // HTML parsing oracle-side (certifies the real tokenizer path)
      oracle = Some("""SELECT doc_id,
        |  'Page & ' || CAST(doc_id AS VARCHAR) AS title,
        |  CASE WHEN doc_id % 3 <> 0
        |    THEN 'Desc ' || CAST(doc_id AS VARCHAR) ELSE '' END
        |    AS description,
        |  CASE WHEN doc_id % 2 = 0
        |    THEN 'http://c' || CAST(doc_id % 7 AS VARCHAR) || '.example/p'
        |      || CAST(doc_id AS VARCHAR) ELSE '' END AS canonical,
        |  'http://w' || CAST(doc_id % 7 AS VARCHAR) || '.example/dir/'
        |    AS base_href,
        |  CASE WHEN doc_id % 2 = 1 THEN 'utf-8' ELSE '' END AS charset,
        |  CASE WHEN doc_id % 3 = 1
        |    THEN 'Og ' || CAST(doc_id AS VARCHAR) ELSE '' END AS og_title,
        |  doc_id % 4 IN (0, 1) AS noindex,
        |  doc_id % 4 = 1 AS nofollow,
        |  CAST(doc_id % 3 AS INTEGER) AS n_alternates
        |FROM documents ORDER BY doc_id""".stripMargin),
      plan = Seq(scans(1), noUdf, exactly("SerializeFromObject", 1))))
}
