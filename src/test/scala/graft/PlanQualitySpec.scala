package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.corpus.CorpusGen
import graft.extract.Pipeline
import graft.queries.{LibraryPlans, PlanProp, PlanView, Queries}

/** Physical-plan quality gates (SURVEY.md §4.2): every plan property the
  * registry declares — column pruning into the parquet scan, predicate
  * pushdown, broadcast joins for small dimensions, partial aggregation,
  * whole-stage codegen — is asserted here, so a regression that silently
  * de-optimizes a plan fails CI, not a cluster run. PLANS.md is the
  * generated report of the same properties (`graft.Plans`). */
class PlanQualitySpec extends AnyFunSuite {

  private val spark = SparkTestBase.spark
  import spark.implicits._
  private val sf = "/root/testdata/sf0.001"

  private lazy val corpusPath: String = {
    val p = Files.createTempDirectory("graft_plan_corpus_").toString + "/corpus"
    CorpusGen.generate(spark, 200, partitions = 4).toDF()
      .write.mode("overwrite").parquet(p)
    p
  }

  private lazy val registry =
    (Queries.all ++ LibraryPlans.all(corpusPath)).map(q => q.name -> q).toMap

  /** Runs each named entry once and asserts every one of its props. */
  private def check(names: String*): Unit = names.foreach { name =>
    val q = registry(name)
    assert(q.plan.nonEmpty, s"$name declares no plan properties")
    val view = PlanView.of(q.build(spark, sf))
    val failed = q.plan.filterNot(_.holds(view)).map(_.what)
    assert(failed.isEmpty, s"$name: ${failed.mkString("; ")}\n${view.text.take(3000)}")
  }

  // Each titled test runs every prop of the entries it names.
  private val titled = Seq(
    "extraction pipeline prunes the text column out of the scan" -> Seq("extract_contract"),
    "lang filter pushes down to the parquet scan" -> Seq("lang_filter"),
    "small-dimension joins broadcast (no shuffle of the big side)" -> Seq("q5_region_suppliers"),
    "aggregations run partial+final with whole-stage codegen" -> Seq("q1_agg"),
    "events_rollup computes all grouping-set levels from one Expand" -> Seq("events_rollup"),
    "q10 pushes the order-date window into the orders scan" -> Seq("q10_returned_revenue"),
    "events_user_percentiles: two-phase distinct + partial percentiles, one scan" ->
      Seq("events_user_percentiles"),
    "events_props_json: JSON-path extraction stays in codegen, no UDF" -> Seq("events_props_json"),
    "quality_gopher signals stay fully codegen (no UDF)" -> Seq("quality_gopher"),
    "contamination joins the distinct corpus set — never a cross product" ->
      Seq("contamination_sql"),
    "wordcloud/keyword fold the token total in-plan: one scan per query" ->
      Seq("wordcloud_top10", "keyword_topk_sql"),
    "pii/split/sample are map-only codegen column expressions (no UDF)" ->
      Seq("pii_redact", "split_assign", "stratified_sample", "nfc_normalize"),
    "curation_funnel: one documents scan; dedup shuffles the digest, not text" ->
      Seq("curation_funnel"),
    "para_dedup: first-seen window keys on the paragraph hash, never raw text" -> Seq("para_dedup"),
    "lm_score: vocab-bounded model joins, no cartesian product, no UDF" -> Seq("lm_score"),
    "snapshot_delta: one join on the key; digests shuffle, text never does" -> Seq("snapshot_delta"),
    "host_cap plans a WindowGroupLimit (map-side top-k before the shuffle)" -> Seq("host_cap"),
    "c4_clean: map-only line filtering — one scan, no UDF, no wide shuffle" -> Seq("c4_clean"),
    "domain_blocklist: the corpus side anti-joins against a broadcast" -> Seq("domain_blocklist"),
    "host_pagerank: the graph is persisted, not re-derived per iteration" -> Seq("host_pagerank"),
    "bm25_search: bounded-heap top-k, broadcast stats, no UDF" -> Seq("bm25_search"),
    "token_budget and url_rules stay codegen map-only (no UDF, one scan)" ->
      Seq("token_budget", "url_rules"),
    "anchor_rows: one typed flatMap stage over one scan" -> Seq("anchor_rows"),
    "nb_lang_confusion: argmax plans as WindowGroupLimit, no UDF" -> Seq("nb_lang_confusion"),
    "robots_allowed: robots table broadcasts; one typed eval stage" -> Seq("robots_allowed"),
    "template_clusters: one typed fingerprint stage; hash-only shuffle" -> Seq("template_clusters"),
    "fuzzy_titles: block-keyed equi-join, native levenshtein" -> Seq("fuzzy_titles"),
    "pub_dates: map-only typed path, one scan, no UDF" -> Seq("pub_dates"),
    "html_markdown: map-only typed path, one scan, no UDF" -> Seq("html_markdown"),
    "jsonld_meta: typed flatMap + codegen JSON paths, no UDF" -> Seq("jsonld_meta"),
    "readability: pure codegen expressions, no UDF, no typed map" -> Seq("readability"),
    "pmi_collocations: unigrams broadcast; one corpus shuffle; top-k" -> Seq("pmi_collocations"),
    "feed_items: typed flatMap rides the scan, no UDF" -> Seq("feed_items"),
    "host_outliers: host-partitioned windows; medians broadcast back" -> Seq("host_outliers"),
    "rendezvous_assign: host-table assignment broadcasts; no UDF" -> Seq("rendezvous_assign"),
    "reciprocal_links: host-cardinality semi-join, never a row blowup" -> Seq("reciprocal_links"),
    "surt_keys: pure codegen expressions, no UDF, no typed map" -> Seq("surt_keys"),
    "passage_chunks: codegen explode path, no UDF, no typed map" -> Seq("passage_chunks"),
    "recrawl_schedule: one key shuffle shared by window and roll-up" -> Seq("recrawl_schedule"),
    "doc_outline: typed flatMap rides the scan, no UDF" -> Seq("doc_outline"),
    "crawl_traps / registrable_domains / canon_text_key: pure codegen" ->
      Seq("crawl_traps", "registrable_domains", "canon_text_key"),
    "redirect_chains: log-depth doubling joins, no cartesian" -> Seq("redirect_chains"),
    "length_quantiles: histogram-first — corpus shuffles once, window runs on the histogram" ->
      Seq("length_quantiles"),
    "bpe_candidates: corpus touched once; pairs explode on the vocab" -> Seq("bpe_candidates"),
    "curation_funnel_v2: stage flags accumulate; digest-keyed window" -> Seq("curation_funnel_v2"),
    "outlink_profiles: map-only typed path, one scan" -> Seq("outlink_profiles"),
    "phrase_search: join inputs are term-filtered, never cartesian" -> Seq("phrase_search"),
    "polite_schedule: delays broadcast; wave window keys on host" -> Seq("polite_schedule"),
    "charset_decode: map-only typed path, one scan, no UDF" -> Seq("charset_decode"),
    "cms_heavy_hitters: sketch cells partial-aggregate; sketch broadcasts" ->
      Seq("cms_heavy_hitters"),
    "kmv_distinct: bottom-k aggregates map-side, never a key-wide window" -> Seq("kmv_distinct"),
    "shard_assign: prefix sum is two-level — no corpus-wide single-partition window" ->
      Seq("shard_assign"),
    "sitemap_entries: one typed tokenizer stage, one scan, no UDF" -> Seq("sitemap_entries"),
    "bloom_seen: bitmap broadcasts to the probe; pure codegen hashing" -> Seq("bloom_seen"),
    "page_meta: one typed tokenizer stage, one scan, no UDF" -> Seq("page_meta"),
    "warc_extract: map-only framing — one scan, shuffle only to sort" -> Seq("warc_extract"),
    "ann_recall caches the brute-force ground truth (no 4x corpus scan)" -> Seq("ann_recall"),
    "ANN / embedding-dedup plans use the native codegen cosine" ->
      Seq("ann_cosine_lsh", "ann_cosine_ivf", "ann_cosine_pairs"),
    "entities view runs exactly one extraction MapPartitions" -> Seq("entities_view"))

  for ((title, names) <- titled) test(title)(check(names: _*))

  // entries no title names get one test each (the corpus path is not
  // needed to list names: no frame is built here)
  private val covered = titled.flatMap(_._2).toSet
  for (name <- (Queries.all ++ LibraryPlans.all("")).filter(_.plan.nonEmpty)
      .map(_.name) if !covered(name))
    test(s"$name: plan properties")(check(name))

  test("count props read the final plan once, not the AQE wrapper's copies") {
    val df = spark.range(100).groupBy((col("id") % 3).as("k")).count()
    val view = PlanView.of(df)
    assert(view.count("HashAggregate") == 2)
    // the AQE wrapper's string repeats the final plan and adds the
    // initial one, so counting in it reads every node 3x and would pass
    // a single aggregate as "at least 2"
    val root = df.queryExecution.executedPlan
    val old = (root +: root.collect { case a: AdaptiveSparkPlanExec => a.executedPlan })
      .map(_.toString).mkString("\n")
    assert("HashAggregate".r.findAllIn(old).length == 6)
    val partial = view.after.filter(_.nodeName == "HashAggregate").last
    val one = new PlanView(Nil, partial.collect { case n => n }, partial.toString)
    assert(one.count("HashAggregate") == 1)
    assert(!PlanProp.atLeast("HashAggregate", 2).holds(one))
  }

  test("noUdf finds a Scala UDF that the plan text never names") {
    val plusOne = udf((x: Long) => x + 1)
    val view = PlanView.of(spark.range(3).select(plusOne(col("id"))))
    assert(!view.text.contains("ScalaUDF"))
    assert(!PlanProp.noUdf.holds(view))
  }

  test("enhanced v2.1 JSON view is well-formed and deterministic") {
    val results = Pipeline.run(spark.read.parquet(corpusPath))
    val json = Pipeline.enhancedJsonView(results)
      .filter(col("url") === CorpusGen.urlOf(0))
      .select("json").as[String].head()
    // structural checks against the v2.1 contract
    for (key <- Seq("\"schema_version\":\"2.1\"", "\"document\":", "\"processing\":",
        "\"signatures\":", "\"pages\":", "\"document_summary\":", "\"tags\":",
        "\"word_cloud\":", "\"visual_content\":", "\"reconstruction\":",
        "\"full_text\":"))
      assert(json.contains(key), s"missing $key")
    // parses back; spot-check fields
    val parsed = spark.range(1).select(
      from_json(lit(json), schema_of_json(lit(json))).as("j"))
      .select(col("j.job_id"), col("j.total_pages"), col("j.tags.document_type"))
      .as[(String, Long, String)].head()
    assert(parsed._1 == CorpusGen.urlOf(0))
    assert(parsed._2 == 1L)
    // deterministic across runs
    val json2 = Pipeline.enhancedJsonView(Pipeline.run(spark.read.parquet(corpusPath)))
      .filter(col("url") === CorpusGen.urlOf(0))
      .select("json").as[String].head()
    assert(json == json2)
  }

  test("doc-structure fields land in the enhanced JSON") {
    val results = Pipeline.run(spark.read.parquet(corpusPath))
    val json = Pipeline.enhancedJsonView(results)
      .filter(col("url") === CorpusGen.urlOf(0))
      .select("json").as[String].head()
    assert(json.contains("\"document_structure\":\"pure_digital\""))
    assert(json.contains("\"complexity_score\":"))
    assert(json.contains("\"estimated_processing_time\":"))
  }

  test("v2.0 JSON view carries the legacy schema surface") {
    val results = Pipeline.run(spark.read.parquet(corpusPath))
    val json = Pipeline.v20JsonView(results)
      .filter(col("url") === CorpusGen.urlOf(0))
      .select("json").as[String].head()
    for (key <- Seq("\"schema_version\":\"2.0\"", "\"stored_filename\":",
        "\"ocr_model_name\":", "\"confidence_distribution\":",
        "\"low_confidence_segments\":", "\"handwritten_signatures\":",
        "\"full_text\":"))
      assert(json.contains(key), s"missing $key")
  }

  test("compact JSON truncates full_text at 1000 chars with ellipsis") {
    val results = Pipeline.run(spark.read.parquet(corpusPath))
    val rows = Pipeline.compactJsonView(results).select("json").as[String].collect()
    assert(rows.nonEmpty)
    val mega = Pipeline.compactJsonView(
        results.filter(col("url") === CorpusGen.urlOf(99))) // mega-doc row
      .select("json").as[String].head()
    val ft = spark.range(1).select(
      get_json_object(lit(mega), "$.full_text").as("t")).as[String].head()
    assert(ft.length == 1003 && ft.endsWith("..."))
  }
}
