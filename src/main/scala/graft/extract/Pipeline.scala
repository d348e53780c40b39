package graft.extract

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Encoders}
import org.apache.spark.sql.functions._

import graft.analyzers.LangScript

/** Dataset-level wiring of the extraction engine (SURVEY.md §3.4):
  * one narrow typed mapPartitions stage over the pruned input columns —
  * parse + extract + doc analytics fused, no shuffle until the caller
  * aggregates. Size handling per SURVEY.md §4.2: payloads over
  * `oversizeBudgetBytes` are tallied as failures (status = "oversize")
  * without parsing, matching the reference's per-job failure path
  * (`local_queue.py:359-403`) — budgets never truncate the text of
  * in-budget docs (§7.3). A caller whose input is skewed by mega-documents
  * can `repartition(n)` it first.
  */
object Pipeline {

  /** Input row per BASELINE.json input_hint — `text` intentionally absent
    * so Catalyst prunes it out of the parquet scan. */
  final case class InputRow(url: String, warc_ts: java.sql.Timestamp,
      html: Array[Byte], lang: String)

  val DefaultOversizeBudget: Long = 256L * 1024 * 1024

  // derived once: deriving a product encoder walks the case class by
  // reflection, which costs milliseconds per `run`
  private val inputRowEncoder: Encoder[InputRow] = Encoders.product[InputRow]
  private val docResultEncoder: Encoder[DocResult] = Encoders.product[DocResult]

  /** @param analysis run the T4-T12 doc-analyzer suite inside the map
    *   stage. Pass false when downstream only consumes the extraction
    *   contract (text/spans/pages/language/structure) — compute pruning
    *   to match Catalyst's column pruning.
    * @param unruledTables opt into the heuristic whitespace-aligned PDF
    *   table detector on top of the ruled-grid one (Extractor/E9). */
  def run(input: DataFrame,
      oversizeBudgetBytes: Long = DefaultOversizeBudget,
      analysis: Boolean = true,
      unruledTables: Boolean = false): Dataset[DocResult] = {
    val pruned = input.select(col("url"), col("warc_ts"), col("html"), col("lang"))
    pruned.as(inputRowEncoder).mapPartitions { rows =>
      rows.map { r =>
        val size = if (r.html == null) 0L else r.html.length.toLong
        if (size > oversizeBudgetBytes)
          Extractor.errorResult(r.url, r.warc_ts, r.lang, "unknown", "", size,
            s"payload $size bytes exceeds budget $oversizeBudgetBytes")
            .copy(status = "oversize")
        else Extractor.extract(r.url, r.warc_ts, r.html, r.lang, analysis,
          unruledTables)
      }
    }(docResultEncoder)
  }

  /** S2 base64 ingest (the Lambda body path,
    * `aws-lambda-ocr/lambda/handler.py:125-143`): rows arrive with the
    * payload base64-encoded in the string column `html_b64`; `unbase64` (built-in,
    * codegen'd) decodes it into the binary `html` column and the
    * standard pipeline runs. Spark-first: the decode is a Catalyst
    * expression in the scan projection, not a UDF. */
  def runBase64(input: DataFrame): Dataset[DocResult] =
    run(input.withColumn("html", unbase64(col("html_b64"))))

  /** The T16 level of a confidence, by `LangScript.ConfidenceLevels`. */
  private def confidenceLevel(conf: Column): Column =
    LangScript.ConfidenceLevels.foldRight(lit(LangScript.Uncertain)) {
      case ((level, floor), lower) => when(conf >= floor, level).otherwise(lower)
    }

  /** Every T16 level, highest first. */
  private val levels = LangScript.ConfidenceLevels.map(_._1) :+ LangScript.Uncertain

  /** A block is low-confidence at the two lowest levels, low and uncertain. */
  private def isLowConfidence(conf: Column): Column =
    confidenceLevel(conf).isin(levels.takeRight(2): _*)

  /** A block's low-confidence segment: its first 100 chars of `fullText`. */
  private def blockSegment(b: Column): Column =
    substring(col("fullText"), b("start") + 1, least(lit(100), b("end") - b("start")))

  /** Totals and languages, reported alike by both enhanced-output versions. */
  private def rollUps: Seq[Column] = Seq(
    col("pageCount").as("total_pages"),
    col("totalChars").as("total_characters"),
    col("totalWords").as("total_words"),
    col("detectedLanguage").as("primary_language"),
    expr("array_distinct(transform(pages, p -> p.language))").as("languages_detected"))

  /** The signatures block of both enhanced-output versions, then `extra`. */
  private def signatures(extra: Column*): Column = struct(Seq(
    col("signatureStatus").as("status"),
    (size(col("signatures")) > 0).as("has_digital_signature"),
    col("signatureStatus").isin("manually_signed", "both").as("has_handwritten_signature"),
    size(col("signatures")).as("total_signature_count"),
    expr("transform(signatures, s -> struct(s.fieldName as field_name, s.signed as signed))")
      .as("digital_signatures")) ++ extra: _*).as("signatures")

  /** v2.1 enhanced-output JSON per document (SURVEY.md S6/§1.3): one
    * JSON-string column shaped like the reference's
    * `build_enhanced_output_v21` dict (`ocr_engine.py:1783-1949` over
    * `intermediate_format.py:507-605`) — schema_version, document info,
    * processing, roll-ups, signatures, per-page metadata,
    * document_summary / tags / word_cloud, visual_content +
    * reconstruction (tables), full_text. Deterministic deviation:
    * `processing_timestamp` is omitted (a wall-clock field has no place
    * in a byte-reproducible engine). Built with to_json(struct(...)) —
    * stays columnar until the final serialize. */
  def enhancedJsonView(results: Dataset[DocResult]): DataFrame = {
    results.select(col("url"), to_json(struct(Seq(
      lit("2.1").as("schema_version"),
      col("url").as("job_id"),
      struct(
        col("url").as("original_filename"),
        col("format").as("file_format"),
        col("sizeBytes").as("file_size_bytes"),
        col("sha256").as("file_hash_sha256"),
        when(col("format") === "pdf", "application/pdf")
          .when(col("format") === "html", "text/html")
          .otherwise("application/octet-stream").as("mime_type")
      ).as("document"),
      struct(
        lit("2.1").as("pipeline_version"),
        col("pageCount").as("ocr_pages_processed"),
        col("recommendedStrategy").as("strategy"),
        col("estimatedTimeSec").as("estimated_processing_time"),
        col("complexityScore").as("complexity_score")
      ).as("processing"),
      // R2 roll-up computed from R1 per-page classification
      // (`ocr_engine.py:993-1023`) — pure_digital / pure_scanned / mixed
      col("documentStructure").as("document_structure")) ++
      rollUps ++ Seq(
      signatures(),
      expr("transform(pages, p -> struct(" +
        "p.pageNumber as page_number, p.charCount as char_count, " +
        "p.wordCount as word_count, p.lineCount as line_count, " +
        "p.paragraphCount as paragraph_count, p.script as script, " +
        "p.language as language, p.confidence as confidence))").as("pages"),
      col("avgConfidence").as("overall_confidence"),
      col("confidenceLevel").as("confidence_level"),
      struct(
        col("summaryBrief").as("brief"),
        col("summaryDetailed").as("detailed"),
        col("keyPoints").as("key_points")
      ).as("document_summary"),
      struct(
        col("docType").as("document_type"),
        col("categories").as("categories"),
        col("keywords").as("keywords"),
        col("entities").as("entities")
      ).as("tags"),
      struct(
        expr("transform(topWords, w -> struct(w.word as word, w.count as count, " +
          "w.percentage as percentage))").as("top_words")
      ).as("word_cloud"),
      struct(
        expr("transform(tables, t -> struct(t.tableId as table_id, t.page as page, " +
          "t.rows as rows, t.cols as cols, t.hasHeader as has_header, " +
          "t.headers as headers, t.data as data, t.isFinancial as is_financial, " +
          "t.hasTotalRow as has_total_row))").as("tables"),
        size(col("tables")).as("total_tables"),
        // diagram/chart detection is an AI stub returning None in the
        // reference (`visual_extractor.py:889-898,965-974`) — the counts
        // are structurally always 0, as there (`ocr_engine.py:1936-1942`)
        lit(0).as("total_diagrams"),
        lit(0).as("total_charts")
      ).as("visual_content"),
      // per-render {table_id, page, <render>} structs + the always-present
      // (empty) diagram/chart slots, per `ocr_engine.py:1905-1920`
      struct(
        expr("transform(tables, t -> struct(t.tableId as table_id, t.page as page, " +
          "t.html as html))").as("tables_html"),
        expr("transform(tables, t -> struct(t.tableId as table_id, t.page as page, " +
          "t.markdown as markdown))").as("tables_markdown"),
        expr("transform(tables, t -> struct(t.tableId as table_id, t.page as page, " +
          "t.csv as csv))").as("tables_csv"),
        array().cast("array<string>").as("diagrams_mermaid"),
        array().cast("array<string>").as("charts_plotly"),
        array().cast("array<string>").as("charts_csv")
      ).as("reconstruction"),
      when(col("error") =!= "", array(col("error")))
        .otherwise(array().cast("array<string>")).as("errors"),
      col("fullText").as("full_text")
    ): _*)).as("json"))
  }

  /** v2.0 enhanced-output JSON (`ocr_engine.py:1544-1596` — the builder
    * the reference upgrades in place to 2.1): schema_version 2.0,
    * document/processing blocks with the model-name slots, aggregate
    * stats, signatures incl. the (empty) handwritten list, per-page
    * content, confidence_distribution + low_confidence_segments (T16),
    * full_text. Deterministic deviations, as in v2.1: no
    * processing_timestamp / extraction_seconds wall-clock values (0),
    * model name pinned to "deterministic_direct" (no model inference in
    * this engine). */
  def v20JsonView(results: Dataset[DocResult]): DataFrame = {
    val blocks = flatten(transform(col("pages"), _("blocks")))
    results.select(col("url"), to_json(struct(Seq(
      lit("2.0").as("schema_version"),
      col("url").as("job_id"),
      struct(
        col("url").as("original_filename"),
        lit("").as("stored_filename"),
        col("format").as("file_format"),
        col("sizeBytes").as("file_size_bytes"),
        col("sha256").as("file_hash_sha256"),
        concat(lit("application/"), col("format")).as("mime_type")
      ).as("document"),
      struct(
        lit("2.0").as("pipeline_version"),
        lit("deterministic_direct").as("ocr_model_name"),
        lit("").as("ocr_model_repository"),
        col("pageCount").as("ocr_pages_processed"),
        lit(0.0).as("extraction_seconds"),
        col("docType").as("strategy")
      ).as("processing")) ++
      rollUps ++ Seq(
      signatures(array().cast("array<string>").as("handwritten_signatures")),
      // page text = lazy slice of fullText (the tree stores spans only)
      expr("transform(pages, p -> struct(" +
        "p.pageNumber as page_number, " +
        "substring(fullText, p.start + 1, p.end - p.start) as text, " +
        "p.charCount as char_count, p.wordCount as word_count, " +
        "p.language as language, p.confidence as confidence))").as("pages"),
      col("avgConfidence").as("overall_confidence"),
      struct(levels.map(l =>
        size(filter(blocks, b => confidenceLevel(b("confidence")) === l)).as(l)): _*
      ).as("confidence_distribution"),
      transform(filter(blocks, b => isLowConfidence(b("confidence"))), blockSegment(_))
        .as("low_confidence_segments"),
      col("fullText").as("full_text")
    ): _*)).as("json"))
  }

  /** Compact JSON view (`EnhancedJSONOutput.to_compact_json`,
    * `intermediate_format.py:594-605`): full_text truncated at 1000 chars
    * with "..." appended, and the entities key (the T8 named-entity
    * array), matching the reference's compact shape. */
  def compactJsonView(results: Dataset[DocResult]): DataFrame = {
    results.select(col("url"), to_json(struct(
      col("url").as("job_id"),
      col("docType").as("document_type"),
      col("pageCount").as("pages"),
      col("detectedLanguage").as("language"),
      col("signatureStatus").as("signature_status"),
      col("avgConfidence").as("confidence"),
      col("entities").as("entities"),
      when(length(col("fullText")) > 1000,
        concat(substring(col("fullText"), 1, 1000), lit("...")))
        .otherwise(col("fullText")).as("full_text")
    )).as("json"))
  }

  /** Stage-2 entity rows (`FinalJSONOutput`/`ExtractedEntity`,
    * `intermediate_format.py:435-499`; explode at
    * `organizer_engine.py:416-427`): one row per (url, field_name,
    * value, type, confidence, page). Our deterministic entity kinds:
    * named entities (T8), keywords (T5), categories (T7) — the
    * LLM-extracted kinds are out of scope per SURVEY.md §2.11. */
  def entitiesView(results: Dataset[DocResult]): DataFrame = {
    // ONE pass over the extraction results: the three entity kinds are
    // concatenated into a single array-of-structs column and exploded
    // once (the 3-way union of projections recomputed the full
    // parse-and-analyze mapPartitions per leg).
    results.select(col("url"), explode(concat(
        expr("transform(entities, v -> struct('entity' as field_name, v as value, 0.7D as confidence))"),
        expr("transform(keywords, v -> struct('keyword' as field_name, v as value, 0.8D as confidence))"),
        expr("transform(categories, v -> struct('category' as field_name, v as value, 0.6D as confidence))")
      )).as("e"))
      .select(col("url"), col("e.field_name").as("field_name"),
        col("e.value").as("value"), lit("text").as("type"),
        col("e.confidence").as("confidence"), lit(1).as("page"))
  }

  /** Confidence distribution + low-confidence segments (A2/T16,
    * `intermediate_format.py:276-306`): per-document bucket counts over
    * block confidences and the first 100 chars of any block under 0.6 —
    * conditional-sum aggregation, partial+final. */
  def confidenceView(results: Dataset[DocResult]): DataFrame = {
    // the 100-char snippet is sliced from fullText BEFORE the explode so
    // the exploded rows never carry the document text
    val blocks = results.select(col("url"),
      flatten(transform(col("pages"), p => transform(p("blocks"), b =>
        struct(b("confidence").as("conf"), blockSegment(b).as("text"))))).as("bs"))
      .select(col("url"), explode(col("bs")).as("b"))
    val conf = col("b.conf")
    val counts = levels.map(l => sum(when(confidenceLevel(conf) === l, 1L).otherwise(0L)).as(l))
    blocks.groupBy(col("url")).agg(counts.head, counts.tail ++ Seq(
      avg(conf).as("avg_confidence"),
      min(conf).as("min_confidence"),
      max(conf).as("max_confidence"),
      collect_list(when(isLowConfidence(conf), col("b.text")))
        .as("low_confidence_segments")): _*)
  }

  /** Projection of the per-url byte-identity contract (url, extracted
    * text, spans) — the minimal output table; column pruning reaches the
    * scan because DocResult is nested-struct typed. Span offsets index
    * into `text` (= fullText): block text is `text.substring(start, end)`. */
  def contractView(results: Dataset[DocResult]): DataFrame = {
    results.select(
      col("url"), col("status"), col("fullText").as("text"),
      expr("flatten(transform(pages, p -> transform(p.blocks, b -> " +
        "struct(b.start, b.end, b.blockType as block_type, p.pageNumber as page))))")
        .as("spans"))
  }
}
