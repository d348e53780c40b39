package graft
package queries

import org.apache.spark.sql.functions._

import graft.corpus.CorpusGen
import graft.extract.Pipeline
import Fixtures._
import PlanProp._

/** The extraction engine and its outputs: the contract run, media
  * features, enhanced JSON views, tables, signatures, WARC and charset
  * ingest, checkpointed and streaming runs. */
object Extraction {

  val all: Seq[Query] = Seq(

    Query("extract_corpus", (s, dir) => {
      val n = if (dir.contains("sf0.1")) 5000L else if (dir.contains("sf0.01")) 2000L else 500L
      val corpus = CorpusGen.generate(s, n, partitions = 32).toDF()
      Pipeline.run(corpus)
        .select(col("url"), col("status"), col("format"), col("pageCount"),
          length(col("fullText")).as("text_chars"), col("docType"),
          col("signatureStatus"), col("detectedLanguage"),
          col("documentStructure").as("doc_structure"),
          col("complexityScore").as("complexity"))
        .orderBy(col("url"))
    }),

    // image payloads through the batched multimodal feature stage —
    // REAL ImageIO decode (JDK built-in readers): src dims, mean luma,
    // histogram and average-hash all come from actual pixels of the
    // corpus's synthesized PNG/JPEG/GIF payloads
    Query("multimodal_features", (s, dir) => {
      import s.implicits._
      val corpus = CorpusGen.generate(s, 1000, partitions = 8)
      val media = corpus
        .filter(r => Set("png", "jpg", "gif")(
          graft.extract.Extractor.sniffFormat(r.html)))
        .map(r => ops.Multimodal.MediaRow(
          // url suffix is the numeric corpus index
          r.url.substring(r.url.lastIndexOf('/') + 1).toLong,
          r.html,
          ops.Multimodal.MediaMeta(ops.Multimodal.sniffMime(r.html),
            32, 32, 1, 0L)))
      ops.Multimodal.imageFeatures(media)
        .toDF()
        .select(col("id"), col("width"), col("height"),
          col("srcWidth").as("src_width"), col("srcHeight").as("src_height"),
          col("decoded"),
          round(col("meanLuma"), 4).as("mean_luma"),
          // serialized: the driver's pandas compare sorts every column and
          // cannot hash/sort raw arrays (round-2 err) — keep arrays out of
          // driver-compared outputs
          concat_ws(",", col("histogram")).as("histogram"), col("ahash"))
        .orderBy(col("id"))
    }),

    // audio payloads through the batched feature stage — REAL
    // javax.sound.sampled parsing (JDK built-in, the audio analog of the
    // ImageIO path): sample rate / channels / bit depth / frame count /
    // duration from the WAV header, RMS + peak from the PCM frames.
    // Payloads are deterministic synthesized PCM16 square waves (integer
    // amplitudes — RMS is EXACTLY amp/32768, no trig, bit-stable), plus
    // PNG bytes to exercise the decoded=false stub branch. Rows-only
    // (RIFF parsing is not DuckDB-expressible); AudioSpec pins values.
    Query("audio_features", (s, dir) => {
      import s.implicits._
      val media = s.range(0, 30).as[Long].map { i =>
        val payload =
          if (i % 5 == 4) {
            // undecodable branch: PNG magic + deterministic junk (not
            // audio — exercises the decoded=false stub row)
            Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A) ++
              Array.tabulate(64)(j => ((i * 31 + j * 7) % 251).toByte)
          } else {
            val rate = if (i % 2 == 0) 8000 else 16000
            val channels = (i % 3 + 1).toInt.min(2)
            val amp = (2048 * (i % 7 + 1)).toInt.toShort
            val nFrames = 400 + (i * 37 % 400).toInt
            val half = 8 + (i % 5).toInt
            val samples = Array.tabulate(nFrames * channels) { k =>
              val frame = k / channels
              if ((frame / half) % 2 == 0) amp else (-amp).toShort
            }
            ops.Multimodal.synthWavPcm16(rate, channels, samples)
          }
        ops.Multimodal.MediaRow(i, payload,
          ops.Multimodal.MediaMeta(ops.Multimodal.sniffMime(payload), 0, 0, 0, 0L))
      }
      ops.Multimodal.audioFeatures(media)
        .toDF()
        .select(col("id"), col("decoded"), col("encoding"),
          col("sampleRate").cast("int").as("sample_rate"),
          col("channels"), col("sampleSizeBits").as("bits"),
          col("frames"), col("durationMs").as("duration_ms"),
          round(col("rms"), 4).as("rms"), round(col("peak"), 4).as("peak"))
        .orderBy(col("id"))
    }),

    // video payloads through the container-metadata stage — REAL
    // from-scratch ISO-BMFF box parsing (ops.Mp4Meta: brand, duration,
    // tracks, dimensions, codec fourcc from actual bytes; only the frame
    // DECODE is stubbed — the JDK ships no video codec). Payloads are
    // deterministic synthesized box trees (independent writer); every
    // third row is non-MP4 junk exercising the parsed=false branch.
    Query("video_meta", (s, dir) => {
      import s.implicits._
      val media = s.range(0, 24).as[Long].map { i =>
        val payload =
          if (i % 3 == 2)
            Array.tabulate(48)(j => ((i * 13 + j * 5) % 251).toByte)
          else {
            val dur = 1000L + i * 250L
            val tracks =
              if (i % 2 == 0)
                Seq(("vide", "avc1", 320 + (i * 16).toInt, 240 + (i * 8).toInt),
                  ("soun", "mp4a", 0, 0))
              else Seq(("soun", "mp4a", 0, 0))
            ops.Mp4Meta.synthMp4(timescale = 1000L, duration = dur, tracks)
          }
        ops.Multimodal.MediaRow(i, payload,
          ops.Multimodal.MediaMeta(ops.Multimodal.sniffMime(payload), 0, 0, 0, 0L))
      }
      ops.Multimodal.videoFeatures(media)
        .toDF()
        .select(col("id"), col("parsed"), col("brand"), col("timescale"),
          col("durationMs").as("duration_ms"), col("nTracks").as("n_tracks"),
          col("hasVideo").as("has_video"), col("hasAudio").as("has_audio"),
          col("width"), col("height"),
          col("videoCodec").as("video_codec"), col("audioCodec").as("audio_codec"))
        .orderBy(col("id"))
    }),

    // frame-sampling integration: the REAL parsed container duration
    // (Mp4Meta) drives the sampling fan-out — one row per everyMs up to
    // the mvhd duration; the frame payload slice is the one stubbed step
    // (no JDK video codec). n_frames per id == durationMs / 500.
    Query("video_frames", (s, dir) => {
      import s.implicits._
      val media = s.range(0, 12).as[Long].map { i =>
        val payload = ops.Mp4Meta.synthMp4(1000L, 1000L + (i % 5) * 700L,
          Seq(("vide", "avc1", 320, 240)))
        val meta = ops.Mp4Meta.parse(payload)
        ops.Multimodal.MediaRow(i, payload,
          ops.Multimodal.MediaMeta("video/mp4", 320, 240, 1, meta.durationMs))
      }
      ops.Multimodal.sampleFrames(media, everyMs = 500L)
        .toDF()
        .groupBy(col("id"))
        .agg(count(lit(1)).as("n_frames"), max(col("tsMs")).as("last_ts_ms"),
          sum(length(col("payload"))).cast("long").as("sliced_bytes"))
        .orderBy(col("id"))
    }),

    // WARC container ingest (ISO 28500) — per doc_id a three-record
    // shard (warcinfo + request + response) is serialized by the WARC
    // writer, half of them as per-record gzip members (the Common
    // Crawl layout), then parsed back by the framing parser. The
    // response body carries a CRLF-CRLF + "WARC/1.1" trap so only
    // Content-Length-driven framing (never delimiter scans) survives;
    // the oracle reconstructs every field from doc_id with no parsing.
    Query("warc_extract", (s, dir) => {
      import s.implicits._
      val blobs = t(s, dir, "documents").select(col("doc_id"))
        .as[Long]
        .map { id =>
          val url = s"http://w${id % 7}.example/p$id"
          val date = s"2026-01-0${id % 9 + 1}T00:00:00Z"
          val status = (id % 4) match {
            case 0 => "404 Not Found"
            case 1 => "301 Moved Permanently"
            case _ => "200 OK"
          }
          val ctype = (id % 3) match {
            case 0 => "text/plain"
            case 1 => "text/html; charset=UTF-8"
            case _ => "Text/HTML; CHARSET=\"iso-8859-1\""
          }
          val body = s"body $id\r\n\r\nWARC/1.1 trap"
          val http = (s"HTTP/1.1 $status\r\nContent-Type: $ctype" +
            s"\r\n\r\n$body").getBytes("UTF-8")
          val recs =
            ops.Warc.writeRecord("warcinfo",
              Seq("WARC-Date" -> date),
              "software: graft".getBytes("UTF-8")) ++
            ops.Warc.writeRecord("request",
              Seq("WARC-Target-URI" -> url, "WARC-Date" -> date),
              s"GET /p$id HTTP/1.1".getBytes("UTF-8")) ++
            ops.Warc.writeRecord("response",
              Seq("WARC-Target-URI" -> url, "WARC-Date" -> date),
              http)
          if (id % 2 == 0) ops.Warc.gzipMember(recs) else recs
        }
        .toDF("blob")
      ops.Warc.responses(blobs, "blob")
        .select(col("url"), col("warc_date"), col("status"),
          col("mime"), col("charset"), col("body"),
          length(col("body")).cast("long").as("body_len"))
        .orderBy(col("url"))
    },
      // warc twin: every field reconstructed from doc_id — no WARC
      // parsing oracle-side; byte-exact body incl. the CRLF trap
      oracle = Some("""WITH f AS (
        |  SELECT doc_id,
        |    'http://w' || CAST(doc_id % 7 AS VARCHAR) || '.example/p'
        |      || CAST(doc_id AS VARCHAR) AS url,
        |    '2026-01-0' || CAST(doc_id % 9 + 1 AS VARCHAR)
        |      || 'T00:00:00Z' AS warc_date,
        |    CASE doc_id % 4 WHEN 0 THEN 404 WHEN 1 THEN 301
        |      ELSE 200 END AS status,
        |    CASE doc_id % 3 WHEN 0 THEN 'text/plain'
        |      ELSE 'text/html' END AS mime,
        |    CASE doc_id % 3 WHEN 0 THEN '' WHEN 1 THEN 'utf-8'
        |      ELSE 'iso-8859-1' END AS charset,
        |    'body ' || CAST(doc_id AS VARCHAR) || chr(13) || chr(10)
        |      || chr(13) || chr(10) || 'WARC/1.1 trap' AS body
        |  FROM documents)
        |SELECT url, warc_date, status, mime, charset, body,
        |  CAST(length(body) AS BIGINT) AS body_len
        |FROM f ORDER BY url""".stripMargin),
      plan = Seq(scans(1), noUdf, atMost("Exchange", 1))),

    // WHATWG charset sniffing — six synthesized byte branches walk
    // the whole precedence chain: UTF-8 BOM, transport-declared
    // cp1252, meta-prescan iso-8859-1, UTF-16LE BOM, bare latin-1
    // bytes (invalid UTF-8 -> cp1252 fallback), and valid undeclared
    // UTF-8. The oracle states decoded text + charset + decision per
    // branch with no decoding oracle-side.
    Query("charset_decode", (s, dir) => {
      import s.implicits._
      val blobs = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .map { id =>
          val (blob, declared) = (id % 6) match {
            case 0 => (Array(0xEF, 0xBB, 0xBF).map(_.toByte) ++
              s"café €$id".getBytes("UTF-8"), "")
            case 1 => (s"café €$id".getBytes("windows-1252"),
              "windows-1252")
            case 2 => (s"<meta charset=iso-8859-1>café $id"
              .getBytes("ISO-8859-1"), "")
            case 3 => (Array(0xFF, 0xFE).map(_.toByte) ++
              s"page $id".getBytes("UTF-16LE"), "")
            case 4 => (s"café $id".getBytes("ISO-8859-1"), "")
            case _ => (s"café $id".getBytes("UTF-8"), "")
          }
          (id, blob, declared)
        }
        .toDF("doc_id", "blob", "declared")
      ops.Encoding.decodeRows(blobs, "doc_id", "blob", "declared")
        .orderBy(col("doc_id"))
    },
      // charset twin: expected text/charset/decision per branch — no
      // byte decoding oracle-side
      oracle = Some("""SELECT doc_id,
        |  CASE doc_id % 6
        |    WHEN 0 THEN 'café €' || CAST(doc_id AS VARCHAR)
        |    WHEN 1 THEN 'café €' || CAST(doc_id AS VARCHAR)
        |    WHEN 2 THEN '<meta charset=iso-8859-1>café '
        |      || CAST(doc_id AS VARCHAR)
        |    WHEN 3 THEN 'page ' || CAST(doc_id AS VARCHAR)
        |    ELSE 'café ' || CAST(doc_id AS VARCHAR) END AS text,
        |  CASE doc_id % 6
        |    WHEN 0 THEN 'utf-8' WHEN 1 THEN 'windows-1252'
        |    WHEN 2 THEN 'iso-8859-1' WHEN 3 THEN 'utf-16le'
        |    WHEN 4 THEN 'windows-1252' ELSE 'utf-8' END AS charset,
        |  CASE doc_id % 6
        |    WHEN 0 THEN 'bom' WHEN 1 THEN 'declared' WHEN 2 THEN 'meta'
        |    WHEN 3 THEN 'bom' WHEN 4 THEN 'fallback' ELSE 'utf8'
        |    END AS how
        |FROM documents ORDER BY doc_id""".stripMargin),
      plan = Seq(scans(1), noUdf, atMost("Exchange", 1))),

    // S2 base64 ingest: payloads arrive base64-encoded (Lambda body
    // path); unbase64 decode must reproduce the binary-column results
    Query("extract_base64", (s, dir) => {
      val corpus = CorpusGen.generate(s, 300, partitions = 8).toDF()
        .select(col("url"), col("warc_ts"), base64(col("html")).as("html_b64"),
          col("lang"))
      Pipeline.runBase64(corpus)
        .select(col("url"), col("status"), col("format"),
          length(col("fullText")).as("text_chars"))
        .orderBy(col("url"))
    }),

    Query("extract_spans", (s, dir) => {
      val corpus = CorpusGen.generate(s, 300, partitions = 8).toDF()
      Pipeline.contractView(Pipeline.run(corpus))
        .select(col("url"), col("status"), length(col("text")).as("text_chars"),
          size(col("spans")).as("n_spans"))
        .orderBy(col("url"))
    }),

    Query("enhanced_json", (s, dir) => {
      val corpus = CorpusGen.generate(s, 300, partitions = 8).toDF()
      val results = Pipeline.run(corpus)
      Pipeline.enhancedJsonView(results)
        .select(col("url"), length(col("json")).as("json_chars"),
          md5(col("json")).as("json_digest"))
        .orderBy(col("url"))
    }),

    Query("enhanced_json_v20", (s, dir) => {
      val corpus = CorpusGen.generate(s, 300, partitions = 8).toDF()
      Pipeline.v20JsonView(Pipeline.run(corpus))
        .select(col("url"), length(col("json")).as("json_chars"),
          md5(col("json")).as("json_digest"))
        .orderBy(col("url"))
    }),

    Query("entities_exploded", (s, dir) => {
      val corpus = CorpusGen.generate(s, 300, partitions = 8).toDF()
      Pipeline.entitiesView(Pipeline.run(corpus))
        .orderBy(col("url"), col("field_name"), col("value"))
    }),

    Query("confidence_dist", (s, dir) => {
      val corpus = CorpusGen.generate(s, 300, partitions = 8).toDF()
      Pipeline.confidenceView(Pipeline.run(corpus))
        .select(col("url"), col("certain"), col("high"), col("medium"),
          col("low"), col("uncertain"),
          round(col("avg_confidence"), 4).as("avg_confidence"))
        .orderBy(col("url"))
    }),

    Query("tables_enhanced", (s, dir) => {
      val corpus = CorpusGen.generate(s, 500, partitions = 8).toDF()
      Pipeline.run(corpus)
        .select(col("url"), explode(col("tables")).as("t"))
        .select(col("url"), col("t.tableId").as("table_id"),
          col("t.rows"), col("t.cols"), col("t.hasHeader").as("has_header"),
          col("t.isFinancial").as("is_financial"),
          col("t.hasTotalRow").as("has_total_row"),
          length(col("t.html")).as("html_chars"),
          length(col("t.csv")).as("csv_chars"),
          md5(col("t.markdown")).as("md_digest"))
        .orderBy(col("url"))
    }),

    // E9 unruled: whitespace-aligned tables through the engine flag —
    // inline fixture PDFs (the corpus stays byte-stable), ruled twin rows
    // prove the two detectors produce the same matrix for the same cells
    Query("tables_unruled", (s, dir) => {
      import s.implicits._
      val matrix = Seq(Seq("Name", "Qty", "Price"),
        Seq("widget", "4", "$12.50"), Seq("gadget", "7", "$919.30"),
        Seq("Total", "", "$931.80"))
      val rows = (0 until 20).map { i =>
        val ruled = i % 2 == 0
        val pdf =
          if (ruled) graft.corpus.PdfWriter.build(Seq(Seq(s"doc $i")), table = Some(matrix))
          else graft.corpus.PdfWriter.build(Seq(Seq(s"doc $i")), unruledTable = Some(matrix))
        (f"pdf://tables/$i%03d", new java.sql.Timestamp(0L), pdf,
          if (ruled) "ruled" else "unruled")
      }
      val input = rows.toDF("url", "warc_ts", "html", "lang")
      Pipeline.run(input, unruledTables = true).toDF()
        .select(col("url"), col("lang").as("kind"), explode(col("tables")).as("t"))
        .select(col("url"), col("kind"), col("t.rows"), col("t.cols"),
          col("t.hasHeader").as("has_header"),
          col("t.isFinancial").as("is_financial"),
          col("t.hasTotalRow").as("has_total_row"),
          md5(col("t.csv")).as("csv_digest"))
        .orderBy(col("url"))
    }),

    // E7 signature-drawings check through the engine: label+rect ⇒
    // manually_signed, label alone ⇒ unsigned, AcroForm ⇒ digital
    Query("signatures_e7", (s, dir) => {
      import s.implicits._
      val label = Seq(Seq("Signature:"))
      val rows = (0 until 30).map { i =>
        val pdf = (i % 3) match {
          case 0 => graft.corpus.PdfWriter.build(label,
            drawnRects = Map(0 -> Seq((100.0, 680.0, 120.0, 2.0))))
          case 1 => graft.corpus.PdfWriter.build(label)
          case _ => graft.corpus.PdfWriter.build(label, withSignature = true)
        }
        (f"pdf://sig/$i%03d", new java.sql.Timestamp(0L), pdf, "en")
      }
      Pipeline.run(rows.toDF("url", "warc_ts", "html", "lang")).toDF()
        .select(col("url"), col("signatureStatus").as("signature_status"),
          size(col("signatures")).as("n_digital"))
        .orderBy(col("url"))
    }),

    Query("resumable_lineage", (s, dir) => {
      val out = java.nio.file.Files.createTempDirectory("graft_lineage_").toString
      val corpus = CorpusGen.generate(s, 400, partitions = 8).toDF()
      ops.Checkpoint.runResumable(corpus, out, nBuckets = 8, runId = "verify")
      ops.Checkpoint.metrics(s, out)
        .select(col("bucket"), col("docCount"), col("okCount"),
          col("failCount"), col("emptyCount"), col("inputBytes"))
        .orderBy(col("bucket"))
    }),

    Query("streaming_extract", (s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft_stream_q_").toString
      CorpusGen.generate(s, 200, partitions = 2).toDF()
        .write.mode("append").parquet(s"$root/in")
      val q = graft.streaming.StreamingExtract.start(
        s, s"$root/in", s"$root/out", s"$root/ckpt")
      q.awaitTermination()
      s.read.parquet(s"$root/out/data")
        .select(col("url"), col("status"), col("format"),
          length(col("fullText")).as("text_chars"))
        .orderBy(col("url"))
    }))
}
