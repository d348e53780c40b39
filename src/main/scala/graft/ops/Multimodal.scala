package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing for training-data pipelines: image/audio/
  * video payloads ride as opaque `binary` columns with typed metadata
  * structs; decode / feature-extract / resize / frame-sample run as
  * batched per-partition stages.
  *
  * IMAGE decode is REAL: the JDK's built-in `javax.imageio` readers
  * (PNG/JPEG/GIF/BMP/TIFF/WBMP — no external libraries) decode the
  * payload, and width/height/mean-luma/histogram/average-hash are
  * computed from actual pixels. AUDIO metadata and PCM level stats are
  * REAL too: `javax.sound.sampled.AudioSystem` (also JDK built-in)
  * parses WAV/AIFF/AU headers — encoding, sample rate, channels, bit
  * depth, frame count, duration — and the PCM frames feed RMS/peak
  * stats. Payloads neither family can read (video, compressed audio,
  * corrupt bytes) fall back to deterministic stubs with
  * `decoded = false` on the feature row — the pipeline shape stays
  * total. Video remains the one genuinely stubbed modality (the JDK
  * ships no video codec); its plumbing (frame sampling, metadata) is
  * the real contract with stubbed byte-slicing. */
object Multimodal {

  // ImageIO's default ImageInputStream cache writes temp files; 32
  // executor threads decoding tiny in-memory payloads want the heap path
  javax.imageio.ImageIO.setUseCache(false)

  final case class MediaMeta(mime: String, width: Int, height: Int,
      channels: Int, durationMs: Long)
  final case class MediaRow(id: Long, payload: Array[Byte], meta: MediaMeta)
  final case class ImageFeatures(id: Long, width: Int, height: Int,
      srcWidth: Int, srcHeight: Int, decoded: Boolean,
      meanLuma: Double, histogram: Seq[Long], ahash: Long)

  /** Sniff media type from magic bytes
    * (PNG/JPEG/GIF/RIFF-WebP/RIFF-WAV/AIFF/AU/MP4). */
  def sniffMime(bytes: Array[Byte]): String = {
    if (bytes == null || bytes.length < 12) return "application/octet-stream"
    def at(i: Int, v: Int): Boolean = (bytes(i) & 0xFF) == v
    if (at(0, 0x89) && at(1, 'P') && at(2, 'N') && at(3, 'G')) "image/png"
    else if (at(0, 0xFF) && at(1, 0xD8)) "image/jpeg"
    else if (at(0, 'G') && at(1, 'I') && at(2, 'F')) "image/gif"
    else if (at(0, 'R') && at(1, 'I') && at(2, 'F') && at(3, 'F') &&
             at(8, 'W') && at(9, 'E') && at(10, 'B') && at(11, 'P')) "image/webp"
    else if (at(0, 'R') && at(1, 'I') && at(2, 'F') && at(3, 'F') &&
             at(8, 'W') && at(9, 'A') && at(10, 'V') && at(11, 'E')) "audio/wav"
    else if (at(0, 'F') && at(1, 'O') && at(2, 'R') && at(3, 'M') &&
             at(8, 'A') && at(9, 'I') && at(10, 'F')) "audio/aiff"
    else if (at(0, '.') && at(1, 's') && at(2, 'n') && at(3, 'd')) "audio/basic"
    else if (at(4, 'f') && at(5, 't') && at(6, 'y') && at(7, 'p')) "video/mp4"
    else "application/octet-stream"
  }

  /** Decode an image payload with the JDK's built-in readers. Returns
    * null when the bytes are not a decodable image (ImageIO probes
    * registered readers by content) — callers fall back to the stub so
    * the partition map stays total over mixed-media tables. */
  def decodeImage(payload: Array[Byte]): java.awt.image.BufferedImage = {
    if (payload == null || payload.length < 8) null
    else
      try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
      catch { case _: Exception => null } // truncated/corrupt payloads
  }

  /** Nearest-neighbor grayscale resample of a decoded image to a w×h
    * luma plane (integer Rec.601 weights — deterministic, no float
    * rounding; values 0-255). The downsample-before-featurize step every
    * image pipeline runs so feature cost is O(w·h), not O(megapixels). */
  def lumaPlane(img: java.awt.image.BufferedImage, w: Int, h: Int): Array[Int] = {
    val sw = img.getWidth
    val sh = img.getHeight
    val out = new Array[Int](w * h)
    var y = 0
    while (y < h) {
      val sy = y * sh / h
      var x = 0
      while (x < w) {
        val rgb = img.getRGB(x * sw / w, sy)
        val r = (rgb >> 16) & 0xFF
        val g = (rgb >> 8) & 0xFF
        val b = rgb & 0xFF
        out(y * w + x) = (r * 299 + g * 587 + b * 114) / 1000
        x += 1
      }
      y += 1
    }
    out
  }

  /** 64-bit average hash (aHash): 8×8 block means over the luma plane,
    * bit set where the block mean ≥ the global mean of the 64 blocks.
    * The standard perceptual-dedup baseline (DCT pHash is a drop-in
    * upgrade on the same plane). */
  def averageHash(px: Array[Int], w: Int, h: Int): Long = {
    if (w < 8 || h < 8) return 0L
    val blocks = new Array[Long](64)
    val counts = new Array[Long](64)
    var y = 0
    while (y < h) {
      val by = y * 8 / h
      var x = 0
      while (x < w) {
        val bi = by * 8 + x * 8 / w
        blocks(bi) += px(y * w + x)
        counts(bi) += 1
        x += 1
      }
      y += 1
    }
    val means = Array.tabulate(64)(i =>
      if (counts(i) == 0) 0.0 else blocks(i).toDouble / counts(i))
    val mean = means.sum / 64
    var hash = 0L
    var i = 0
    while (i < 64) {
      if (means(i) >= mean) hash |= (1L << i)
      i += 1
    }
    hash
  }

  /** STUB decode: deterministic fake "pixels" derived from payload bytes
    * — the fallback plane for payloads ImageIO cannot read (audio/video/
    * corrupt), keeping the feature stage total and deterministic. */
  def decodeImageStub(payload: Array[Byte], w: Int, h: Int): Array[Int] = {
    val out = new Array[Int](w * h)
    if (payload == null || payload.isEmpty) return out
    var i = 0
    while (i < out.length) {
      out(i) = payload(i % payload.length) & 0xFF
      i += 1
    }
    out
  }

  /** Feature extraction over a media table: per-partition batched map
    * (the mapInPandas analog — decode context and feature loops live in
    * the partition closure, never a per-row UDF). Decodes REAL pixels
    * via ImageIO; undecodable payloads take the deterministic stub plane
    * and report decoded = false. */
  def imageFeatures(media: Dataset[MediaRow], w: Int = 32, h: Int = 32): Dataset[ImageFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { rows =>
      rows.map { r =>
        val img = decodeImage(r.payload)
        val (px, srcW, srcH, decoded) =
          if (img != null) (lumaPlane(img, w, h), img.getWidth, img.getHeight, true)
          else (decodeImageStub(r.payload, w, h), 0, 0, false)
        var sum = 0L
        val hist = new Array[Long](8)
        var i = 0
        while (i < px.length) {
          sum += px(i)
          hist(px(i) >> 5) += 1
          i += 1
        }
        val mean = if (px.length == 0) 0.0 else sum.toDouble / px.length
        ImageFeatures(r.id, w, h, srcW, srcH, decoded, mean, hist.toSeq,
          averageHash(px, w, h))
      }
    }
  }

  // ------------------------------------------------------------- audio

  final case class AudioFeatures(id: Long, decoded: Boolean, encoding: String,
      sampleRate: Double, channels: Int, sampleSizeBits: Int, frames: Long,
      durationMs: Long, rms: Double, peak: Double)

  /** REAL audio metadata + PCM level stats via the JDK's built-in
    * `javax.sound.sampled.AudioSystem` (WAV/AIFF/AU — no external
    * libraries, the audio analog of the ImageIO path): encoding, sample
    * rate, channel count, bit depth, frame count and duration come from
    * the parsed header; RMS and peak level (normalized to [0, 1]) from
    * the decoded PCM frames (8-bit unsigned and 16-bit signed, either
    * endianness — the encodings AudioSystem ships readers for). Stats
    * read at most `maxFrames` frames so one pathological payload cannot
    * blow a task's memory. Returns null when the bytes are not a
    * parseable audio file — callers fall back to [[audioStub]]. */
  def decodeAudioFeatures(id: Long, payload: Array[Byte],
      maxFrames: Int = 1 << 20): AudioFeatures = {
    if (payload == null || payload.length < 12) return null
    val ais =
      try javax.sound.sampled.AudioSystem
        .getAudioInputStream(new java.io.ByteArrayInputStream(payload))
      catch { case _: Exception => return null } // not audio / truncated
    try {
      val fmt = ais.getFormat
      val frames = ais.getFrameLength
      val durationMs =
        if (frames >= 0 && fmt.getFrameRate > 0)
          math.round(frames * 1000.0 / fmt.getFrameRate)
        else -1L
      val enc = fmt.getEncoding.toString
      val bits = fmt.getSampleSizeInBits
      val pcm = enc == "PCM_SIGNED" || enc == "PCM_UNSIGNED"
      var sumSq = 0.0
      var peak = 0.0
      var nSamples = 0L
      if (pcm && (bits == 8 || bits == 16) && fmt.getFrameSize > 0) {
        val toRead = math.min(
          if (frames >= 0) frames else Long.MaxValue, maxFrames.toLong)
        val buf = new Array[Byte]((toRead * fmt.getFrameSize).toInt)
        var off = 0
        var n = 0
        while (off < buf.length && n >= 0) {
          n = ais.read(buf, off, buf.length - off)
          if (n > 0) off += n
        }
        val bytesPerSample = bits / 8
        var i = 0
        while (i + bytesPerSample <= off) {
          val v =
            if (bits == 8) {
              if (enc == "PCM_UNSIGNED") ((buf(i) & 0xFF) - 128) / 128.0
              else buf(i) / 128.0
            } else {
              val raw =
                if (fmt.isBigEndian) (buf(i) << 8) | (buf(i + 1) & 0xFF)
                else (buf(i + 1) << 8) | (buf(i) & 0xFF)
              val s = raw.toShort.toInt
              (if (enc == "PCM_UNSIGNED") ((raw & 0xFFFF) - 32768) else s) / 32768.0
            }
          val a = math.abs(v)
          if (a > peak) peak = a
          sumSq += v * v
          nSamples += 1
          i += bytesPerSample
        }
      }
      val rms = if (nSamples == 0) 0.0 else math.sqrt(sumSq / nSamples)
      AudioFeatures(id, decoded = true, enc, fmt.getSampleRate.toDouble,
        fmt.getChannels, bits, frames, durationMs, rms, peak)
    } catch { case _: Exception => null }
    finally ais.close()
  }

  /** Deterministic fallback row for payloads AudioSystem cannot parse
    * (images, video, corrupt bytes): byte-derived level stats, header
    * fields zeroed, `decoded = false` — keeps the feature stage total
    * over mixed-media tables, mirroring [[decodeImageStub]]. */
  def audioStub(id: Long, payload: Array[Byte]): AudioFeatures = {
    var sumSq = 0.0
    var peak = 0.0
    val n = if (payload == null) 0 else payload.length
    var i = 0
    while (i < n) {
      val v = (payload(i) & 0xFF) / 255.0
      if (v > peak) peak = v
      sumSq += v * v
      i += 1
    }
    val rms = if (n == 0) 0.0 else math.sqrt(sumSq / n)
    AudioFeatures(id, decoded = false, "unknown", 0.0, 0, 0, -1L, -1L, rms, peak)
  }

  /** Audio feature extraction over a media table: per-partition batched
    * map (same contract as [[imageFeatures]] — decode context lives in
    * the partition closure, never a per-row UDF). Real WAV/AIFF/AU
    * parsing; unparseable payloads take the deterministic stub row. */
  def audioFeatures(media: Dataset[MediaRow],
      maxFrames: Int = 1 << 20): Dataset[AudioFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { rows =>
      rows.map { r =>
        val f = decodeAudioFeatures(r.id, r.payload, maxFrames)
        if (f != null) f else audioStub(r.id, r.payload)
      }
    }
  }

  /** Deterministic PCM16-LE WAV writer (RIFF/fmt/data) — fixture
    * generator for the audio stage and its specs, built independently of
    * AudioSystem so the parse path is tested against a second
    * implementation of the format. `samples` are channel-interleaved;
    * length must be a multiple of `channels`. */
  def synthWavPcm16(sampleRate: Int, channels: Int,
      samples: Array[Short]): Array[Byte] = {
    require(channels > 0 && samples.length % channels == 0,
      "samples must be channel-interleaved")
    val dataLen = samples.length * 2
    val bb = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
      .put("WAVE".getBytes("US-ASCII"))
    bb.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1) // PCM
      .putShort(channels.toShort)
      .putInt(sampleRate)
      .putInt(sampleRate * channels * 2) // byte rate
      .putShort((channels * 2).toShort)  // block align
      .putShort(16)                      // bits per sample
    bb.put("data".getBytes("US-ASCII")).putInt(dataLen)
    var i = 0
    while (i < samples.length) { bb.putShort(samples(i)); i += 1 }
    bb.array()
  }

  // ------------------------------------------------------------- video

  final case class VideoFeatures(id: Long, parsed: Boolean, brand: String,
      timescale: Long, durationMs: Long, nTracks: Int, hasVideo: Boolean,
      hasAudio: Boolean, width: Int, height: Int, videoCodec: String,
      audioCodec: String)

  /** REAL video CONTAINER metadata via the from-scratch ISO-BMFF box
    * parser ([[Mp4Meta]]): brand, duration, track count/kinds, visual
    * dimensions, sample-format fourcc — everything a pipeline filters or
    * partitions on — from actual bytes. Frame DECODE remains the one
    * stubbed step (the JDK ships no video codec); [[sampleFrames]] keeps
    * that contract. Unparseable payloads yield `parsed = false` rows. */
  def videoFeatures(media: Dataset[MediaRow]): Dataset[VideoFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { rows =>
      rows.map { r =>
        val m = Mp4Meta.parse(r.payload)
        if (m == null)
          VideoFeatures(r.id, parsed = false, "", 0L, -1L, 0,
            hasVideo = false, hasAudio = false, 0, 0, "", "")
        else
          VideoFeatures(r.id, parsed = true, m.brand, m.timescale,
            m.durationMs, m.nTracks, m.hasVideo, m.hasAudio,
            m.width, m.height, m.videoCodec, m.audioCodec)
      }
    }
  }

  /** STUB resize: nearest-neighbor downsample of the fake luma plane —
    * the partitioning/batching contract of a real resize kernel. */
  def resizeStub(px: Array[Int], w0: Int, h0: Int, w1: Int, h1: Int): Array[Int] = {
    val out = new Array[Int](w1 * h1)
    if (w0 <= 0 || h0 <= 0) return out
    var y = 0
    while (y < h1) {
      val sy = y * h0 / h1
      var x = 0
      while (x < w1) {
        out(y * w1 + x) = px(sy * w0 + (x * w0 / w1))
        x += 1
      }
      y += 1
    }
    out
  }

  final case class FrameRow(id: Long, frameIndex: Int, tsMs: Long,
      payload: Array[Byte])

  /** Frame sampling for video payloads: one row per sampled timestamp
    * (every `everyMs` through meta.durationMs), fanning out via a typed
    * flatMap. The decode is STUBBED — each frame's payload is a
    * deterministic slice of the source bytes — but the shape (explode to
    * frame grain, frame index + event-time column for downstream
    * windowing, per-partition batching) is the real pipeline contract. */
  def sampleFrames(media: Dataset[MediaRow], everyMs: Long = 1000L): Dataset[FrameRow] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.flatMap { r =>
      val dur = math.max(0L, r.meta.durationMs)
      val n = (dur / everyMs).toInt
      (0 until n).map { k =>
        val ts = k * everyMs
        val bytes = r.payload
        val slice =
          if (bytes == null || bytes.isEmpty) Array.emptyByteArray
          else {
            val start = ((ts.toDouble / math.max(1L, dur)) * bytes.length).toInt
              .min(math.max(0, bytes.length - 16))
            java.util.Arrays.copyOfRange(bytes, start, math.min(bytes.length, start + 16))
          }
        FrameRow(r.id, k, ts, slice)
      }
    }
  }
}
