package graft.ops

import graft.extract.Formats
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing: image/audio/video payloads ride as opaque
  * `binary` columns with typed metadata structs; decode / feature-extract /
  * resize / frame-sample run as batched per-partition transforms (the Scala
  * analog of `mapInPandas` — one JVM call per batch, vectorizable).
  *
  * Two codecs behind one [[Multimodal.MediaCodec]] seam:
  *   - [[Multimodal.ImageIoCodec]] — REAL image decode via the JDK's
  *     `javax.imageio` (PNG/JPEG/BMP/GIF/WBMP): true width/height/channels,
  *     mean luma (Rec.601), and a 64-bit dHash perceptual fingerprint
  *     (public difference-hash technique). Headless, no external libraries.
  *   - [[Multimodal.FakeCodec]] — deterministic pseudo-features from a
  *     mod-(2^31-1) byte fold, reproducible in plain SQL: the
  *     oracle-checkable path, and the stand-in for formats the JDK cannot
  *     decode (video and compressed audio stay stubbed — no codec libs in
  *     this container; PCM audio is REAL via [[Multimodal.WavCodec]]).
  */
object Multimodal {

  // ImageIO's default stream cache writes a TEMP FILE per encode/decode —
  // measured 2× the whole resize cost in a tight loop; in-memory streams only
  javax.imageio.ImageIO.setUseCache(false)

  /** Media rows use the core model's sidecar shape ([[graft.model.MediaRef]],
    * docler's `Image`, docler_api/routes.py:62-64).
    */
  type MediaRow = graft.model.MediaRef
  val MediaRow = graft.model.MediaRef

  final case class MediaFeatures(
      doc_id: String,
      media_ref: String,
      mime_type: String,
      byte_len: Int,
      width: Int,
      height: Int,
      channels: Int,
      mean_luma: Double,
      phash: Long,
      decode_error: String)

  /** The decode seam: (mime, bytes) → (width, height, channels, mean_luma,
    * phash); throws on undecodable payloads (callers turn that into
    * `decode_error` rows, never task failures).
    */
  trait MediaCodec extends Serializable {
    def decode(mime: String, bytes: Array[Byte]): (Int, Int, Int, Double, Long)
  }

  /** Decode any supported raster: ImageIO formats plus lossless WebP via
    * the from-scratch VP8L decoder (the JDK ships no WebP reader; lossy
    * VP8 stays a documented non-goal). Null when unreadable — ALL image
    * read paths (features, resize, min-size) must go through here so
    * image/webp payloads compose like any other format.
    */
  def readImage(bytes: Array[Byte]): java.awt.image.BufferedImage = {
    if (bytes == null || bytes.isEmpty) return null
    if (graft.extract.WebpL.isVp8l(bytes)) {
      val (argb, w, h) = graft.extract.WebpL.decode(bytes)
      val bi = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_ARGB)
      bi.setRGB(0, 0, w, h, argb, 0, w)
      bi
    } else javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
  }

  /** REAL image decode via the JDK's javax.imageio (headless): PNG, JPEG,
    * BMP, GIF, WBMP — plus lossless WebP through [[readImage]]. Features:
    *   - width/height/channels from the decoded raster,
    *   - mean_luma = mean Rec.601 luma over a ≤64×64 sample grid in [0,1]
    *     (rounded to 4 decimals, like the stub),
    *   - phash = 64-bit dHash (difference hash, public technique): 9×8
    *     grayscale grid by box-averaging, bit b set when cell (x,y) is
    *     brighter than cell (x+1,y).
    * Deterministic: pure pixel arithmetic on the decoded raster.
    */
  object ImageIoCodec extends MediaCodec {
    System.setProperty("java.awt.headless", "true")

    def decode(mime: String, bytes: Array[Byte]): (Int, Int, Int, Double, Long) = {
      if (bytes == null || bytes.isEmpty) throw new IllegalArgumentException("empty payload")
      val img = readImage(bytes)
      if (img == null) throw new IllegalArgumentException(s"undecodable payload ($mime)")
      val w = img.getWidth
      val h = img.getHeight
      val channels = img.getColorModel.getNumComponents
      // mean luma over a bounded sample grid (≤64 samples per axis — ceil
      // division — so huge images stay O(1))
      val sx = math.max(1, (w + 63) / 64)
      val sy = math.max(1, (h + 63) / 64)
      var sum = 0.0
      var n = 0
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          sum += luma(img.getRGB(x, y)); n += 1
          x += sx
        }
        y += sy
      }
      val meanLuma = math.rint(sum / n / 255.0 * 10000) / 10000
      (w, h, channels, meanLuma, dHash(img))
    }

    private def luma(rgb: Int): Double = {
      val r = (rgb >> 16) & 0xff
      val g = (rgb >> 8) & 0xff
      val b = rgb & 0xff
      0.299 * r + 0.587 * g + 0.114 * b
    }

    /** 64-bit dHash: box-average the image into a 9×8 grayscale grid, set
      * bit (y*8 + x) when grid(x,y) > grid(x+1,y). Cell brightness is an
      * INTEGER milli-luma sum compared by cross-multiplication — exact, so a
      * uniform image hashes to 0 (double averaging over unequal cell sizes
      * would manufacture spurious gradient bits from rounding). Sampling
      * inside a cell is stride-bounded (≤32 per axis) so giant images decode
      * in O(1) pixels.
      */
    def dHash(img: java.awt.image.BufferedImage): Long = {
      val gw = 9
      val gh = 8
      val w = img.getWidth
      val h = img.getHeight
      val sums = Array.ofDim[Long](gh, gw)
      val counts = Array.ofDim[Long](gh, gw)
      var gy = 0
      while (gy < gh) {
        var gx = 0
        while (gx < gw) {
          val x0 = gx * w / gw; val x1 = math.min(w, math.max(x0 + 1, (gx + 1) * w / gw))
          val y0 = gy * h / gh; val y1 = math.min(h, math.max(y0 + 1, (gy + 1) * h / gh))
          val sx = math.max(1, (x1 - x0 + 31) / 32)
          val sy = math.max(1, (y1 - y0 + 31) / 32)
          var s = 0L
          var n = 0L
          var y = y0
          while (y < y1) {
            var x = x0
            while (x < x1) {
              val rgb = img.getRGB(x, y)
              s += 299L * ((rgb >> 16) & 0xff) + 587L * ((rgb >> 8) & 0xff) + 114L * (rgb & 0xff)
              n += 1
              x += sx
            }
            y += sy
          }
          sums(gy)(gx) = s
          counts(gy)(gx) = n
          gx += 1
        }
        gy += 1
      }
      var bits = 0L
      var y = 0
      while (y < gh) {
        var x = 0
        while (x < 8) {
          // avg(x) > avg(x+1) via cross-multiplication (exact integers;
          // sums ≤ 255000·1024 and counts ≤ 1024, far inside a long)
          if (sums(y)(x) * counts(y)(x + 1) > sums(y)(x + 1) * counts(y)(x))
            bits |= 1L << (y * 8 + x)
          x += 1
        }
        y += 1
      }
      bits
    }
  }

  /** STUB codec: deterministic pseudo-decode for payloads the JDK cannot
    * decode (audio/video) and for oracle checking. All arithmetic is mod
    * 2^31-1 (no 64-bit wraparound), so the features are reproducible in ANSI
    * SQL engines.
    */
  object FakeCodec extends MediaCodec {
    final val P: Long = 2147483647L // 2^31 - 1

    /** (h*31 + byte) mod P fold — the same shape as TextAnalysis.fingerprint. */
    def foldHash(bytes: Array[Byte]): Long = {
      var h = 0L
      var i = 0
      while (i < bytes.length) { h = (h * 31 + (bytes(i) & 0xffL)) % P; i += 1 }
      h
    }

    def decode(mime: String, bytes: Array[Byte]): (Int, Int, Int, Double, Long) = {
      if (bytes == null || bytes.isEmpty) throw new IllegalArgumentException("empty payload")
      val h = foldHash(bytes)
      val width = 16 + (h % 1024).toInt
      val height = 16 + ((h / 1024) % 1024).toInt
      val channels = if (mime.contains("png")) 4 else 3
      val luma = math.rint(((h / 16) % 256).toDouble / 255.0 * 10000) / 10000
      (width, height, channels, luma, h)
    }
  }

  /** Feature extraction over the media table: batched per-partition map.
    * Decode failures (including payload-less refs, where the source carried
    * only a reference) become rows with `decode_error` set (lineage-friendly),
    * never task failures. Default codec is the portable stub (oracle path);
    * pass [[ImageIoCodec]] for real image decode.
    */
  def extractFeatures(
      media: Dataset[MediaRow],
      codec: MediaCodec = FakeCodec): Dataset[MediaFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { rows =>
      rows.map { r =>
        try {
          val (w, h, c, luma, ph) = codec.decode(r.mime_type, r.content)
          MediaFeatures(r.doc_id, r.media_ref, r.mime_type,
            if (r.content == null) 0 else r.content.length, w, h, c, luma, ph, "")
        } catch {
          case e @ (_: Exception | _: StackOverflowError) =>
            MediaFeatures(r.doc_id, r.media_ref, r.mime_type,
              if (r.content == null) 0 else r.content.length,
              0, 0, 0, 0.0, 0L, Formats.describe(e))
        }
      }
    }
  }

  /** Frame-sampling plumbing for video-shaped payloads: emits one row per
    * sampled frame index (uniform stride), payload decode stubbed (the
    * pseudo frame count is the portable byte fold). Shows the 1→N generator
    * shape with bounded output.
    */
  def sampleFrames(media: Dataset[MediaRow], everyNth: Int = 10, maxFrames: Int = 8): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.flatMap { r =>
      val bytes = if (r.content == null) Array.emptyByteArray else r.content
      val pseudoFrameCount = 1 + ((FakeCodec.foldHash(bytes) + bytes.length) % 300).toInt
      (0 until pseudoFrameCount by everyNth).take(maxFrames).map { f =>
        (r.doc_id, r.media_ref, f, pseudoFrameCount)
      }
    }.toDF("doc_id", "media_ref", "frame_idx", "n_frames")
  }

  /** Header-only image dimensions (no raster decode — ImageIO readers parse
    * just the header for getWidth/getHeight): O(header bytes) per image.
    * None when no installed reader recognizes the payload.
    */
  def imageDims(bytes: Array[Byte]): Option[(Int, Int)] = {
    if (bytes == null || bytes.isEmpty) return None
    // lossless WebP: dims live 28 bits past the VP8L signature
    graft.extract.WebpL.dims(bytes) match {
      case some @ Some(_) => return some
      case None => ()
    }
    val iis = javax.imageio.ImageIO.createImageInputStream(
      new java.io.ByteArrayInputStream(bytes))
    try {
      val readers = javax.imageio.ImageIO.getImageReaders(iis)
      if (!readers.hasNext) None
      else {
        val r = readers.next()
        try { r.setInput(iis); Some((r.getWidth(0), r.getHeight(0))) }
        catch { case _: Exception => None }
        finally r.dispose()
      }
    } finally iis.close()
  }

  /** image_min_size analog (mistral_provider/provider.py:51-68, where the
    * filter runs service-side): keep media whose decoded minimum dimension
    * is at least `minSize` pixels. Dimensions come from the image HEADER
    * only — a full-raster decode per row just to read (w, h) would be
    * orders-of-magnitude wasted work at scale. Unrecognizable payloads are
    * dropped — they cannot demonstrate their size (route them through
    * [[extractFeatures]]' decode_error rows first when they must be audited).
    */
  def filterMinSize(media: Dataset[MediaRow], minSize: Int): Dataset[MediaRow] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { rows =>
      rows.filter { r =>
        imageDims(r.content).exists { case (w, h) => math.min(w, h) >= minSize }
      }
    }
  }

  /** Synchronous area-averaging downscale on raw int rasters.
    *
    * Replaces the round-2 `Image.getScaledInstance(SCALE_AREA_AVERAGING)` +
    * `drawImage(…, null)` pair, which is an ASYNC producer chain: with a
    * null ImageObserver the draw can return before the filtered pixels are
    * produced, yielding silently blank output under concurrency (classic AWT
    * pitfall — caught by the round-3 thread probe, now locked by the
    * mean-luma preservation test). `drawImage` from a BufferedImage SOURCE
    * is synchronous by contract, so the one conversion here is safe, and the
    * averaging loop runs on the backing int array — no per-pixel
    * ColorModel/allocation churn (the naive bulk `getRGB` on byte rasters
    * allocates per pixel and collapses under 16 threads).
    */
  private def boxAverageScale(
      img: java.awt.image.BufferedImage, nw: Int, nh: Int): java.awt.image.BufferedImage = {
    val w = img.getWidth
    val h = img.getHeight
    val rgbImg =
      if (img.getType == java.awt.image.BufferedImage.TYPE_INT_RGB) img
      else {
        val t = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
        val g = t.createGraphics()
        try g.drawImage(img, 0, 0, null) finally g.dispose() // synchronous: BufferedImage source
        t
      }
    val src = rgbImg.getRaster.getDataBuffer
      .asInstanceOf[java.awt.image.DataBufferInt].getData
    val out = new java.awt.image.BufferedImage(nw, nh, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val dst = out.getRaster.getDataBuffer.asInstanceOf[java.awt.image.DataBufferInt].getData
    var dy = 0
    while (dy < nh) {
      val y0 = dy * h / nh
      val y1 = math.max(y0 + 1, (dy + 1) * h / nh)
      var dx = 0
      while (dx < nw) {
        val x0 = dx * w / nw
        val x1 = math.max(x0 + 1, (dx + 1) * w / nw)
        var r = 0L; var g = 0L; var b = 0L; var n = 0
        var y = y0
        while (y < y1) {
          val row = y * w
          var x = x0
          while (x < x1) {
            val p = src(row + x)
            r += (p >> 16) & 0xff; g += (p >> 8) & 0xff; b += p & 0xff; n += 1
            x += 1
          }
          y += 1
        }
        dst(dy * nw + dx) =
          (((r / n).toInt & 0xff) << 16) | (((g / n).toInt & 0xff) << 8) | ((b / n).toInt & 0xff)
        dx += 1
      }
      dy += 1
    }
    out
  }

  final case class ResizedMedia(
      doc_id: String,
      media_ref: String,
      mime_type: String,
      content: Array[Byte],
      width: Int,
      height: Int,
      resized: Boolean,
      error: String)

  /** Real image downscale — the reference's PNG→WebP downscale rewrite
    * (utils.py:101-128): images whose longest side exceeds `maxDim` are
    * scaled down (area-averaging) and re-encoded as REAL WebP via the
    * from-scratch VP8L codec ([[graft.extract.WebpL]] — lossless, where
    * the reference's PIL path is lossy quality=20, a documented fidelity
    * UPGRADE rather than a byte match); smaller images and undecodable
    * payloads pass through unchanged with an error note.
    */
  def resizeImages(media: Dataset[MediaRow], maxDim: Int = 256): Dataset[ResizedMedia] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { rows =>
      rows.map { r =>
        try {
          val img = readImage(r.content)
          if (img == null) throw new IllegalArgumentException(s"undecodable payload (${r.mime_type})")
          val (w, h) = (img.getWidth, img.getHeight)
          if (math.max(w, h) <= maxDim) {
            ResizedMedia(r.doc_id, r.media_ref, r.mime_type, r.content, w, h, resized = false, "")
          } else {
            val scale = maxDim.toDouble / math.max(w, h)
            val nw = math.max(1, math.round(w * scale).toInt)
            val nh = math.max(1, math.round(h * scale).toInt)
            val scaled = boxAverageScale(img, nw, nh)
            val argb = new Array[Int](nw * nh)
            scaled.getRGB(0, 0, nw, nh, argb, 0, nw)
            val webp = graft.extract.WebpL.encode(argb, nw, nh)
            ResizedMedia(r.doc_id, r.media_ref, "image/webp", webp, nw, nh,
              resized = true, "")
          }
        } catch {
          case e @ (_: Exception | _: StackOverflowError) =>
            ResizedMedia(r.doc_id, r.media_ref, r.mime_type, r.content, 0, 0,
              resized = false, Formats.describe(e))
        }
      }
    }
  }

  // ------------------------------------------------------------- audio (REAL)

  final case class AudioFeatures(
      doc_id: String,
      media_ref: String,
      mime_type: String,
      byte_len: Int,
      sample_rate: Int,
      channels: Int,
      bits: Int,
      n_frames: Int,
      duration_ms: Int,
      rms: Double,
      peak: Double,
      decode_error: String)

  /** REAL audio parsing via the JDK's `javax.sound.sampled` (WAV/AIFF/AU,
    * PCM): container header → format facts, PCM frames → integer-exact
    * signal features. This retires the round-2 "audio stubbed" limitation
    * for the formats the JDK ships parsers for (compressed codecs — MP3,
    * AAC, Opus — remain honestly out: no codec libs in this container).
    *
    * Features are computed from EXACT integer accumulators (sum of squared
    * samples as a Long, max |sample| as an Int) and only converted to
    * floating point in one final IEEE-deterministic expression — so a SQL
    * oracle reproduces them bit-for-bit:
    *   rms  = round(sqrt(sum_sq / (n · 2^30)), 4)   (16-bit full scale 32768)
    *   peak = round(max_abs / 32768, 4)
    *
    * `maxFrames` bounds the scan for scale honesty (a 10-hour recording
    * costs O(maxFrames), and the cap is recorded by n_frames > scanned).
    */
  object WavCodec extends Serializable {
    def decode(bytes: Array[Byte], maxFrames: Int = 1 << 22):
        (Int, Int, Int, Int, Int, Double, Double) = {
      if (bytes == null || bytes.isEmpty) throw new IllegalArgumentException("empty payload")
      val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(bytes))
      try {
        val fmt = in.getFormat
        if (fmt.getEncoding != javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED ||
            fmt.getSampleSizeInBits != 16)
          throw new IllegalArgumentException(
            s"unsupported encoding ${fmt.getEncoding}/${fmt.getSampleSizeInBits}-bit (PCM_SIGNED 16 only)")
        val channels = fmt.getChannels
        val sampleRate = math.round(fmt.getSampleRate)
        val totalFrames = in.getFrameLength.toInt
        val frameBytes = fmt.getFrameSize
        val scanFrames = math.min(totalFrames, maxFrames)
        val buf = new Array[Byte](scanFrames * frameBytes)
        var off = 0
        while (off < buf.length) {
          val r = in.read(buf, off, buf.length - off)
          if (r < 0) throw new IllegalArgumentException(
            s"truncated PCM payload at frame ${off / frameBytes}/$scanFrames")
          off += r
        }
        var sumSq = 0L
        var maxAbs = 0
        var i = 0
        val big = fmt.isBigEndian
        while (i + 1 < buf.length) {
          val s =
            if (big) ((buf(i) << 8) | (buf(i + 1) & 0xff)).toShort.toInt
            else ((buf(i + 1) << 8) | (buf(i) & 0xff)).toShort.toInt
          sumSq += s.toLong * s.toLong
          val a = math.abs(s)
          if (a > maxAbs) maxAbs = a
          i += 2
        }
        val nSamples = buf.length / 2
        val rms =
          if (nSamples == 0) 0.0
          else math.rint(math.sqrt(sumSq.toDouble / (nSamples.toDouble * 1073741824.0)) * 10000) / 10000
        val peak = math.rint(maxAbs.toDouble / 32768.0 * 10000) / 10000
        val durationMs = math.round(totalFrames.toDouble / sampleRate * 1000).toInt
        (sampleRate, channels, 16, totalFrames, durationMs, rms, peak)
      } finally in.close()
    }

    /** Encode 16-bit signed PCM mono samples as a WAVE container (the
      * test-fixture inverse of [[decode]]).
      */
    def encodeWav(samples: Array[Short], sampleRate: Int): Array[Byte] = {
      val fmt = new javax.sound.sampled.AudioFormat(
        sampleRate.toFloat, 16, 1, /* signed = */ true, /* bigEndian = */ false)
      val pcm = new Array[Byte](samples.length * 2)
      var i = 0
      while (i < samples.length) {
        pcm(i * 2) = (samples(i) & 0xff).toByte
        pcm(i * 2 + 1) = ((samples(i) >> 8) & 0xff).toByte
        i += 1
      }
      val stream = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, samples.length.toLong)
      val bos = new java.io.ByteArrayOutputStream(pcm.length + 64)
      javax.sound.sampled.AudioSystem.write(stream,
        javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    }
  }

  /** Audio feature extraction over a media table — same batched shape and
    * decode_error channel as [[extractFeatures]].
    */
  def extractAudioFeatures(media: Dataset[MediaRow]): Dataset[AudioFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { rows =>
      rows.map { r =>
        val len = if (r.content == null) 0 else r.content.length
        try {
          val (sr, ch, bits, frames, durMs, rms, peak) = WavCodec.decode(r.content)
          AudioFeatures(r.doc_id, r.media_ref, r.mime_type, len,
            sr, ch, bits, frames, durMs, rms, peak, "")
        } catch {
          case e @ (_: Exception | _: StackOverflowError) =>
            AudioFeatures(r.doc_id, r.media_ref, r.mime_type, len,
              0, 0, 0, 0, 0, 0.0, 0.0, Formats.describe(e))
        }
      }
    }
  }

  /** One row of container-level PDF facts (get_pdf_info analog over real
    * bytes — [[graft.extract.PdfBytes]]); decode_error carries parse
    * failures as row data, never task failures.
    */
  final case class PdfInfoRow(
      doc_id: String,
      media_ref: String,
      byte_len: Int,
      page_count: Int,
      is_encrypted: Boolean,
      width0: Double,
      height0: Double,
      title: String,
      author: String,
      decode_error: String)

  /** Byte-real `get_pdf_info` over a media table (pdf_utils.py:187-256):
    * page count via the page tree, first-page dims, Info-dict
    * title/author, /Encrypt flag — same batched mapPartitions shape and
    * error channel as [[extractFeatures]]/[[extractAudioFeatures]]. O(file)
    * per row, no content decoding.
    */
  def extractPdfInfo(media: Dataset[MediaRow]): Dataset[PdfInfoRow] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { rows =>
      rows.map { r =>
        val len = if (r.content == null) 0 else r.content.length
        graft.extract.PdfBytes.pdfInfo(if (r.content == null) Array.emptyByteArray else r.content) match {
          case Right(info) =>
            val (w0, h0) = info.pageDims.headOption
              .map(d => (d.width, d.height)).getOrElse((0.0, 0.0))
            PdfInfoRow(r.doc_id, r.media_ref, len, info.pageCount,
              info.isEncrypted, w0, h0, info.title, info.author, "")
          case Left(err) =>
            PdfInfoRow(r.doc_id, r.media_ref, len, 0, is_encrypted = false,
              0.0, 0.0, "", "", err)
        }
      }
    }
  }

  /** Deterministic ASCII-safe payload bytes for documents-derived media —
    * THE single definition of the convention shared by
    * [[docDerivedMediaTable]], `SparkEntry.docsFromDocuments`, and the SQL
    * oracles (which fold CHARACTERS, so non-ASCII must be squashed to '?'
    * on both sides for byte/char equivalence).
    */
  private val NonAscii = java.util.regex.Pattern.compile("[^ -~]")

  def docPayload(id: String, source: String): Array[Byte] =
    s"$id:${NonAscii.matcher(source).replaceAll("?")}".getBytes("UTF-8")

  /** Which documents-derived media rows a doc carries: every third doc a
    * png (img-0.png), every sixth additionally a jpg (img-1.jpg).
    */
  def docDerivedRefs(id: Long): Seq[(String, String)] =
    (if (id % 3 == 0) Seq("img-0.png" -> "image/png") else Nil) ++
      (if (id % 6 == 0) Seq("img-1.jpg" -> "image/jpeg") else Nil)

  /** A deterministic media table DERIVED FROM the relational `documents`
    * table — the oracle-checkable input for the feature/frame plumbing,
    * since the real extraction sidecar's synthetic corpus is not visible to
    * the SQL oracle.
    */
  def docDerivedMediaTable(documents: DataFrame): Dataset[MediaRow] = {
    val spark = documents.sparkSession
    import spark.implicits._
    documents.select(col("doc_id").cast("string").as("doc_id"), col("source"))
      .as[(String, String)]
      .flatMap { case (id, source) =>
        val payload = docPayload(id, source)
        docDerivedRefs(id.toLong).map { case (ref, mime) => MediaRow(id, ref, mime, payload) }
      }
  }
}
