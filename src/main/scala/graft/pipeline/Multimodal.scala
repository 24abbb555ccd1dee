package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.HashImpl

/** Multimodal column plumbing (SURVEY.md §2 P13): media payloads ride as
  * opaque `binary` columns next to typed metadata, and feature extraction
  * runs as partition-local batch decode. The Spark-side machinery —
  * schema, encoders, batch shape, partition preservation — is genuine,
  * and so are all three modalities: IMAGE decodes through javax.imageio
  * (PNG/JPEG/GIF/BMP ship in the JDK), AUDIO through javax.sound.sampled
  * (WAV/PCM and AIFF ship in the JDK), and VIDEO as MJPEG-in-AVI — a
  * RIFF container walk (the same chunk protocol as WAV) whose '00dc'
  * frame chunks are plain JPEGs, each decoded by javax.imageio. A codec
  * the JDK genuinely lacks (H.264 etc.) degrades to the deterministic
  * fallback features, same contract as a corrupt image payload.
  */
object Multimodal extends graft.QueryModule {

  case class MediaMeta(width: Int, height: Int, sampleRateHz: Int)
  case class MediaItem(id: Long, modality: String, payload: Array[Byte], meta: MediaMeta)
  case class MediaFeatures(id: Long, modality: String, dim: Int, features: Array[Float])

  /** Wrap the documents table as a media table: payload = UTF-8 bytes
    * standing in for encoded image/audio/video frames. */
  def mediaFromDocuments(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id").as("id"),
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (col("doc_id") % 3 + 1).cast("int")).as("modality"),
      col("text").cast("binary").as("payload"),
      struct(
        (col("n_chars") % 640).cast("int").as("width"),
        (col("n_chars") % 480).cast("int").as("height"),
        lit(16000).as("sampleRateHz")).as("meta"))

  /** REAL image decode via javax.imageio (in the JDK — no external
    * codec needed for PNG/JPEG/GIF/BMP). Features: [width, height,
    * mean R, mean G, mean B (unit-scaled), 4-bin luminance histogram],
    * zero-padded/truncated to `dim`. Returns None when the payload is
    * not a decodable image (caller falls back to the stub so a corrupt
    * file degrades instead of failing the job — the triage pass P17
    * flags those upstream). */
  private[graft] def decodeImage(payload: Array[Byte], dim: Int): Option[Array[Float]] = {
    // Try, not a null check: ImageIO.read returns null only for
    // UNRECOGNIZED formats — a payload with valid PNG/JPEG magic but a
    // corrupt body THROWS IOException, which must also degrade to the
    // stub instead of failing the task.
    val img = scala.util.Try(
      javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload)))
      .toOption.flatMap(Option(_)).orNull
    if (img == null) None
    else {
      val w = img.getWidth
      val h = img.getHeight
      var sr = 0L; var sg = 0L; var sb = 0L
      val lum = new Array[Long](4)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val p = img.getRGB(x, y)
          val r = (p >> 16) & 0xff; val g = (p >> 8) & 0xff; val b = p & 0xff
          sr += r; sg += g; sb += b
          lum(math.min(3, ((r * 299 + g * 587 + b * 114) / 1000) / 64)) += 1L
          x += 1
        }
        y += 1
      }
      val n = (w.toLong * h).toFloat
      val base = Array[Float](w.toFloat, h.toFloat,
        sr / n / 255f, sg / n / 255f, sb / n / 255f,
        lum(0) / n, lum(1) / n, lum(2) / n, lum(3) / n)
      Some(java.util.Arrays.copyOf(base, dim))
    }
  }

  /** REAL audio decode via javax.sound.sampled (in the JDK — WAV/PCM
    * and AIFF need no external codec). Features: [sample rate (Hz),
    * channels, frame count, duration (s), RMS, peak, zero-crossing
    * rate, mean] over unit-scaled 16-bit samples, zero-padded/truncated
    * to `dim`. Returns None when the payload is not decodable audio
    * (wrong magic, corrupt body, or a non-16-bit encoding) — the caller
    * falls back to the stub so a bad file degrades instead of failing
    * the job, same contract as [[decodeImage]]. */
  private[graft] def decodeAudio(payload: Array[Byte], dim: Int): Option[Array[Float]] =
    scala.util.Try {
      val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(payload))
      try {
        val fmt = in.getFormat
        require(fmt.getSampleSizeInBits == 16 &&
          fmt.getEncoding == javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED,
          s"only 16-bit signed PCM decoded, got $fmt")
        val bytes = in.readAllBytes()
        val n = bytes.length / 2
        var i = 0
        var sum = 0.0; var sumSq = 0.0; var peak = 0.0; var zc = 0L; var prev = 0
        while (i < n) {
          val lo = if (fmt.isBigEndian) bytes(2 * i + 1) else bytes(2 * i)
          val hi = if (fmt.isBigEndian) bytes(2 * i) else bytes(2 * i + 1)
          val s = ((hi << 8) | (lo & 0xff)).toShort.toInt
          val v = s / 32768.0
          sum += v; sumSq += v * v
          if (math.abs(v) > peak) peak = math.abs(v)
          if (i > 0 && ((s >= 0) != (prev >= 0))) zc += 1
          prev = s
          i += 1
        }
        val frames = n / math.max(1, fmt.getChannels)
        val base = Array[Float](
          fmt.getSampleRate,
          fmt.getChannels.toFloat,
          frames.toFloat,
          (frames / fmt.getSampleRate.toDouble).toFloat,
          if (n == 0) 0f else math.sqrt(sumSq / n).toFloat,
          peak.toFloat,
          if (n == 0) 0f else (zc.toDouble / n).toFloat,
          if (n == 0) 0f else (sum / n).toFloat)
        java.util.Arrays.copyOf(base, dim)
      } finally in.close()
    }.toOption

  /** Deterministic tiny WAV: `nSamples` of 16-bit mono PCM noise derived
    * from splitmix64(seed, i), written through the REAL WAVE encoder —
    * gives every 'audio' row a genuine decodable payload (the audio twin
    * of [[pngPayload]]). */
  def wavPayload(seed: Long, nSamples: Int = 160, rateHz: Int = 16000): Array[Byte] = {
    val pcm = new Array[Byte](nSamples * 2)
    var i = 0
    while (i < nSamples) {
      val s = (HashImpl.splitmix64(seed * 1000003L + i) % 32768L).toShort
      pcm(2 * i) = (s & 0xff).toByte
      pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
      i += 1
    }
    val fmt = new javax.sound.sampled.AudioFormat(rateHz.toFloat, 16, 1, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, nSamples.toLong)
    val out = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, out)
    out.toByteArray
  }

  // ---- video: MJPEG-in-AVI via RIFF walk + javax.imageio -------------

  private def u32le(v: Long): Array[Byte] = Array(
    (v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
    ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
  private def readU32le(b: Array[Byte], off: Int): Long =
    (b(off) & 0xffL) | ((b(off + 1) & 0xffL) << 8) |
      ((b(off + 2) & 0xffL) << 16) | ((b(off + 3) & 0xffL) << 24)
  private def fourcc(b: Array[Byte], off: Int): String =
    new String(b, off, 4, "ISO-8859-1")

  /** One deterministic JPEG frame: pixels from splitmix64(seed, f, x, y)
    * through the REAL JPEG encoder. */
  private def jpegFrame(seed: Long, frame: Int, w: Int, h: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        img.setRGB(x, y,
          (HashImpl.splitmix64(seed * 131071L + frame * 16384L + y * w + x) & 0xffffff).toInt)
        x += 1
      }
      y += 1
    }
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", out)
    out.toByteArray
  }

  /** Deterministic tiny MJPEG-in-AVI: a spec-shaped RIFF('AVI ') with
    * hdrl (avih + one 'vids'/'MJPG' stream) and a movi LIST whose
    * '00dc' chunks are real JPEGs — the video twin of [[pngPayload]] /
    * [[wavPayload]]. Any MJPEG-capable player decodes these bytes. */
  def aviPayload(seed: Long, nFrames: Int = 4, w: Int = 16, h: Int = 16,
                 fps: Int = 25): Array[Byte] = {
    def cc(s: String) = s.getBytes("ISO-8859-1")
    def chunk(id: String, data: Array[Byte]): Array[Byte] = {
      val pad = if (data.length % 2 == 1) Array(0.toByte) else Array.empty[Byte]
      cc(id) ++ u32le(data.length.toLong) ++ data ++ pad
    }
    def list(kind: String, data: Array[Byte]): Array[Byte] =
      cc("LIST") ++ u32le(data.length + 4L) ++ cc(kind) ++ data
    val frames = (0 until nFrames).map(f => jpegFrame(seed, f, w, h))
    // avih: 14 little-endian u32s (56 bytes)
    val avih = chunk("avih",
      u32le(1000000L / fps) ++ u32le(0) ++ u32le(0) ++ u32le(0x10) /* HASINDEX off, flags */ ++
        u32le(nFrames.toLong) ++ u32le(0) ++ u32le(1) ++ u32le(0) ++
        u32le(w.toLong) ++ u32le(h.toLong) ++ u32le(0) ++ u32le(0) ++ u32le(0) ++ u32le(0))
    // strh: 'vids'/'MJPG', rate/scale = fps/1
    val strh = chunk("strh",
      cc("vids") ++ cc("MJPG") ++ u32le(0) ++ u32le(0) ++ u32le(0) ++
        u32le(1) ++ u32le(fps.toLong) ++ u32le(0) ++ u32le(nFrames.toLong) ++
        u32le(frames.map(_.length).max.toLong) ++ u32le(0xffffffffL) ++ u32le(0) ++
        Array[Byte](0, 0, 0, 0, (w & 0xff).toByte, (w >> 8).toByte,
          (h & 0xff).toByte, (h >> 8).toByte))
    // strf: BITMAPINFOHEADER with biCompression 'MJPG'
    val strf = chunk("strf",
      u32le(40) ++ u32le(w.toLong) ++ u32le(h.toLong) ++
        Array[Byte](1, 0, 24, 0) ++ cc("MJPG") ++ u32le(w.toLong * h * 3) ++
        u32le(0) ++ u32le(0) ++ u32le(0) ++ u32le(0))
    val hdrl = list("hdrl", avih ++ list("strl", strh ++ strf))
    val movi = list("movi", frames.flatMap(f => chunk("00dc", f)).toArray)
    val body = cc("AVI ") ++ hdrl ++ movi
    cc("RIFF") ++ u32le(body.length.toLong) ++ body
  }

  /** REAL video decode: RIFF/AVI chunk walk (header metadata from avih,
    * frame payloads from the movi LIST's 00dc/00db chunks), each frame
    * through javax.imageio's JPEG decoder. Features: [frame count,
    * width, height, fps, mean luminance, motion (mean |Δ luminance|
    * between consecutive frames), mean R, mean G, mean B] — luminance
    * unit-scaled. Returns None for anything that is not a decodable
    * MJPEG AVI (wrong magic, truncated chunks, non-JPEG frames): the
    * caller degrades to the fallback, same contract as [[decodeImage]]. */
  private[graft] def decodeVideo(payload: Array[Byte], dim: Int): Option[Array[Float]] =
    scala.util.Try {
      require(payload.length >= 12 && fourcc(payload, 0) == "RIFF" &&
        fourcc(payload, 8) == "AVI ", "not a RIFF/AVI container")
      var usPerFrame = 0L; var width = 0L; var height = 0L
      val frames = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
      // chunk walk: [id][u32 size][data, even-padded]; LIST chunks nest
      def walk(from: Int, to: Int, inMovi: Boolean): Unit = {
        var pos = from
        while (pos + 8 <= to) {
          val id = fourcc(payload, pos)
          val size = readU32le(payload, pos + 4).toInt
          val dataStart = pos + 8
          id match {
            case "LIST" =>
              val kind = fourcc(payload, dataStart)
              walk(dataStart + 4, dataStart + size, inMovi || kind == "movi")
            case "avih" =>
              usPerFrame = readU32le(payload, dataStart)
              width = readU32le(payload, dataStart + 32)
              height = readU32le(payload, dataStart + 36)
            case "00dc" | "00db" if inMovi && size > 0 =>
              frames += java.util.Arrays.copyOfRange(payload, dataStart, dataStart + size)
            case _ => ()
          }
          pos = dataStart + size + (size & 1) // chunks are even-aligned
        }
      }
      walk(12, payload.length, inMovi = false)
      require(frames.nonEmpty, "no movi frames")
      var sr = 0.0; var sg = 0.0; var sb = 0.0
      var lumSum = 0.0; var motion = 0.0; var prevLum = Double.NaN
      var decoded = 0
      frames.foreach { f =>
        val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(f))
        require(img != null, "undecodable frame")
        val w = img.getWidth; val h = img.getHeight
        var fr = 0L; var fg = 0L; var fb = 0L
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val p = img.getRGB(x, y)
            fr += (p >> 16) & 0xff; fg += (p >> 8) & 0xff; fb += p & 0xff
            x += 1
          }
          y += 1
        }
        val n = w.toDouble * h * 255.0
        val lum = (fr * 299L + fg * 587L + fb * 114L) / 1000.0 / n
        sr += fr / n; sg += fg / n; sb += fb / n
        lumSum += lum
        if (!prevLum.isNaN) motion += math.abs(lum - prevLum)
        prevLum = lum
        decoded += 1
      }
      val fps = if (usPerFrame > 0) 1e6 / usPerFrame else 0.0
      val base = Array[Float](decoded.toFloat, width.toFloat, height.toFloat,
        fps.toFloat, (lumSum / decoded).toFloat,
        (if (decoded > 1) motion / (decoded - 1) else 0.0).toFloat,
        (sr / decoded).toFloat, (sg / decoded).toFloat, (sb / decoded).toFloat)
      java.util.Arrays.copyOf(base, dim)
    }.toOption

  /** Deterministic fallback for payloads NO JDK codec can decode (e.g.
    * H.264 video) and the degradation target for corrupt image/audio/
    * video payloads: feature[i] = unit-scaled bits of
    * fnv64(payload ++ [i]). Same payload → same features, any executor. */
  private def stubFeatures(payload: Array[Byte], dim: Int): Array[Float] = {
    val f = new Array[Float](dim)
    var i = 0
    while (i < dim) {
      val h = HashImpl.fnv64(payload :+ i.toByte)
      f(i) = (h.toDouble / 9.223372036854776e18).toFloat
      i += 1
    }
    f
  }

  private def decodeBatch(batch: Seq[MediaItem], dim: Int): Seq[MediaFeatures] =
    batch.map { m =>
      val feats = m.modality match {
        case "image" => decodeImage(m.payload, dim).getOrElse(stubFeatures(m.payload, dim))
        case "audio" => decodeAudio(m.payload, dim).getOrElse(stubFeatures(m.payload, dim))
        case "video" => decodeVideo(m.payload, dim).getOrElse(stubFeatures(m.payload, dim))
        case _ => stubFeatures(m.payload, dim)
      }
      MediaFeatures(m.id, m.modality, dim, feats)
    }

  /** Deterministic tiny PNG: a w×h image whose pixels derive from
    * splitmix64(seed, x, y), encoded through the REAL PNG encoder —
    * gives every 'image' row a genuine decodable payload. */
  def pngPayload(seed: Long, w: Int = 4, h: Int = 4): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        img.setRGB(x, y, (HashImpl.splitmix64(seed * 31L + y * w + x) & 0xffffff).toInt)
        x += 1
      }
      y += 1
    }
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out)
    out.toByteArray
  }

  /** Media table whose image rows carry REAL PNG payloads, audio rows
    * REAL WAV payloads, and video rows REAL MJPEG-AVI payloads (all
    * encoded on the executors, partition-local). */
  def mediaWithRealImages(spark: SparkSession, docs: DataFrame): Dataset[MediaItem] = {
    import spark.implicits._
    mediaFromDocuments(docs).as[MediaItem].mapPartitions(_.map { m =>
      m.modality match {
        case "image" => m.copy(payload = pngPayload(m.id))
        case "audio" => m.copy(payload = wavPayload(m.id))
        case "video" => m.copy(payload = aviPayload(m.id, nFrames = 3, w = 8, h = 8))
        case _ => m
      }
    })
  }

  /** Partition-local batched feature extraction. `mapPartitions` +
    * `grouped(batchSize)` mirrors the arrow-batch shape of a vectorized
    * python UDF: the decoder amortizes per-batch setup, partitioning is
    * untouched (no shuffle), and memory is bounded by batchSize. */
  def extractFeatures(media: Dataset[MediaItem], dim: Int = 16,
                      batchSize: Int = 64): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions(it => it.grouped(batchSize).flatMap(b => decodeBatch(b, dim)))
  }

  /** End-to-end: documents → media table → features, as a DataFrame. */
  def documentFeatures(spark: SparkSession, docs: DataFrame, dim: Int = 16): DataFrame = {
    import spark.implicits._
    extractFeatures(mediaFromDocuments(docs).as[MediaItem], dim).toDF()
  }

  // ---- codec-free byte-level triage (REAL, not stubbed) ---------------

  private val pngMagic = Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a)
  private val wavMagic = "RIFF0000WAVE".getBytes("ISO-8859-1") // RIFF<size>WAVE

  /** Media table whose payloads carry real container headers per
    * modality (image→PNG, audio→RIFF/WAVE, video→headerless), so the
    * sniffing path is exercised against genuine magic numbers. */
  def mediaWithHeaders(docs: DataFrame): DataFrame =
    mediaFromDocuments(docs).withColumn("payload",
      when(col("modality") === "image", concat(lit(pngMagic), col("payload")))
        .when(col("modality") === "audio", concat(lit(wavMagic), col("payload")))
        .otherwise(col("payload")))

  /** Byte-level features every 100 TB triage pass wants BEFORE decoding:
    * container format (magic numbers), Shannon entropy (flags already-
    * compressed/encrypted payloads), size, and a coarse histogram
    * summary — all codegen expressions at scan speed. */
  def binaryFeatures(spark: SparkSession, docs: DataFrame): DataFrame = {
    mediaWithHeaders(docs)
      .select(col("id"), col("modality"),
        call_function("sniff_format", col("payload")).as("format"),
        round(call_function("byte_entropy", col("payload")), 4).as("entropy"),
        length(col("payload")).cast("long").as("n_bytes"),
        round(element_at(call_function("byte_histogram16", col("payload")), 7), 4)
          .as("hist_ascii_6x")) // bin 6 = 0x60..0x6f, lowercase-letter-heavy
      .orderBy("id")
  }

  /** Frame-sampling plan (the video path of the multimodal brief):
    * decide WHICH frames to decode before any codec runs — uniform
    * stride over the frame count derived from payload duration
    * (synthetic: 1 byte ≡ 1 ms). Pure integer arithmetic + explode, so
    * the selection plan is oracle-exact even though decode itself is
    * stubbed; a real pipeline feeds these (id, frame_idx) pairs to the
    * batched decoder in [[extractFeatures]]. All division is integer
    * DIV to stay engine-portable. */
  def frameSamplePlan(docs: DataFrame, k: Int = 8, fps: Int = 25): DataFrame =
    mediaFromDocuments(docs)
      .filter(col("modality") === "video")
      .select(col("id"), length(col("payload")).cast("long").as("dur_ms"))
      .withColumn("total_frames",
        greatest(expr(s"dur_ms * $fps DIV 1000"), lit(1L)))
      .withColumn("step", greatest(expr(s"total_frames DIV $k"), lit(1L)))
      .select(col("id"), col("total_frames"),
        explode(expr("sequence(CAST(0 AS BIGINT), total_frames - 1, step)")).as("frame_idx"))
      .withColumn("ts_ms", expr(s"frame_idx * 1000 DIV $fps"))

  case class ResizedImage(id: Long, origW: Int, origH: Int, w: Int, h: Int,
                          outBytes: Int, payload: Array[Byte])

  /** P47: batched image RESIZE — the remaining member of the brief's
    * decode / feature-extract / resize / frame-sample multimodal
    * quartet. Nearest-neighbor via an explicit integer pixel map
    * (`src = (dst · orig) / target`, floor) rather than Graphics2D
    * scaling: AWT's interpolated rendering is platform/toolkit
    * dependent, the manual map is bit-deterministic on any JVM — the
    * property every other operator's oracle depends on. Re-encoded as
    * PNG (lossless, so the pinned-pixel spec can read exact values
    * back). Same partition-local `mapPartitions` + `grouped` batch
    * shape as the decoder: no shuffle, memory bounded by batchSize.
    * Corrupt/undecodable payloads degrade to a sentinel row
    * (origW = -1, payload empty) instead of failing the task. */
  def resizeImages(media: Dataset[MediaItem], targetW: Int, targetH: Int,
                   batchSize: Int = 64): Dataset[ResizedImage] = {
    import media.sparkSession.implicits._
    require(targetW > 0 && targetH > 0, "resize target must be positive")
    media.filter(_.modality == "image").mapPartitions(_.grouped(batchSize).flatMap(_.map { m =>
      scala.util.Try {
        val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(m.payload))
        require(img != null)
        val out = new java.awt.image.BufferedImage(targetW, targetH,
          java.awt.image.BufferedImage.TYPE_INT_RGB)
        var y = 0
        while (y < targetH) {
          var x = 0
          while (x < targetW) {
            out.setRGB(x, y,
              img.getRGB(x * img.getWidth / targetW, y * img.getHeight / targetH))
            x += 1
          }
          y += 1
        }
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(out, "png", bos)
        val bytes = bos.toByteArray
        ResizedImage(m.id, img.getWidth, img.getHeight, targetW, targetH,
          bytes.length, bytes)
      }.getOrElse(ResizedImage(m.id, -1, -1, targetW, targetH, 0, Array.emptyByteArray))
    }))
  }

  case class AudioFrame(id: Long, frame_idx: Int, n_samples: Int,
                        energy: Long, zc: Int, silent: Boolean)

  /** P52: FRAME-level audio analysis — the per-window twin of P13's
    * whole-clip statistics, and the standard speech-pipeline front end
    * (voice-activity detection runs on exactly these): the clip splits
    * into fixed windows of `frameSamples`, each scored by integer
    * energy (sum of squared 16-bit samples — exact in a long), zero
    * crossings, and a silence verdict (`energy < threshold · n`,
    * integer compare). One media row flatMaps to its frames inside the
    * batched partition-local decode — no shuffle; the frame stream is
    * the input to windowed aggregation downstream. Corrupt or
    * non-PCM16 payloads yield a single sentinel frame (idx = -1). */
  def audioFrames(media: Dataset[MediaItem], frameSamples: Int = 40,
                  silencePerSample: Long = 1000000L,
                  batchSize: Int = 64): Dataset[AudioFrame] = {
    import media.sparkSession.implicits._
    media.filter(_.modality == "audio").mapPartitions(_.grouped(batchSize).flatMap(_.flatMap { m =>
      scala.util.Try {
        val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(m.payload))
        try {
          val fmt = in.getFormat
          require(fmt.getSampleSizeInBits == 16 &&
            fmt.getEncoding == javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED)
          val bytes = in.readAllBytes()
          val n = bytes.length / 2
          val samples = new Array[Int](n)
          var i = 0
          while (i < n) {
            val lo = if (fmt.isBigEndian) bytes(2 * i + 1) else bytes(2 * i)
            val hi = if (fmt.isBigEndian) bytes(2 * i) else bytes(2 * i + 1)
            samples(i) = ((hi << 8) | (lo & 0xff)).toShort.toInt
            i += 1
          }
          (0 until n by frameSamples).zipWithIndex.map { case (start, idx) =>
            val end = math.min(start + frameSamples, n)
            var energy = 0L; var zc = 0; var j = start
            while (j < end) {
              energy += samples(j).toLong * samples(j)
              if (j > start && ((samples(j) >= 0) != (samples(j - 1) >= 0))) zc += 1
              j += 1
            }
            AudioFrame(m.id, idx, end - start, energy, zc,
              energy < silencePerSample * (end - start))
          }
        } finally in.close()
      }.getOrElse(Seq(AudioFrame(m.id, -1, 0, 0L, 0, silent = true)))
    }))
  }

  case class ImageHash(id: Long, ahash: Long, dhash: Long, ok: Boolean)

  /** P51: PERCEPTUAL image hashes — the image twin of text simhash
    * (P4), and the standard image-dedup device: aHash (64 bits, pixel
    * vs mean over an 8×8 grayscale thumbnail) and dHash (horizontal
    * gradient signs over 9×8). All arithmetic is integer (integer-luma
    * grayscale, the P47 nearest-neighbor pixel map, floor mean), so
    * hashes are bit-identical on any JVM. Same partition-local batched
    * decode shape as P13/P47; corrupt payloads degrade to ok=false. */
  def imageHashes(media: Dataset[MediaItem], batchSize: Int = 64): Dataset[ImageHash] = {
    import media.sparkSession.implicits._
    media.filter(_.modality == "image").mapPartitions(_.grouped(batchSize).flatMap(_.map { m =>
      scala.util.Try {
        val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(m.payload))
        require(img != null)
        def gray(w: Int, h: Int): Array[Int] = {
          val g = new Array[Int](w * h)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val rgb = img.getRGB(x * img.getWidth / w, y * img.getHeight / h)
              g(y * w + x) = (((rgb >> 16) & 0xff) * 299 +
                ((rgb >> 8) & 0xff) * 587 + (rgb & 0xff) * 114) / 1000
              x += 1
            }
            y += 1
          }
          g
        }
        val g8 = gray(8, 8)
        val mean = g8.foldLeft(0L)(_ + _) / 64
        var ah = 0L
        var i = 0
        while (i < 64) { if (g8(i) > mean) ah |= (1L << i); i += 1 }
        val g9 = gray(9, 8)
        var dh = 0L
        var y = 0
        while (y < 8) {
          var x = 0
          while (x < 8) {
            if (g9(y * 9 + x) > g9(y * 9 + x + 1)) dh |= (1L << (y * 8 + x))
            x += 1
          }
          y += 1
        }
        ImageHash(m.id, ah, dh, ok = true)
      }.getOrElse(ImageHash(m.id, 0L, 0L, ok = false))
    }))
  }

  /** P51 near-dup pairs over [[imageHashes]]: candidates from 8×8-bit
    * aHash BANDS (pigeonhole: any pair within hamming 7 shares a band;
    * wider radii are recall-lossy, the LSH convention), verified by
    * exact popcount hamming on both hashes. Buckets are capped with an
    * `observe`d truncation count — never silently. The structure is
    * simhashBuckets' (P4) applied to images: equi-join on a bounded
    * band key, nothing doc×doc. */
  def imageNearDupPairs(hashes: DataFrame, maxHamming: Int = 8,
                        maxBucket: Int = 200): DataFrame = {
    val banded = hashes.filter(col("ok"))
      .select(col("id"), explode(sequence(lit(0), lit(7))).as("band"), col("ahash"))
      .withColumn("bh", expr("shiftrightunsigned(ahash, cast(band * 8 as int)) & 255"))
      .drop("ahash")
    val buckets = banded.groupBy("band", "bh")
      .agg(sort_array(collect_list(col("id"))).as("ids"))
      .filter(size(col("ids")) > 1)
      .observe("image_phash_buckets",
        count(lit(1)).as("buckets"),
        sum(when(size(col("ids")) > maxBucket, 1L).otherwise(0L)).as("truncated_buckets"))
      .select(slice(col("ids"), 1, maxBucket).as("ids"))
    val pairs = buckets
      .select(explode(call_function("pair_expand", col("ids"))).as("p"))
      .select(col("p.a").as("id_a"), col("p.b").as("id_b"))
      .distinct()
    val h = hashes.filter(col("ok"))
    pairs
      .join(h.select(col("id").as("id_a"), col("ahash").as("ah_a"), col("dhash").as("dh_a")), Seq("id_a"))
      .join(h.select(col("id").as("id_b"), col("ahash").as("ah_b"), col("dhash").as("dh_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        expr("bit_count(ah_a ^ ah_b)").cast("long").as("ham_a"),
        expr("bit_count(dh_a ^ dh_b)").cast("long").as("ham_d"))
      .filter(col("ham_a") <= maxHamming)
  }

  val queries: Map[String, Q] = Map(
    // oracle-exact: DuckDB parses payload bytes out of hex(BLOB), the
    // magic-number CASE mirrors BinImpl.sniffFormat, and entropy folds
    // -= p*log2(p) over histogram() keys (sorted ascending, like the
    // 0..255 bin walk). MultimodalSpec additionally pins exact values.
    "mm_binary_features" -> ((spark, dir) => {
      binaryFeatures(spark, graft.Tables(spark, dir).documents.filter(col("doc_id") < 500))
    }),
    "mm_frame_sample" -> ((spark, dir) => {
      frameSamplePlan(graft.Tables(spark, dir).documents.filter(col("doc_id") < 500))
        .orderBy("id", "frame_idx")
    }),
    // P47: real PNGs resized 4×4 → 2×2 on the executors, then decoded
    // BACK through the P13 feature extractor — the round trip proves
    // the resized payloads are themselves valid images. Rows-only (PNG
    // codec); PipelineSpec pins exact nearest-neighbor pixels.
    // r16 input spread (Tables.documentsSpread) for resize + decode:
    // per-row pixel work dominates — interleaved A/B 1.15×/2.1×
    // (bench_control_r16b/c.json); phash (0.66×) and video (0.88×)
    // measured SLOWER with the spread and keep the bare scan.
    "mm_image_resize" -> ((spark, dir) => {
      import spark.implicits._
      val docs = graft.Tables(spark, dir).documentsSpread.filter(col("doc_id") < 300)
      val resized = resizeImages(mediaWithRealImages(spark, docs), 2, 2)
      extractFeatures(
        resized.filter(_.origW > 0)
          .map(r => MediaItem(r.id, "image", r.payload, MediaMeta(r.w, r.h, 0))),
        dim = 9).toDF()
        .select(col("id"),
          element_at(col("features"), 1).cast("long").as("w"),
          element_at(col("features"), 2).cast("long").as("h"),
          round(element_at(col("features"), 3), 4).as("mean_r"),
          round(element_at(col("features"), 4), 4).as("mean_g"),
          round(element_at(col("features"), 5), 4).as("mean_b"))
        .orderBy("id")
    }),
    // P52: frame-level audio analysis over real WAVs — per-clip rollup
    // of the frame stream (all-integer frame stats, so the aggregate
    // is engine-deterministic). Rows-only (WAV codec); PipelineSpec
    // pins exact frame energies/ZCR/silence on a hand-built signal.
    "mm_audio_frames" -> ((spark, dir) => {
      import spark.implicits._
      val docs = graft.Tables(spark, dir).documents.filter(col("doc_id") < 300)
      val media = mediaFromDocuments(docs).as[MediaItem]
        .map(m => m.copy(modality = "audio", payload = wavPayload(m.id)))
      audioFrames(media).toDF()
        .groupBy("id")
        .agg(count(lit(1)).cast("long").as("n_frames"),
          sum(when(col("silent"), 1L).otherwise(0L)).as("n_silent"),
          sum(col("zc")).as("total_zc"),
          max(col("energy")).as("max_energy"))
        .orderBy("id")
    }),
    // P51: perceptual-hash image dedup over real PNGs. Payload seed is
    // id % 50, so every image has exact twins (hamming 0) the band
    // join must surface — the planted-duplicate design. Rows-only (PNG
    // codec); PipelineSpec pins identical/perturbed/unrelated behavior.
    "mm_image_phash" -> ((spark, dir) => {
      import spark.implicits._
      val docs = graft.Tables(spark, dir).documents.filter(col("doc_id") < 300)
      val media = mediaFromDocuments(docs).as[MediaItem]
        .map(m => m.copy(modality = "image", payload = pngPayload(m.id % 50, 8, 8)))
      imageNearDupPairs(imageHashes(media).toDF(), maxHamming = 8)
        .orderBy("id_a", "id_b").limit(200)
    }),
    // P13 real path: encode genuine PNGs on the executors, decode them
    // back through javax.imageio, extract pixel statistics. PNG encode/
    // decode is not SQL-expressible → rows-only; PipelineSpec pins the
    // statistics of a hand-built 2×2 image. lum_total must be 1.0 on
    // every row (the luminance histogram is a distribution).
    "mm_image_decode" -> ((spark, dir) => {
      val docs = graft.Tables(spark, dir).documentsSpread.filter(col("doc_id") < 300)
      extractFeatures(mediaWithRealImages(spark, docs), dim = 9).toDF()
        .filter(col("modality") === "image")
        .select(col("id"),
          element_at(col("features"), 1).cast("long").as("w"),
          element_at(col("features"), 2).cast("long").as("h"),
          round(element_at(col("features"), 3), 4).as("mean_r"),
          round(element_at(col("features"), 4), 4).as("mean_g"),
          round(element_at(col("features"), 5), 4).as("mean_b"),
          round(element_at(col("features"), 6) + element_at(col("features"), 7) +
            element_at(col("features"), 8) + element_at(col("features"), 9), 2).as("lum_total"))
        .orderBy("id")
    }),
    // P13 audio path: encode genuine WAV/PCM on the executors, decode
    // back through javax.sound.sampled, extract signal statistics.
    // WAVE encode/decode is not SQL-expressible → rows-only;
    // PipelineSpec pins the statistics of a hand-built 4-sample WAV.
    "mm_audio_decode" -> ((spark, dir) => {
      val docs = graft.Tables(spark, dir).documents.filter(col("doc_id") < 300)
      extractFeatures(mediaWithRealImages(spark, docs), dim = 8).toDF()
        .filter(col("modality") === "audio")
        .select(col("id"),
          element_at(col("features"), 1).cast("long").as("rate_hz"),
          element_at(col("features"), 2).cast("long").as("channels"),
          element_at(col("features"), 3).cast("long").as("n_frames"),
          round(element_at(col("features"), 5), 4).as("rms"),
          round(element_at(col("features"), 6), 4).as("peak"),
          round(element_at(col("features"), 7), 4).as("zcr"))
        .orderBy("id")
    }),
    // P13 video path: encode genuine MJPEG-AVI containers on the
    // executors, decode back through the RIFF walk + javax.imageio per
    // frame. Container metadata (n_frames/w/h/fps) is bit-exact; pixel
    // statistics are JPEG-lossy, so only container fields are selected
    // here (PipelineSpec pins the pixel stats of a hand-built
    // solid-color AVI with tolerance). Rows-only: no SQL codec.
    "mm_video_decode" -> ((spark, dir) => {
      val docs = graft.Tables(spark, dir).documents.filter(col("doc_id") < 300)
      extractFeatures(mediaWithRealImages(spark, docs), dim = 9).toDF()
        .filter(col("modality") === "video")
        .select(col("id"),
          element_at(col("features"), 1).cast("long").as("n_frames"),
          element_at(col("features"), 2).cast("long").as("w"),
          element_at(col("features"), 3).cast("long").as("h"),
          element_at(col("features"), 4).cast("long").as("fps"),
          (element_at(col("features"), 5) > 0f && element_at(col("features"), 5) < 1f)
            .as("lum_in_unit_range"))
        .orderBy("id")
    }),
  )

  override val rowsOnly: Map[String, String] = Map(
    "mm_audio_decode" -> ("fake-codec: no DuckDB-side codec (real or fake) — no replay exists; " +
      "pinned-value spec (PipelineSpec)"),
    "mm_audio_frames" -> ("fake-codec: frame windows over fake PCM — no replay exists; " +
      "pinned-value spec"),
    "mm_image_decode" -> ("fake-codec: deterministic fake image decode — no replay exists; " +
      "pinned-value spec"),
    "mm_image_phash" -> ("fake-codec: perceptual hash over fake decode — no replay exists; " +
      "pinned-value spec"),
    "mm_image_resize" -> ("fake-codec: resize over fake decode — no replay exists; pinned-value " +
      "spec"),
    "mm_video_decode" -> ("fake-codec: frame-sample over fake video — no replay exists; " +
      "pinned-value spec"),
  )

  val oracles: Map[String, String] = Map(
    // byte-level triage replay: payload reconstructed per modality
    // (magic || text bytes), bytes recovered from hex(payload) pairs,
    // sniff as the same magic CASE, entropy as the ordered fold
    // h -= p*log2(p) over histogram()'s ascending keys (identical to
    // BinImpl.byteEntropy's 0..255 walk over nonzero bins).
    "mm_binary_features" ->
      """WITH m AS (
        |  SELECT doc_id AS id,
        |    CASE WHEN doc_id % 3 + 1 = 1 THEN 'image'
        |         WHEN doc_id % 3 + 1 = 2 THEN 'audio' ELSE 'video' END AS modality,
        |    CASE WHEN doc_id % 3 + 1 = 1 THEN '\x89PNG\x0D\x0A\x1A\x0A'::BLOB || encode(text)
        |         WHEN doc_id % 3 + 1 = 2 THEN 'RIFF0000WAVE'::BLOB || encode(text)
        |         ELSE encode(text) END AS payload
        |  FROM documents WHERE doc_id < 500),
        |h AS (
        |  SELECT id, modality, hex(payload) AS hx,
        |         octet_length(payload)::BIGINT AS n FROM m),
        |b AS (
        |  SELECT id, modality, hx, n,
        |    list_transform(range(0, n), bi ->
        |      (strpos('0123456789ABCDEF', hx[2*bi+1]) - 1) * 16 +
        |       strpos('0123456789ABCDEF', hx[2*bi+2]) - 1) AS byl
        |  FROM h),
        |hist AS (
        |  SELECT id, any_value(modality) AS modality, any_value(hx) AS hx,
        |         any_value(n) AS n, histogram(x.bv) AS hm,
        |         sum(CASE WHEN x.bv >= 96 AND x.bv <= 111 THEN 1 ELSE 0 END)::DOUBLE AS c6
        |  FROM b, LATERAL (SELECT unnest(byl) AS bv) x GROUP BY id)
        |SELECT id, modality,
        |  CASE
        |    WHEN substr(hx, 1, 16) = '89504E470D0A1A0A' THEN 'png'
        |    WHEN substr(hx, 1, 6) = 'FFD8FF' THEN 'jpeg'
        |    WHEN substr(hx, 1, 8) = '47494638' THEN 'gif'
        |    WHEN substr(hx, 1, 8) = '52494646' AND substr(hx, 17, 8) = '57415645' THEN 'wav'
        |    WHEN substr(hx, 1, 8) = '52494646' AND substr(hx, 17, 8) = '41564920' THEN 'avi'
        |    WHEN substr(hx, 1, 8) = '52494646' AND substr(hx, 17, 8) = '57454250' THEN 'webp'
        |    WHEN substr(hx, 9, 8) = '66747970' THEN 'mp4'
        |    WHEN substr(hx, 1, 6) = '494433' OR substr(hx, 1, 4) = 'FFFB' THEN 'mp3'
        |    WHEN substr(hx, 1, 8) = '1A45DFA3' THEN 'mkv'
        |    WHEN substr(hx, 1, 8) = '4F676753' THEN 'ogg'
        |    WHEN substr(hx, 1, 8) = '664C6143' THEN 'flac'
        |    WHEN substr(hx, 1, 8) = '25504446' THEN 'pdf'
        |    WHEN substr(hx, 1, 8) = '504B0304' THEN 'zip'
        |    WHEN substr(hx, 1, 4) = '1F8B' THEN 'gzip'
        |    ELSE 'unknown' END AS format,
        |  round(list_reduce(list_prepend(0.0::DOUBLE, list_transform(
        |      list_zip(map_keys(hm), map_values(hm)), kv ->
        |        (kv[2]::DOUBLE / n) * (log(kv[2]::DOUBLE / n) / log(2.0)))),
        |    (ea, ex) -> ea - ex), 4) AS entropy,
        |  n AS n_bytes,
        |  round(c6 / n, 4) AS hist_ascii_6x
        |FROM hist ORDER BY id""".stripMargin,

    // payload is the UTF-8 text bytes → strlen (DuckDB byte length)
    // mirrors length(binary); modality 'video' ⇔ doc_id % 3 = 2.
    "mm_frame_sample" ->
      """WITH v AS (
        |  SELECT doc_id AS id, CAST(strlen(text) AS BIGINT) AS dur_ms
        |  FROM documents WHERE doc_id < 500 AND doc_id % 3 = 2),
        |f AS (
        |  SELECT id, greatest(dur_ms * 25 // 1000, 1) AS total_frames,
        |         greatest(greatest(dur_ms * 25 // 1000, 1) // 8, 1) AS step
        |  FROM v),
        |g AS (
        |  SELECT id, total_frames,
        |         unnest(generate_series(0, total_frames - 1, step)) AS frame_idx
        |  FROM f)
        |SELECT id, total_frames, frame_idx, frame_idx * 1000 // 25 AS ts_ms
        |FROM g ORDER BY id, frame_idx""".stripMargin,
  )
}
