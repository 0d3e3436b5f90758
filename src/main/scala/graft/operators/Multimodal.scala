package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing (SURVEY.md §2b): treat image/audio/video as
  * opaque `binary` columns with typed metadata, and run decode /
  * feature-extract as distributed per-partition batch transforms.
  *
  * Decode is REAL for JPEG/PNG/GIF/BMP/TIFF ([[decodeImage]]/
  * [[aHashImage]]: `javax.imageio` ships those readers in every JDK —
  * no native codec needed) and for PPM/P6 + canonical PCM WAV
  * ([[decodePpm]]/[[resizePpm]]/[[decodeWavPcm]]: pure-JVM parsing,
  * exact channel/sample stats). Only formats whose codecs the JDK
  * genuinely lacks (MP3/AAC audio, video containers) keep the
  * [[stubDecode]]/[[stubResize]] stand-ins at the identical
  * partition-batched boundary: swap the parser call, nothing else
  * changes.
  */
object Multimodal {

  /** Schema contract for a multimodal asset row. */
  val assetSchema: StructType = StructType(Seq(
    StructField("asset_id", LongType, nullable = false),
    StructField("payload", BinaryType, nullable = true),
    StructField("media_type", StringType, nullable = false),
    StructField("n_bytes", LongType, nullable = true),
    StructField("magic_hex", StringType, nullable = true)))

  /** Wrap raw (id, bytes) into the asset contract: typed metadata columns
    * computed from the payload — byte length, 4-byte magic prefix (hex),
    * media type sniffed from the magic. Pure column expressions. */
  def toAssets(df: DataFrame, idCol: String, payloadCol: String): DataFrame =
    df.select(
      col(idCol).cast("long").as("asset_id"),
      col(payloadCol).cast("binary").as("payload"))
      .withColumn("n_bytes", length(col("payload")).cast("long"))
      .withColumn("magic_hex", lower(hex(substring(col("payload"), 1, 4))))
      .withColumn("media_type",
        when(col("magic_hex").startsWith("89504e47"), "image/png")
          .when(col("magic_hex").startsWith("ffd8ff"), "image/jpeg")
          .when(col("magic_hex").startsWith("52494646"), "audio/wav")
          .otherwise("application/octet-stream"))
      .select(assetSchema.fieldNames.map(col).toIndexedSeq: _*)

  /** Frame sampling over a (character-addressed) payload: split into
    * `frameChars`-sized frames, keep every `every`-th, fingerprint the
    * sampled content. The video/audio frame-sample shape — pure codegen'd
    * expressions (sequence/filter/transform), no UDF, no shuffle; swap the
    * substring for a byte-range decode call and the plumbing is unchanged.
    * Output: id, n_frames, n_sampled, sample_md5. */
  def frameSample(df: DataFrame, idCol: String, payloadCol: String,
                  frameChars: Int, every: Int): DataFrame = {
    val nFrames = ceil(length(col(payloadCol)) / lit(frameChars.toDouble)).cast("long")
    df
      .withColumn("n_frames", nFrames)
      .withColumn("__frames",
        when(col("n_frames") === 0, array().cast("array<string>"))
          .otherwise(expr(
            s"""transform(
               |  filter(sequence(0, n_frames - 1), i -> i % $every = 0),
               |  i -> substring($payloadCol, CAST(i * $frameChars + 1 AS INT), $frameChars))"""
              .stripMargin)))
      .select(col(idCol),
        col("n_frames"),
        size(col("__frames")).cast("long").as("n_sampled"),
        md5(concat_ws("", col("__frames")).cast("binary")).as("sample_md5"))
  }

  /** STUB resize: compute the real target geometry (fit inside maxDim
    * preserving aspect ratio — the part a production resize shares) and
    * derive a deterministic stand-in payload of the scaled size, for
    * formats with no JDK codec (video frames, compressed audio) — image
    * resizes are REAL via [[resizePpm]] and decodable formats via
    * [[decodeImage]]. Schema/null handling mirror a real
    * partition-batched resize; swap the payload expression for a codec
    * call and nothing else changes. Expects (asset_id, payload, width,
    * height) columns. */
  def stubResize(assets: DataFrame, maxDim: Int): DataFrame = {
    val scale = least(
      lit(maxDim.toDouble) / greatest(col("width"), col("height")).cast("double"),
      lit(1.0))
    assets
      .withColumn("out_width", ceil(col("width") * scale).cast("int"))
      .withColumn("out_height", ceil(col("height") * scale).cast("int"))
      .withColumn("out_payload",
        when(col("payload").isNull || col("width").isNull || col("height").isNull,
          lit(null).cast("binary"))
          // deterministic stand-in: truncate proportionally to pixel ratio
          .otherwise(col("payload").substr(lit(1),
            greatest(lit(1), ceil(length(col("payload")) * scale * scale)).cast("int"))))
  }

  // ------------------------------------------------ real decode: PPM (P6)

  /** Parse a binary PPM (P6) payload: `P6` magic, whitespace/comment-
    * tolerant ASCII header (width, height, maxval=255), one whitespace,
    * then `w*h*3` RGB bytes. Pure JVM — no codec library — which is the
    * point: for this format the decode boundary is REAL, not stubbed, and
    * the mapPartitions plumbing around it is byte-identical to what a
    * JNI/codec-library decode needs for jpeg/png. */
  private[graft] def parsePpm(bytes: Array[Byte])
      : Either[String, (Int, Int, Array[Byte])] = {
    if (bytes == null || bytes.length < 2 || bytes(0) != 'P' || bytes(1) != '6')
      return Left("not a P6 ppm")
    var i = 2
    def isWs(b: Byte) = b == ' ' || b == '\n' || b == '\r' || b == '\t'
    def skipWs(): Unit = {
      while (i < bytes.length && isWs(bytes(i))) i += 1
      if (i < bytes.length && bytes(i) == '#') { // header comment to EOL
        while (i < bytes.length && bytes(i) != '\n') i += 1
        skipWs()
      }
    }
    def readInt(): Option[Int] = {
      skipWs()
      val s = i
      while (i < bytes.length && bytes(i) >= '0' && bytes(i) <= '9') i += 1
      if (i == s || i - s > 9) None else Some(new String(bytes, s, i - s).toInt)
    }
    (readInt(), readInt(), readInt()) match {
      case (Some(w), Some(h), Some(mv)) =>
        if (mv != 255) Left(s"unsupported maxval $mv")
        else if (w <= 0 || h <= 0) Left(s"bad dims ${w}x$h")
        else {
          i += 1 // exactly one whitespace byte separates header from pixels
          val need = w.toLong * h * 3
          if (bytes.length - i < need)
            Left(s"truncated: need $need pixel bytes, have ${bytes.length - i}")
          else Right((w, h, java.util.Arrays.copyOfRange(bytes, i, i + need.toInt)))
        }
      case _ => Left("bad header")
    }
  }

  /** Output schema of [[decodePpm]]: per-channel means are exact rational
    * sums (integer byte values / pixel count). */
  val imageStatsSchema: StructType = StructType(Seq(
    StructField("asset_id", LongType, nullable = false),
    StructField("width", IntegerType, nullable = true),
    StructField("height", IntegerType, nullable = true),
    StructField("mean_r", DoubleType, nullable = true),
    StructField("mean_g", DoubleType, nullable = true),
    StructField("mean_b", DoubleType, nullable = true),
    StructField("decode_error", StringType, nullable = true)))

  /** REAL image decode for PPM payloads: parse, extract dimensions and
    * per-channel pixel means. Parse failures become `decode_error` rows
    * (the per-row error-capture shape), never task failures. Same
    * partition-batched boundary as [[stubDecode]] — swapping the parser
    * for a jpeg codec changes one function, not the pipeline. */
  def decodePpm(assets: DataFrame): DataFrame = {
    val spark = assets.sparkSession
    val rows = assets.select(col("asset_id"), col("payload")).rdd.mapPartitions { it =>
      it.map { r =>
        val id = r.getLong(0)
        val payload = if (r.isNullAt(1)) null else r.getAs[Array[Byte]](1)
        if (payload == null) Row(id, null, null, null, null, null, "null payload")
        else parsePpm(payload) match {
          case Left(err) => Row(id, null, null, null, null, null, err)
          case Right((w, h, px)) =>
            var sr = 0L; var sg = 0L; var sb = 0L
            var j = 0
            while (j < px.length) {
              sr += px(j) & 0xff; sg += px(j + 1) & 0xff; sb += px(j + 2) & 0xff
              j += 3
            }
            val n = (w.toLong * h).toDouble
            Row(id, w, h, sr / n, sg / n, sb / n, null)
        }
      }
    }
    spark.createDataFrame(rows, imageStatsSchema)
  }

  /** Canonical-WAV parse: RIFF/WAVE container with a 16-byte PCM fmt
    * chunk followed by a data chunk (the 44-byte layout every WAV writer
    * emits for 16-bit PCM). Returns (channels, sample rate, 16-bit
    * samples interleaved) or the parse error. Strict by design: float
    * PCM, extensible fmt, or odd chunk layouts report errors rather
    * than misread — the per-row error-capture contract. */
  private[graft] def parseWav(bytes: Array[Byte])
      : Either[String, (Int, Int, Array[Short])] = {
    if (bytes == null || bytes.length < 44) return Left("too short for wav")
    def str(off: Int, n: Int) = new String(bytes, off, n, "US-ASCII")
    def u16(off: Int): Int =
      (bytes(off) & 0xff) | ((bytes(off + 1) & 0xff) << 8)
    def u32(off: Int): Long =
      (bytes(off) & 0xffL) | ((bytes(off + 1) & 0xffL) << 8) |
        ((bytes(off + 2) & 0xffL) << 16) | ((bytes(off + 3) & 0xffL) << 24)
    if (str(0, 4) != "RIFF" || str(8, 4) != "WAVE") return Left("not riff/wave")
    if (str(12, 4) != "fmt " || u32(16) != 16L) return Left("unsupported fmt chunk")
    val audioFormat = u16(20)
    val channels = u16(22)
    val sampleRate = u32(24).toInt
    val bitsPerSample = u16(34)
    if (audioFormat != 1) return Left(s"not pcm: format $audioFormat")
    if (bitsPerSample != 16) return Left(s"unsupported bits $bitsPerSample")
    if (channels < 1 || channels > 8) return Left(s"bad channels $channels")
    if (str(36, 4) != "data") return Left("missing data chunk")
    val dataLen = u32(40)
    if (dataLen % 2 != 0 || bytes.length - 44 < dataLen)
      return Left(s"truncated: need $dataLen data bytes, have ${bytes.length - 44}")
    val n = (dataLen / 2).toInt
    val samples = new Array[Short](n)
    var j = 0
    while (j < n) {
      samples(j) = ((bytes(44 + 2 * j) & 0xff) |
        ((bytes(44 + 2 * j + 1) & 0xff) << 8)).toShort
      j += 1
    }
    Right((channels, sampleRate, samples))
  }

  /** Output schema of [[decodeWavPcm]]: rms/zcr are 6dp-rounded; the
    * underlying sums are exact integers. */
  val audioStatsSchema: StructType = StructType(Seq(
    StructField("asset_id", LongType, nullable = false),
    StructField("channels", IntegerType, nullable = true),
    StructField("sample_rate", IntegerType, nullable = true),
    StructField("n_samples", LongType, nullable = true),
    StructField("duration_s", DoubleType, nullable = true),
    StructField("rms", DoubleType, nullable = true),
    StructField("peak", IntegerType, nullable = true),
    StructField("zero_crossing_rate", DoubleType, nullable = true),
    StructField("decode_error", StringType, nullable = true)))

  /** REAL audio decode for canonical 16-bit PCM WAV payloads: header
    * parse + per-asset loudness/activity features — RMS level, peak
    * |amplitude|, zero-crossing rate (the cheap voiced/unvoiced and
    * silence screens an audio intake runs before any model). All sums
    * are exact integer arithmetic (Σs², crossing counts); the only
    * floats are the final divisions + sqrt, 6dp-rounded. Parse failures
    * become `decode_error` rows, never task failures — the same
    * partition-batched boundary as [[decodePpm]]: swapping in a real
    * codec (mp3/flac) changes one function, not the pipeline. */
  def decodeWavPcm(assets: DataFrame): DataFrame = {
    val spark = assets.sparkSession
    val rows = assets.select(col("asset_id"), col("payload")).rdd.mapPartitions { it =>
      it.map { r =>
        val id = r.getLong(0)
        val payload = if (r.isNullAt(1)) null else r.getAs[Array[Byte]](1)
        if (payload == null)
          Row(id, null, null, null, null, null, null, null, "null payload")
        else parseWav(payload) match {
          case Left(err) =>
            Row(id, null, null, null, null, null, null, null, err)
          case Right((ch, sr, samples)) =>
            val n = samples.length
            var ssq = 0L; var peak = 0; var crossings = 0L
            var j = 0
            while (j < n) {
              val s = samples(j).toInt
              ssq += s.toLong * s
              val a = math.abs(s)
              if (a > peak) peak = a
              // per-channel crossings: sign change vs the previous frame's
              // sample on the same channel (0 counts as non-negative)
              if (j >= ch && (s < 0) != (samples(j - ch).toInt < 0))
                crossings += 1
              j += 1
            }
            def r6(x: Double) = BigDecimal(x)
              .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
            val frames = n.toLong / ch
            Row(id, ch, sr, frames,
              r6(frames.toDouble / sr),
              if (n > 0) r6(math.sqrt(ssq.toDouble / n)) else null,
              peak,
              if (n > ch) r6(crossings.toDouble / (n - ch)) else null,
              null)
        }
      }
    }
    spark.createDataFrame(rows, audioStatsSchema)
  }

  val toneEnergySchema: StructType = StructType(Seq(
    StructField("asset_id", LongType, nullable = false),
    StructField("freq_hz", DoubleType, nullable = false),
    StructField("rel_power", DoubleType, nullable = true),
    StructField("detected", BooleanType, nullable = true),
    StructField("decode_error", StringType, nullable = true)))

  /** Goertzel single-bin tone detection (Goertzel '58 — the classic
    * DTMF/beep detector: the power of ONE DFT bin in O(n) without an
    * FFT): per asset and target frequency, the Goertzel power of the
    * channel-mixed 16-bit PCM signal NORMALIZED by total signal power —
    * `rel_power` ≈ 1 means the signal IS that tone, ≈ 0 means none of
    * its energy sits there — plus a `detected` flag at the caller's
    * threshold. The intake screen for dial-tones, test beeps, hum
    * (50/60 Hz) and other synthetic-audio markers an audio corpus wants
    * flagged before training.
    *
    * Same real-parse/mapPartitions boundary as [[decodeWavPcm]] (per-row
    * error capture, no codec libs — canonical PCM WAV only). Output is
    * assets × |freqs| rows; the frequency list is a small literal.
    * Spec-verified on synthesized sine/square/silence fixtures
    * (pure-JVM trig — no SQL oracle, like the other real decoders). */
  def toneEnergies(assets: DataFrame, freqsHz: Seq[Double],
                   detectAt: Double = 0.5): DataFrame = {
    require(freqsHz.nonEmpty && freqsHz.forall(_ > 0),
      s"freqsHz must be non-empty positive: $freqsHz")
    require(detectAt > 0 && detectAt <= 1, s"detectAt in (0,1]: $detectAt")
    val spark = assets.sparkSession
    val freqs = freqsHz.toArray
    val rows = assets.select(col("asset_id"), col("payload")).rdd
      .mapPartitions { it =>
        it.flatMap { r =>
          val id = r.getLong(0)
          val payload = if (r.isNullAt(1)) null else r.getAs[Array[Byte]](1)
          val parsed =
            if (payload == null) Left("null payload") else parseWav(payload)
          parsed match {
            case Left(err) =>
              freqs.map(f => Row(id, f, null, null, err))
            case Right((ch, sr, samples)) =>
              // mix to mono: per-frame channel mean
              val nFrames = samples.length / ch
              val mono = new Array[Double](nFrames)
              var i = 0
              while (i < nFrames) {
                var s = 0.0
                var c = 0
                while (c < ch) { s += samples(i * ch + c); c += 1 }
                mono(i) = s / ch
                i += 1
              }
              var msq = 0.0
              i = 0
              while (i < nFrames) { msq += mono(i) * mono(i); i += 1 }
              msq /= math.max(nFrames, 1)
              freqs.map { f =>
                if (nFrames == 0 || msq == 0.0)
                  Row(id, f, null, null, "empty or silent signal")
                else if (f >= sr / 2.0)
                  Row(id, f, null, null,
                    s"freq $f above Nyquist (sr=$sr)")
                else {
                  val w = 2.0 * math.Pi * f / sr
                  val coeff = 2.0 * math.cos(w)
                  var s1 = 0.0; var s2 = 0.0
                  var j = 0
                  while (j < nFrames) {
                    val s0 = mono(j) + coeff * s1 - s2
                    s2 = s1; s1 = s0
                    j += 1
                  }
                  val power = s1 * s1 + s2 * s2 - coeff * s1 * s2
                  // pure tone of amplitude A at f: power ≈ (A·N/2)²,
                  // total msq = A²/2 → rel = power/(N/2)²/(2·msq) ≈ 1
                  val rel = power / ((nFrames / 2.0) * (nFrames / 2.0)) /
                    (2.0 * msq)
                  val relClamped = math.min(rel, 1.0)
                  Row(id, f,
                    BigDecimal(relClamped)
                      .setScale(6, BigDecimal.RoundingMode.HALF_UP)
                      .toDouble,
                    java.lang.Boolean.valueOf(relClamped >= detectAt),
                    null)
                }
              }
          }
        }
      }
    spark.createDataFrame(rows, toneEnergySchema)
  }

  /** Output schema of [[resizePpm]]. */
  val resizedSchema: StructType = StructType(Seq(
    StructField("asset_id", LongType, nullable = false),
    StructField("out_width", IntegerType, nullable = true),
    StructField("out_height", IntegerType, nullable = true),
    StructField("out_payload", BinaryType, nullable = true),
    StructField("resize_error", StringType, nullable = true)))

  /** REAL resize for PPM payloads: fit inside `maxDim` preserving aspect
    * ratio (never upscale), nearest-neighbor sampling with pure integer
    * source mapping (`srcX = x*w/outW`) so the output is bit-deterministic
    * on any JVM; emits a well-formed P6 payload. [[stubResize]] remains
    * the geometry-only stand-in for codec-library formats. */
  def resizePpm(assets: DataFrame, maxDim: Int): DataFrame = {
    require(maxDim > 0, s"maxDim must be positive: $maxDim")
    val spark = assets.sparkSession
    val rows = assets.select(col("asset_id"), col("payload")).rdd.mapPartitions { it =>
      it.map { r =>
        val id = r.getLong(0)
        val payload = if (r.isNullAt(1)) null else r.getAs[Array[Byte]](1)
        if (payload == null) Row(id, null, null, null, "null payload")
        else parsePpm(payload) match {
          case Left(err) => Row(id, null, null, null, err)
          case Right((w, h, px)) =>
            val scale = math.min(maxDim.toDouble / math.max(w, h), 1.0)
            val ow = math.max(1, math.ceil(w * scale).toInt)
            val oh = math.max(1, math.ceil(h * scale).toInt)
            val header = s"P6\n$ow $oh\n255\n".getBytes("US-ASCII")
            val out = new Array[Byte](header.length + ow * oh * 3)
            System.arraycopy(header, 0, out, 0, header.length)
            var y = 0
            while (y < oh) {
              val sy = (y.toLong * h / oh).toInt
              var x = 0
              while (x < ow) {
                val sx = (x.toLong * w / ow).toInt
                val s = (sy.toLong * w + sx).toInt * 3
                val d = header.length + (y * ow + x) * 3
                out(d) = px(s); out(d + 1) = px(s + 1); out(d + 2) = px(s + 2)
                x += 1
              }
              y += 1
            }
            Row(id, ow, oh, out, null)
        }
      }
    }
    spark.createDataFrame(rows, resizedSchema)
  }

  /** Output schema of the decode stage. */
  val decodedSchema: StructType = StructType(Seq(
    StructField("asset_id", LongType, nullable = false),
    StructField("feature", ArrayType(FloatType), nullable = true),
    StructField("decode_error", StringType, nullable = true)))

  /** STUB decode for formats whose codecs the JDK genuinely lacks
    * (MP3/AAC audio, video containers — image formats are REAL via
    * [[decodeImage]]'s `javax.imageio` path, audio WAV via
    * [[decodeWavPcm]]): a real implementation would hand each
    * partition's payload batch to a codec (that boundary is exactly
    * here — mapPartitions gives amortized per-batch setup, the Scala
    * analogue of mapInPandas batches). The stub emits a deterministic
    * 8-float vector derived from payload bytes, and a
    * decode_error column instead of failing the task (per-row error
    * capture, reference/chat.py:289-291 shape). */
  def stubDecode(assets: DataFrame): DataFrame = {
    val spark = assets.sparkSession
    val rows = assets.select(col("asset_id"), col("payload")).rdd.mapPartitions { it =>
      // per-partition setup would init the codec once here
      it.map { r =>
        val id = r.getLong(0)
        val payload = if (r.isNullAt(1)) null else r.getAs[Array[Byte]](1)
        if (payload == null)
          Row(id, null, "null payload")
        else {
          val feat = Array.tabulate(8) { i =>
            var h = 1125899906842597L
            var j = i
            while (j < payload.length) { h = 31 * h + payload(j); j += 8 }
            (h % 1000).toFloat / 1000.0f
          }
          Row(id, feat.toSeq, null)
        }
      }
    }
    spark.createDataFrame(rows, decodedSchema)
  }

  // --------------------------------------- real decode: javax.imageio

  /** Decode a payload with the JDK's registered ImageIO readers
    * (JPEG/PNG/GIF/BMP/TIFF/WBMP ship with every JDK — pure Java, no
    * native codec). Returns (lowercased format name, image) or the
    * parse error; never throws. ImageIO's disk cache is disabled so
    * executor tasks stay off local scratch. */
  private[graft] def decodeWithImageIO(bytes: Array[Byte])
      : Either[String, (String, java.awt.image.BufferedImage)] = {
    import javax.imageio.ImageIO
    if (bytes == null || bytes.length == 0) return Left("empty payload")
    ImageIO.setUseCache(false)
    val iis = ImageIO.createImageInputStream(
      new java.io.ByteArrayInputStream(bytes))
    try {
      val readers = ImageIO.getImageReaders(iis)
      if (!readers.hasNext) Left("no registered reader for payload")
      else {
        val reader = readers.next()
        try {
          reader.setInput(iis, true, true)
          val fmt = reader.getFormatName.toLowerCase(java.util.Locale.ROOT)
          Right((fmt, reader.read(0)))
        } catch {
          case e: Exception =>
            Left(s"decode failed: ${Option(e.getMessage).getOrElse(e.getClass.getSimpleName)}")
        } finally reader.dispose()
      }
    } finally iis.close()
  }

  /** Output schema of [[decodeImage]]. */
  val imageIoStatsSchema: StructType = StructType(Seq(
    StructField("asset_id", LongType, nullable = false),
    StructField("format", StringType, nullable = true),
    StructField("width", IntegerType, nullable = true),
    StructField("height", IntegerType, nullable = true),
    StructField("mean_r", DoubleType, nullable = true),
    StructField("mean_g", DoubleType, nullable = true),
    StructField("mean_b", DoubleType, nullable = true),
    StructField("decode_error", StringType, nullable = true)))

  /** REAL image decode via `javax.imageio` — JPEG, PNG, GIF, BMP, TIFF
    * and WBMP payloads (the readers every JDK registers): format name,
    * intrinsic dimensions, per-channel sRGB means. Channel sums are
    * exact integer accumulations over the decoded raster, so for a
    * LOSSLESS format (PNG/BMP) the means are exact rationals —
    * oracle-checkable bit-for-bit; for JPEG the dimensions and format
    * are exact and the means carry codec quantization. Decode failures
    * become `decode_error` rows (per-row error capture,
    * reference/chat.py:289-291 shape), never task failures. Same
    * partition-batched boundary as [[decodePpm]]. */
  def decodeImage(assets: DataFrame): DataFrame = {
    val spark = assets.sparkSession
    val rows = assets.select(col("asset_id"), col("payload")).rdd.mapPartitions { it =>
      it.map { r =>
        val id = r.getLong(0)
        val payload = if (r.isNullAt(1)) null else r.getAs[Array[Byte]](1)
        if (payload == null)
          Row(id, null, null, null, null, null, null, "null payload")
        else decodeWithImageIO(payload) match {
          case Left(err) => Row(id, null, null, null, null, null, null, err)
          case Right((fmt, img)) =>
            val w = img.getWidth
            val h = img.getHeight
            var sr = 0L; var sg = 0L; var sb = 0L
            var y = 0
            while (y < h) {
              var x = 0
              while (x < w) {
                val p = img.getRGB(x, y)
                sr += (p >> 16) & 0xff; sg += (p >> 8) & 0xff; sb += p & 0xff
                x += 1
              }
              y += 1
            }
            val n = w.toLong * h
            Row(id, fmt, w, h, sr.toDouble / n, sg.toDouble / n,
              sb.toDouble / n, null)
        }
      }
    }
    spark.createDataFrame(rows, imageIoStatsSchema)
  }

  /** Deterministic image-fixture synthesis: per id, a (8 + id%9) x
    * (8 + id%7) image whose pixel (x, y) is the closed-form
    * r = (7·id + 3x + 5y) mod 256, g = (11·id + 2x + 7y) mod 256,
    * b = (13·id + 4x + y) mod 256 — encoded through the REAL ImageIO
    * writer for `format` ("png", "jpg", "bmp", "gif"). The closed form
    * is what makes the decode oracle-checkable: a SQL engine can
    * compute the expected channel means without any codec, and for
    * lossless formats the ImageIO roundtrip must reproduce them
    * exactly. Ids must be non-negative. Output: (asset_id, payload). */
  def synthImages(df: DataFrame, idCol: String, format: String,
                  brighten: Int = 0): DataFrame = {
    import javax.imageio.ImageIO
    val spark = df.sparkSession
    val schema = StructType(Seq(
      StructField("asset_id", LongType, nullable = false),
      StructField("payload", BinaryType, nullable = true)))
    val rows = df.select(col(idCol).cast("long")).rdd.mapPartitions { it =>
      ImageIO.setUseCache(false)
      it.map { r =>
        val id = r.getLong(0)
        val w = (8 + id % 9).toInt
        val h = (8 + id % 7).toInt
        val img = new java.awt.image.BufferedImage(
          w, h, java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            // `brighten` adds a clamped offset per channel — the
            // near-duplicate fixture knob (a re-exposed copy of the
            // same image), still a closed form a SQL oracle can mirror
            def ch(v: Long): Int = math.min(255L, v % 256 + brighten).toInt
            val rr = ch(7 * id + 3 * x + 5 * y)
            val gg = ch(11 * id + 2 * x + 7 * y)
            val bb = ch(13 * id + 4 * x + y)
            img.setRGB(x, y, (rr << 16) | (gg << 8) | bb)
            x += 1
          }
          y += 1
        }
        val bos = new java.io.ByteArrayOutputStream()
        ImageIO.write(img, format, bos)
        Row(id, bos.toByteArray)
      }
    }
    spark.createDataFrame(rows, schema)
  }

  /** Shared aHash core: 8x8 nearest-neighbor downsample to integer
    * Rec.601 luma, bit (cy·8+cx) set iff the cell's luma exceeds the
    * integer 64-cell mean. `rgbAt` returns packed 0xRRGGBB. */
  private def aHash64(w: Int, h: Int, rgbAt: (Int, Int) => Int): Long = {
    val luma = new Array[Long](64)
    var cy = 0
    while (cy < 8) {
      var cx = 0
      while (cx < 8) {
        val sx = cx * w / 8
        val sy = cy * h / 8
        val p = rgbAt(sx, sy)
        luma(cy * 8 + cx) =
          (299L * ((p >> 16) & 0xff) + 587L * ((p >> 8) & 0xff) +
            114L * (p & 0xff)) / 1000L
        cx += 1
      }
      cy += 1
    }
    val mean = luma.sum / 64L // integer mean: deterministic
    var hash = 0L
    var i = 0
    while (i < 64) {
      if (luma(i) > mean) hash |= (1L << i)
      i += 1
    }
    hash
  }

  /** Perceptual average-hash for ImageIO-decodable payloads (JPEG/PNG/
    * GIF/BMP/TIFF) — the same 8x8 integer-luma fingerprint as
    * [[aHashPpm]] over the REAL `javax.imageio` decode: images
    * differing by recompression land within a few bits; compare with
    * `hammingDistance` and block like SimHash. Decode failures surface
    * per row. */
  def aHashImage(assets: DataFrame): DataFrame = {
    val spark = assets.sparkSession
    val rows = assets.select(col("asset_id"), col("payload")).rdd.mapPartitions { it =>
      it.map { r =>
        val id = r.getLong(0)
        val payload = if (r.isNullAt(1)) null else r.getAs[Array[Byte]](1)
        if (payload == null) Row(id, null, "null payload")
        else decodeWithImageIO(payload) match {
          case Left(err) => Row(id, null, err)
          case Right((_, img)) =>
            Row(id, aHash64(img.getWidth, img.getHeight,
              (x, y) => img.getRGB(x, y)), null)
        }
      }
    }
    spark.createDataFrame(rows, aHashSchema)
  }

  /** Output schema of [[aHashPpm]]. */
  val aHashSchema: StructType = StructType(Seq(
    StructField("asset_id", LongType, nullable = false),
    StructField("ahash", LongType, nullable = true),
    StructField("hash_error", StringType, nullable = true)))

  /** Perceptual average-hash (aHash) for PPM/P6 payloads — the image
    * near-dup fingerprint: decode, 8×8 nearest-neighbor downsample to
    * luma (integer Rec.601 weights — bit-deterministic on any JVM), set
    * bit (y·8+x) iff that cell's luma exceeds the 64-cell mean. Images
    * differing by recompression/small edits land within a few bits;
    * compare with the native `hammingDistance` codegen expression and
    * block exactly like SimHash (pigeonhole bands) for corpus-scale
    * pairing — the multimodal leg of the dedup stack.
    *
    * Scale shape: per-partition batch transform, one output row per
    * asset; decode errors surface per row, never fail the job. */
  def aHashPpm(assets: DataFrame): DataFrame = {
    val spark = assets.sparkSession
    val rows = assets.select(col("asset_id"), col("payload")).rdd.mapPartitions { it =>
      it.map { r =>
        val id = r.getLong(0)
        val payload = if (r.isNullAt(1)) null else r.getAs[Array[Byte]](1)
        if (payload == null) Row(id, null, "null payload")
        else parsePpm(payload) match {
          case Left(err) => Row(id, null, err)
          case Right((w, h, px)) =>
            Row(id, aHash64(w, h, (x, y) => {
              val o = (y * w + x) * 3
              ((px(o) & 0xff) << 16) | ((px(o + 1) & 0xff) << 8) |
                (px(o + 2) & 0xff)
            }), null)
        }
      }
    }
    spark.createDataFrame(rows, aHashSchema)
  }
}
